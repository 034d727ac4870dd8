"""Pin the batched-trained BPE merge table at sf0.01 (VERDICT r9 #8).

The bpe_lifecycle query trains ~128 merges with bpe_train_batched on
the derived pair-word corpus (adjacent-token pairs joined by '_' — the
raw corpus has only ~31 distinct words and exhausts at ~110 merges, the
r8 measurement) and encodes the same corpus with the Arrow path.
Training is deterministic (eager per-round checkpoints, ordered top-M
collects), so the merge table is a constant of (data, config); this
script snapshots it to edsnlp_spark/resources/bpe_merges_batched.json
for the wrapped-symbol rewrite oracle.  Rerun on config or testdata
changes:

    python scripts/pin_bpe_merges.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    import edsnlp_spark as es
    from edsnlp_spark.queries.textops import (
        _BPE_LIFECYCLE_BATCH, _BPE_LIFECYCLE_MERGES, _bpe_pair_corpus)
    from edsnlp_spark.operators.bpe import bpe_train_batched
    from edsnlp_spark.queries import _t

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = es.get_spark(app_name="pin-bpe-merges")
    d = _t(spark, sf_dir, "documents")
    corpus = _bpe_pair_corpus(d)
    merges = bpe_train_batched(corpus, n_merges=_BPE_LIFECYCLE_MERGES,
                               batch=_BPE_LIFECYCLE_BATCH)
    out = {
        "comment": "batched-trained BPE merge table pinned at sf0.01 "
                   "(scripts/pin_bpe_merges.py) over the derived "
                   "pair-word corpus; replayed by the "
                   "a0_bpe_lifecycle wrapped-symbol rewrite oracle",
        "sf_dir": sf_dir,
        "config": {"n_merges": _BPE_LIFECYCLE_MERGES,
                   "batch": _BPE_LIFECYCLE_BATCH, "ngram_corpus": "pair"},
        "n_learned": len(merges),
        "merges": [[left, right] for left, right in merges],
    }
    path = os.path.join(_REPO, "edsnlp_spark", "resources",
                        "bpe_merges_batched.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}; learned {len(merges)} merges")
    spark.stop()


if __name__ == "__main__":
    main()
