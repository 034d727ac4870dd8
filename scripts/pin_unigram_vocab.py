"""Pin the trained unigram-LM tokenizer vocabulary.

Trains the SentencePiece-style unigram tokenizer
(operators/unigram.py: substring seeding + hard-EM Viterbi rounds,
integer-quantized log-prob scores) on the documents corpus at sf0.01
and snapshots the vocabulary to
edsnlp_spark/resources/unigram_vocab.json.  Training is fully
deterministic (exact integer E-step counts, sorted driver-side
M-step), so the snapshot is a constant of (data, config); the
unigram_tokenizer oracle replays the integer encode dp from it —
the query RETRAINS per run, so any training-pipeline drift breaks the
driver hash.  Rerun on config or testdata changes:

    python scripts/pin_unigram_vocab.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

CONFIG = {"vocab_size": 300, "seed_size": 800, "max_piece_len": 6,
          "iterations": 2, "scale": 4096}


def main() -> None:
    import edsnlp_spark as es
    from edsnlp_spark.operators.unigram import unigram_train

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = es.get_spark(app_name="pin-unigram-vocab")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).repartition(
        spark.sparkContext.defaultParallelism)
    vocab, unk = unigram_train(docs, **CONFIG)
    vocab2, unk2 = unigram_train(docs, **CONFIG)
    assert vocab == vocab2 and unk == unk2, "training is not bit-stable"
    out = {
        "comment": "unigram-LM tokenizer vocabulary pinned at sf0.01 "
                   "(scripts/pin_unigram_vocab.py); scores are "
                   "round(log(c/T) * scale) ints; unk = min - scale",
        "sf_dir": sf_dir,
        "config": CONFIG,
        "unk": unk,
        "vocab": vocab,
    }
    path = os.path.join(_REPO, "edsnlp_spark", "resources",
                        "unigram_vocab.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {path}; {len(vocab)} pieces, unk={unk}")
    spark.stop()


if __name__ == "__main__":
    main()
