"""Pin the WordPiece lifecycle vocabulary (r11).

Training is deterministic (ordered bounded collects, exact integer
counts, single IEEE division per score), so the learned vocabulary is
a constant of (sf0.01 pair-word corpus, config).  Trains twice,
asserts bit-identical piece lists, snapshots to
edsnlp_spark/resources/wordpiece_vocab.json — the lifecycle oracle
replays the greedy encode with this vocabulary (the bpe/unigram pin
pattern).

Usage: python scripts/pin_wordpiece_vocab.py
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import edsnlp_spark as es  # noqa: E402

SF = "/root/testdata/sf0.01"


def main():
    spark = es.get_spark(master="local[8]")
    from edsnlp_spark.operators.wordpiece import wordpiece_train
    from edsnlp_spark.queries import _t
    from edsnlp_spark.queries.textops import (_WP_BATCH, _WP_MERGES,
                                              _bpe_pair_corpus)

    runs = []
    for _ in range(2):
        d = _t(spark, SF, "documents").repartition(
            spark.sparkContext.defaultParallelism)
        corpus = _bpe_pair_corpus(d)
        runs.append(wordpiece_train(corpus, n_merges=_WP_MERGES,
                                    batch=_WP_BATCH))
    assert runs[0] == runs[1], "wordpiece training not deterministic"
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "edsnlp_spark", "resources",
        "wordpiece_vocab.json")
    with open(path, "w") as f:
        json.dump({"vocab": runs[0], "unk": "[UNK]"}, f)
    print(f"det-verified, {len(runs[0])} pieces; wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
