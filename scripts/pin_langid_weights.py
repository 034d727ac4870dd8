"""Pin the trained language-ID classifier weights (VERDICT r9 brief #5).

Trains the multiclass averaged perceptron (hashed char-trigram bucket
features) on the planted bilingual corpus at sf0.01 — label 0 ("en") =
original document text, label 1 ("xx") = the consonant-swapped variant
translate(text, 'etaoins', 'zqxjkvw') — on the training split
(doc_id % 5 != 4), quantizes onto the 2^16 integer grid, and snapshots
the weights to edsnlp_spark/resources/langid_weights.json.  Training is
fully deterministic (explicit shards, sorted order), so the snapshot is
a constant of (data, config); the langid_trained oracle replays the
integer scorer from it.  Rerun on config or testdata changes:

    python scripts/pin_langid_weights.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    from pyspark.sql import functions as F

    import edsnlp_spark as es
    from edsnlp_spark.operators.trainable import (
        quantize_linear, train_doc_classifier)

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = es.get_spark(app_name="pin-langid-weights")
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1,
               F.translate("text", "etaoins", "zqxjkvw"))
         .otherwise(F.col("text")).alias("text"),
        (F.col("doc_id") % 2).cast("int").alias("label"))
    train = corpus.filter(F.col("doc_id") % 5 != 4)
    W, b, hist = train_doc_classifier(train, n_classes=2, n_buckets=64,
                                      ngram=3, n_epochs=5, n_shards=8,
                                      average=True)
    Wq, bq = quantize_linear(W, b, n_buckets=64)
    out = {
        "comment": "integer-quantized trained language-ID weights "
                   "pinned at sf0.01 (scripts/pin_langid_weights.py); "
                   "classes ['en', 'xx'], xx = translate(text, "
                   "'etaoins', 'zqxjkvw'), train split doc_id % 5 != 4",
        "sf_dir": sf_dir,
        "config": {"n_buckets": 64, "ngram": 3, "n_epochs": 5,
                   "n_shards": 8, "average": True, "scale_bits": 16},
        "classes": ["en", "xx"],
        "history": hist,
        "W": Wq,
        "b": bq,
    }
    path = os.path.join(_REPO, "edsnlp_spark", "resources",
                        "langid_weights.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}; history={hist}")
    spark.stop()


if __name__ == "__main__":
    main()
