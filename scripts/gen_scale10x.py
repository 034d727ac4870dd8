"""Generate a 10x-scale replica of the sf0.1 tables used by the heavy
benchmark queries (VERDICT r3 next-round #3: prove sf0.1 -> ~sf1 scale
curves).

We may not write to /root/testdata, so the scaled tables live in the
repo at .scale10x/ (gitignored): each source table is unioned 10 times
with the integer key shifted by i * 1e9 so keys stay unique and the
key-derived text branches keep their distribution.  Written with 32
output files so scan parallelism comes from the layout, as it would on
a real corpus.

Usage: python scripts/gen_scale10x.py [src_sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from edsnlp_spark.session import get_spark  # noqa: E402

SHIFT = 1_000_000_000
COPIES = 10
# Every table a registry query reads, with the key to shift per copy.
TABLES = {
    "orders": "o_orderkey",
    "documents": "doc_id",
    "lineitem": "l_orderkey",
}


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale10x")
    from edsnlp_spark.queries import _t
    spark = get_spark(app_name="gen-scale10x")
    os.makedirs(out, exist_ok=True)
    for table, key in TABLES.items():
        df = _t(spark, src, table)
        scaled = None
        for i in range(COPIES):
            part = df.withColumn(key, F.col(key) + F.lit(i * SHIFT))
            scaled = part if scaled is None else scaled.unionByName(part)
        path = f"{out}/{table}.parquet"
        scaled.repartition(32).write.mode("overwrite").parquet(path)
        print(f"{table}: {spark.read.parquet(path).count()} rows -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
