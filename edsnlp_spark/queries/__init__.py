"""Query registry: every declared operator's (spark_fn, oracle_sql) pair.

The entry contract (__spark_entry__.py) exposes these via queries() /
oracle_sql(); tests/test_oracle_parity.py runs each one against its
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read the testdata table ``name`` from ``sf_dir``."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def all_queries() -> dict:
    """name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None).

    A module that fails to import, or a name registered by two modules,
    raises rather than silently shrinking the registry."""
    from . import (advanced, disorders_q, domain, lexicon, miscpipes,
                   relational2, scaleops, textops)
    out: dict = {}
    for mod in (textops, scaleops, advanced, relational2, lexicon,
                disorders_q, domain, miscpipes):
        clash = out.keys() & mod.QUERIES.keys()
        if clash:
            raise ValueError(
                f"{mod.__name__} redefines registered queries: "
                f"{sorted(clash)}")
        out.update(mod.QUERIES)
    return out
