"""Query contract for the Spark engine.

entry(spark)    — flagship query (qualifier engine) on sf0.001.
queries()       — every implemented operator from SURVEY.md §2 as
                  (spark, sf_dir) -> DataFrame callables.
oracle_sql()    — matching ANSI SQL for DuckDB, keyed like queries();
                  tests/test_oracle_parity.py checks each pair.

Both are views of edsnlp_spark.queries.all_queries(); implementations
live in edsnlp_spark/queries/, operators in edsnlp_spark/operators/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from edsnlp_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full qualifier pipeline (tokenize -> sentence segment ->
    phrase match -> boundary sessionization -> negation) on sf0.001."""
    from edsnlp_spark.queries.textops import negation_tokens

    return negation_tokens(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in all_queries().items() if sql}
