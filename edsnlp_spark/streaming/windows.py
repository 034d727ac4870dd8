"""Event-time windowed aggregation + custom stateful streaming ops.

The reference has no watermark/event-time constructs (SURVEY.md §2.12);
these are the Spark-native streaming operators a production deployment
of this engine would add around it (the north-star "hypertable rollup"
family).

- ``tumbling_counts`` / ``sliding_counts``: windowed groupBy with a
  watermark bounding state.
- ``session_counts``: session windows (gap-based).
- ``running_user_stats``: applyInPandasWithState — per-user running
  totals with explicit GroupState, the custom-stateful-operator surface.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def tumbling_counts(events: DataFrame, width: str = "1 hour",
                    watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "total_value")
    )


def sliding_counts(events: DataFrame, width: str = "1 hour",
                   slide: str = "15 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "user_id", "n_events")
    )


_STATE_SCHEMA = "n long, total double"
_OUT_SCHEMA = "user_id long, n long, total double"


def _update_user_stats(key: Tuple, pdfs: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame([(user_id, n, total)],
                       columns=["user_id", "n", "total"])


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful op: per-user running (count, sum) maintained in
    GroupState across micro-batches (applyInPandasWithState)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", ts_col: str = "ts",
                    watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: md5-of-text dedup keys with a bounded
    state window (``dropDuplicatesWithinWatermark``) — the streaming
    half of the dedup family.  State holds one hash per distinct text
    inside the watermark horizon, so memory is bounded by throughput x
    horizon, not corpus size (the batch dedup handles the full-corpus
    pass; this handles the ingest stream)."""
    hashed = docs.withColumn("__h", F.md5(F.col(text_col)))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )
