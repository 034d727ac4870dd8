"""Per-row corpus curation stages: the quality gate before dedup and the
split assignment + PII redaction after it.

The batch curation queries (queries/textops.py ``corpus_curation``,
``corpus_curation_strip``) and the streaming curation pipelines
(streaming/pipeline_stream.py ``curation_stream``,
``curation_stream_strip``) run the same stages; only the dedup stage
between them differs.  Both stages are pure projections (+ a filter),
so they stream unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .pii import PIIScrubber

# ---- deterministic split assignment (training-data pipeline) -----------

_SPLIT_MULT = 2654435761  # Knuth multiplicative hash constant
_SPLIT_MOD = 4294967296   # 2^32


def _knuth32(col):
    """``(doc_id * 2654435761) mod 2^32`` WITHOUT int64 overflow.

    The naive product overflows int64 for doc_id above ~3.47e9 — Spark
    (non-ANSI) wraps silently while DuckDB widens to int128, so the
    "any engine derives the SAME split" determinism claim would break
    exactly at 100 TB scale (ADVICE r3).  Splitting the 32-bit residue
    into 16-bit halves keeps every intermediate < 2^49:
    ``a*b mod 2^32 == ((a_hi*b mod 2^16)*2^16 + a_lo*b) mod 2^32``.
    Identical to the plain product whenever it does not overflow, so
    existing small-id hashes are unchanged."""
    a = F.pmod(col, F.lit(_SPLIT_MOD))
    hi = F.shiftright(a, 16) * F.lit(_SPLIT_MULT) % F.lit(65536)
    lo = (a % F.lit(65536)) * F.lit(_SPLIT_MULT)
    return (hi * F.lit(65536) + lo) % F.lit(_SPLIT_MOD)


def curation_quality_gate(docs):
    """Per-row curation stage 1 (pure projection + filter — streams
    unchanged): Gopher-ish quality gate, length + lexical diversity.
    The EXACT same stage runs in the batch curation queries
    (queries/textops.py corpus_curation, corpus_curation_strip) and the
    streaming curation pipelines (streaming/pipeline_stream.py
    curation_stream, curation_stream_strip)."""
    toks = F.split("text", " ")
    return docs.select(
        "doc_id", "text", F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("__dr"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    ).filter((F.col("n_tokens") >= 30) & (F.col("__dr") >= 0.3)) \
     .drop("__dr")


def curation_finalize(kept, extra_cols=()):
    """Per-row curation stage 3 (pure projection — streams unchanged):
    deterministic split assignment + PII redaction.  Shared by
    corpus_curation (batch), corpus_curation_strip (batch,
    span-granular dedup) and curation_stream (streaming); the
    dedup stage BETWEEN gate and finalize is the only part whose
    mechanism differs (batch: min-doc_id per content hash OR Lee et al.
    span removal; streaming: first-arrival
    dropDuplicatesWithinWatermark).  ``extra_cols`` pass through
    untouched (e.g. the strip variant's n_removed — carrying it here
    keeps the upstream plan referenced ONCE instead of re-executing its
    subtree for a metadata join).

    Emits ``n_redactions`` alongside ``text_redacted`` so a consumer
    whose final projection is metadata-only still EXECUTES the PII
    scan (ADVICE r8 #3: with text_redacted alone, Catalyst pruned the
    scrubber out of both curation queries' plans and bench timings)."""
    scrub = PIIScrubber(text_col="text")
    u = _knuth32(F.col("doc_id"))
    split = (
        F.when(u < F.lit(int(0.95 * _SPLIT_MOD)), F.lit("train"))
        .when(u < F.lit(int(0.975 * _SPLIT_MOD)), F.lit("val"))
        .otherwise(F.lit("test")))
    return scrub.transform(
        kept.select("doc_id", "text", "n_tokens", split.alias("split"),
                    scrub.match_count(F.col("text"))
                    .cast("bigint").alias("n_redactions"),
                    *extra_cols))
