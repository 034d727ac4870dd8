"""Structured Streaming surface (SURVEY.md §2.12).

The reference is a pull-based streaming engine over bounded data with
stateless per-document operators — which maps exactly onto
``readStream`` -> the same Transformers -> ``writeStream`` with
``foreachBatch``.  No watermarks needed (every pipe is a per-row map);
windowed/stateful extensions would use the same notes plane with
event-time columns.

``annotate_stream`` runs an arbitrary Pipeline + entity extractor over a
streaming notes source; ``stream_notes_json`` builds the canonical
file-source stream.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..core import caching
from ..operators.curation import curation_finalize, curation_quality_gate
from ..schemas import NOTES_SCHEMA


def stream_notes_json(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 10) -> DataFrame:
    """File-source stream of OMOP note records (jsonl)."""
    return (
        spark.readStream.schema(NOTES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def _leased_batches(handle):
    """``handle`` as a foreachBatch body whose persisted planes are
    leased to the micro-batch and released once its writes are done.
    Micro-batches run one after another, so by then no lazy plan still
    reads them, whatever fresh engines the batch built (a per-engine
    lease would never end for an engine that is not called again)."""

    def run(batch: DataFrame, batch_id: int) -> None:
        try:
            with caching.lease(run):
                handle(batch, batch_id)
        finally:
            caching.release(run)
    return run


def annotate_stream(stream_df: DataFrame,
                    batch_fn: Callable[[DataFrame], DataFrame],
                    out_path: str, checkpoint: str,
                    available_now: bool = True) -> StreamingQuery:
    """Run ``batch_fn`` (notes df -> entities df) on each micro-batch and
    append the result to parquet.  ``foreachBatch`` lets the batch plan
    reuse every operator unchanged — including joins against static
    dims (terms tables), which streaming-native plans would restrict.
    """

    def handle(batch: DataFrame, batch_id: int) -> None:
        batch_fn(batch).write.mode("append").parquet(out_path)

    writer = (
        stream_df.writeStream.foreachBatch(_leased_batches(handle))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(docs: DataFrame, text_col: str = "text",
                    ts_col: str = "ts",
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


def curation_stream(stream_docs: DataFrame, out_path: str, checkpoint: str,
                    watermark: str = "10 minutes",
                    available_now: bool = True) -> StreamingQuery:
    """The curation pipeline (quality gate -> exact dedup -> PII
    redaction + split assignment) running NATIVELY under Structured
    Streaming (VERDICT r6 #7) — not via foreachBatch: the per-row
    stages are the same ``curation_quality_gate`` / ``curation_finalize``
    projections (operators/curation.py) the batch
    :func:`~edsnlp_spark.queries.textops.corpus_curation` uses, the
    dedup stage is ``dropDuplicatesWithinWatermark`` on the content
    hash (checkpointed state, bounded by throughput x watermark
    horizon), and the sink is the exactly-once parquet file sink, so a
    restarted query resumes BOTH the source offsets and the dedup state.

    ``stream_docs`` must carry (doc_id, text, ts) — ts is the
    event-time column bounding dedup state.  Semantics vs batch: the
    batch dedup keeps the MIN doc_id per content hash, streaming keeps
    the FIRST-ARRIVED copy — identical whenever arrival order is id
    order (the parity test pins this).  Packing is deliberately absent:
    pack ids depend on a corpus-global order, a batch compaction job
    over the curated stream output.

    Span-granular dedup (the batch
    :func:`~edsnlp_spark.queries.textops.corpus_curation_strip`
    variant) is ALSO deliberately absent here: Lee et al. span removal
    elects a keeper per duplicated window hash as min (doc, pos) over
    the WHOLE corpus, so a streaming version would have to hold every
    window hash ever seen (with its first occurrence) as unbounded
    cross-document state, and a late duplicate could retroactively
    change an already-emitted document's text.  The production shape
    is doc-level first-arrival dedup in the stream + span removal as a
    periodic batch compaction over the accumulated output (where
    ``cross_duplicated_windows``' persistable hash index makes the
    increments cheap).
    """
    kept = curation_quality_gate(stream_docs)
    deduped = streaming_dedup(kept, watermark=watermark)
    out = curation_finalize(deduped).select(
        "doc_id", "split",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "text_redacted",
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curation_stream_strip(stream_docs: DataFrame, out_path: str,
                          checkpoint: str, index_path: str,
                          n: int = 13,
                          available_now: bool = True) -> StreamingQuery:
    """Span-granular streaming curation (VERDICT r8 #7): quality gate
    -> INCREMENTAL Lee et al. span removal against a persistent
    window-hash index -> PII redaction + split assignment, via
    ``foreachBatch``.  Each micro-batch semi-joins the index
    accumulated from PRIOR batches (``strip_spans_incremental``:
    corpus-hit windows lose every batch occurrence, within-batch
    duplicates keep min (doc, pos) — together, first-arrival keeper
    election over corpus ∪ batch), then appends its OWN pre-strip
    window hashes as the next increment.  This is the real ingest-path
    shape: state is the config-bounded (hash, count) index — the
    artifact :func:`~edsnlp_spark.operators.dedup.cross_duplicated_windows`
    documents — not per-document text.

    Durability & the exactly-once caveat: ``foreachBatch`` re-executes
    a failed batch on restart (at-least-once), so BOTH sinks write to
    a ``batch=<id>`` partition directory with mode("overwrite") —
    replays overwrite their own partition and the pipeline is
    effectively-once at rest.  The index read filters
    ``batch < current batch_id``, so a replayed batch never self-hits
    the half-written index part of its failed attempt.  Two caveats
    remain: (1) a reader scanning ``out_path`` DURING a replay can
    observe the partition mid-overwrite (transactional sinks — Delta
    et al. — close this; the plain parquet sink cannot); (2) unlike
    :func:`curation_stream`'s watermarked state, the index grows with
    corpus VOCABULARY of 13-token windows — unbounded by design, the
    Lee et al. trade (it is the dedup index a batch pipeline would
    persist anyway; compact it offline if hash skew accumulates).
    """
    from ..operators.dedup import strip_spans_incremental
    from ..operators.dedup import _window_hash_rows
    from pyspark.errors import AnalysisException

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        kept = curation_quality_gate(
            batch.select("doc_id", "text")).select("doc_id", "text")
        try:
            ref = (spark.read.parquet(index_path)
                   .filter(F.col("batch") < F.lit(batch_id)))
        except AnalysisException:
            ref = None  # cold start: no index yet
        stripped = strip_spans_incremental(kept, ref, n=n)
        n_tok = F.when(F.col("text_clean") == "", F.lit(0)).otherwise(
            F.size(F.split("text_clean", " ", -1)))
        out = curation_finalize(
            stripped.select("doc_id",
                            F.col("text_clean").alias("text"),
                            n_tok.alias("n_tokens"), "n_removed"),
            extra_cols=("n_removed",),
        ).select("doc_id", "split",
                 F.col("n_tokens").cast("bigint").alias("n_tokens"),
                 F.col("n_removed").cast("bigint").alias("n_removed"),
                 "text_redacted")
        out.write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}")
        # the batch's own PRE-strip windows become the next
        # increment (first-arrival: later batches defer to these)
        (_window_hash_rows(kept, n, "doc_id", "text")
         .groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
         .write.mode("overwrite")
         .parquet(f"{index_path}/batch={batch_id}"))

    writer = (
        stream_docs.writeStream.foreachBatch(_leased_batches(handle))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fuzzy_dedup_stream(stream_docs: DataFrame, out_path: str,
                       checkpoint: str, index_path: str,
                       n: int = 3, num_hashes: int = 12, bands: int = 6,
                       available_now: bool = True) -> StreamingQuery:
    """Streaming incremental MinHash-LSH dedup (VERDICT r9 #7) — the
    FUZZY counterpart of :func:`curation_stream_strip`'s exact tier:
    each micro-batch probes the persistent
    :func:`~edsnlp_spark.operators.dedup.minhash_band_index`
    accumulated from PRIOR batches, flags docs that near-duplicate the
    corpus (>= 1 shared LSH band) OR a smaller-id doc within the same
    batch (first-arrival election, matching the batch tier's min-id
    keeper), then appends its OWN grouped band keys as the next index
    increment.

    Output per batch doc: (doc_id, n_bands_hit, ref_example_id,
    within_keeper_id, flagged).  State is the config-bounded grouped
    band-key index — <= bands rows per corpus doc, two longs + a short
    string each, NOT document text; the same durability recipe as the
    exact tier (idempotent ``batch=<id>`` partition overwrites on both
    sinks, the index read filters ``batch < batch_id`` so replays
    never self-hit their failed attempt's half-written part).
    """
    from pyspark.errors import AnalysisException

    from ..operators.dedup import (
        _minhash_banded, cross_minhash_candidates, minhash_band_index)

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        docs = batch.select("doc_id", "text")
        try:
            idx = (spark.read.parquet(index_path)
                   .filter(F.col("batch") < F.lit(batch_id))
                   .groupBy("bk")
                   .agg(F.sum("n_docs").alias("n_docs"),
                        F.min("min_id").alias("min_id")))
        except AnalysisException:
            idx = None  # cold start: no index yet
        # persisted: the batch's banded signature plane feeds FOUR
        # evaluations per micro-batch (within-batch election
        # groupBy + join-back, the corpus probe inside
        # cross_minhash_candidates, and the index increment inside
        # minhash_band_index — the latter two rebuild the SAME
        # canonical plan from the same ``docs``, so the cache
        # manager substitutes this plane for them); unpersisted,
        # the shingle + signature fold ran per reference (r14,
        # guide §2.3 — the dedup_resolution_stream sibling already
        # did this).  The batch's lease frees it after the writes.
        banded = caching.persist(
            _minhash_banded(docs, "doc_id", "text",
                            n, num_hashes, bands))
        # within-batch first-arrival: a doc is a dup of the batch's
        # smallest id sharing any band
        within = (
            banded.groupBy("bk")
            .agg(F.min("doc_id").alias("wmin"),
                 F.count(F.lit(1)).alias("wcnt"))
            .filter(F.col("wcnt") >= 2)
            .join(banded, "bk")
            .filter(F.col("doc_id") > F.col("wmin"))
            .groupBy("doc_id")
            .agg(F.min("wmin").alias("within_keeper_id"))
        )
        if idx is not None:
            hits = cross_minhash_candidates(
                docs, idx, n=n, num_hashes=num_hashes, bands=bands
            ).select("doc_id", "n_bands_hit", "ref_example_id")
        else:
            hits = docs.select(
                "doc_id",
                F.lit(None).cast("bigint").alias("n_bands_hit"),
                F.lit(None).cast("bigint").alias("ref_example_id"),
            ).limit(0)
        out = (
            docs.select("doc_id")
            .join(hits, "doc_id", "left")
            .join(within, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bands_hit", F.lit(0)).cast("bigint")
                .alias("n_bands_hit"),
                "ref_example_id", "within_keeper_id",
                (F.col("n_bands_hit").isNotNull()
                 | F.col("within_keeper_id").isNotNull())
                .alias("flagged"),
            )
        )
        out.write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}")
        # the batch's grouped band keys become the next increment
        minhash_band_index(docs, n=n, num_hashes=num_hashes,
                           bands=bands) \
            .write.mode("overwrite") \
            .parquet(f"{index_path}/batch={batch_id}")

    writer = (
        stream_docs.writeStream.foreachBatch(_leased_batches(handle))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_resolution_stream(stream_docs: DataFrame, index_path: str,
                            checkpoint: str, n: int = 3,
                            num_hashes: int = 12, bands: int = 6,
                            max_iter: int = 25,
                            available_now: bool = True) -> StreamingQuery:
    """END-TO-END streaming dedup resolution (VERDICT r11 #9):
    :func:`fuzzy_dedup_stream`'s candidate probe composed with
    :func:`components_stream`'s label maintenance in ONE foreachBatch
    pipeline.  Per micro-batch of documents:

    1. band the batch (one shuffle-free signature projection) and
       generate candidate EDGES — batch x accumulated postings plus
       batch self-collisions (pair granularity via the r12 postings
       layout, so the union over batches is EXACTLY the
       band-collision pair universe over everything ingested);
    2. contract the edges against the folded label view
       (``components_index_view`` with the ``before_batch`` replay
       filter) and persist the component DELTA;
    3. append the batch's own postings as the next index increment;
    4. persist the batch docs' QUALITY rows (doc_id, nd =
       distinct-token count) so the keeper policy is electable from
       the accumulated state alone (r13, VERDICT r12 Next #7: text
       streams by — later batches cannot re-read it), making
       :func:`~edsnlp_spark.operators.dedup.dedup_keeper_view` serve
       the SAME keepers as the batch election.

    Layout under ``index_path``: ``postings/batch=<id>``,
    ``delta/batch=<id>`` and ``quality/batch=<id>`` (plus ``labels/``
    if a compaction seeded a base).  All writes are idempotent
    ``batch=<id>`` overwrites and every read filters
    ``batch < batch_id``, so a restarted batch converges to the same
    table (test_dedup_resolution_stream_with_restart pins view ==
    full recompute AND stream keepers == batch keepers across a
    restart)."""
    from pyspark.errors import AnalysisException

    from ..operators.dedup import (_minhash_banded, components_index_view,
                                   incremental_components_delta)

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        docs = batch.select("doc_id", "text")
        banded = caching.persist(
            _minhash_banded(docs, "doc_id", "text", n, num_hashes,
                            bands).withColumnRenamed("doc_id", "id"))
        edges = (
            banded.join(banded.select(F.col("id").alias("__r"),
                                      "bk"), "bk")
            .filter(F.col("id") < F.col("__r"))
            .select(F.col("id").alias("id_a"),
                    F.col("__r").alias("id_b")))
        try:
            ref = (spark.read.parquet(f"{index_path}/postings")
                   .filter(F.col("batch") < F.lit(batch_id)))
            cross = (
                banded.join(ref.select(F.col("id").alias("__r"),
                                       "bk"), "bk")
                .select(F.least("id", "__r").alias("id_a"),
                        F.greatest("id", "__r").alias("id_b"))
                .filter(F.col("id_a") != F.col("id_b")))
            edges = edges.unionByName(cross)
        except AnalysisException:
            pass                       # cold start: no postings yet
        labels = components_index_view(spark, index_path,
                                       before_batch=batch_id)
        delta = incremental_components_delta(
            labels, edges.distinct(), max_iter=max_iter)
        delta.write.mode("overwrite").parquet(
            f"{index_path}/delta/batch={batch_id}")
        banded.write.mode("overwrite").parquet(
            f"{index_path}/postings/batch={batch_id}")
        docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " ", -1)))
            .cast("long").alias("nd"),
        ).write.mode("overwrite").parquet(
            f"{index_path}/quality/batch={batch_id}")

    writer = (
        stream_docs.writeStream.foreachBatch(_leased_batches(handle))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def components_stream(edge_stream: DataFrame, index_path: str,
                      checkpoint: str,
                      id_a: str = "id_a", id_b: str = "id_b",
                      max_iter: int = 25,
                      available_now: bool = True) -> StreamingQuery:
    """Streaming INCREMENTAL connected components (VERDICT r10 #6) —
    the resolution-step counterpart of :func:`fuzzy_dedup_stream`'s
    candidate index: each micro-batch of near-dup EDGES contracts the
    current label view (existing endpoints map to their component,
    new nodes to themselves), solves min-label propagation on that
    batch-reach-bounded subgraph, and persists only the DELTA — the
    (id, comp) rows the batch changes or creates — as an idempotent
    ``delta/batch=<id>`` partition.  The current labels are
    :func:`~edsnlp_spark.operators.dedup.components_index_view` (base
    labels + newest delta per id); the view's ``before_batch=batch_id``
    filter keeps replays from reading their own failed attempt's
    half-written delta, and re-applying the same edge batch is a
    label-level no-op, so restarts converge to the same table
    (test_components_stream_with_restart).

    Per-batch write volume = the batch's reach, never the corpus; a
    periodic :func:`components_index_build` over the folded view
    compacts the delta chain.
    """
    from ..operators.dedup import (components_index_view,
                                   incremental_components_delta)

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        labels = components_index_view(spark, index_path,
                                       before_batch=batch_id)
        delta = incremental_components_delta(
            labels, batch, id_a=id_a, id_b=id_b, max_iter=max_iter)
        delta.write.mode("overwrite").parquet(
            f"{index_path}/delta/batch={batch_id}")

    writer = (
        edge_stream.writeStream.foreachBatch(_leased_batches(handle))
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
