"""Structured Streaming tests: file-source micro-batches with
availableNow triggers; results checked against batch equivalents."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def write_events_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def run_to_memory(df, name, mode="update"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(60)
    return q


def test_streaming_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedup: repeated texts inside the
    watermark horizon are emitted once; distinct texts all pass."""
    from edsnlp_spark.streaming.pipeline_stream import streaming_dedup
    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": 1, "ts": "2024-01-01 10:00:00", "text": "hello world"},
        {"doc_id": 2, "ts": "2024-01-01 10:01:00", "text": "hello world"},
        {"doc_id": 3, "ts": "2024-01-01 10:02:00", "text": "something else"},
        {"doc_id": 4, "ts": "2024-01-01 10:03:00", "text": "hello world"},
    ]
    write_events_jsonl(src / "a.jsonl", rows)
    docs = spark.readStream.schema(
        "doc_id long, ts timestamp, text string").json(str(src))
    q = run_to_memory(streaming_dedup(docs), "dedup_stream", mode="append")
    out = sorted(r["text"] for r in
                 spark.sql("select * from dedup_stream").collect())
    assert out == ["hello world", "something else"]


def test_streaming_pii_scrub(spark, tmp_path):
    """PIIScrubber.transform is a pure projection, so it composes with
    Structured Streaming unchanged — the scrub-on-ingest shape of a
    training-data pipeline."""
    from edsnlp_spark.operators.pii import PIIScrubber

    src = tmp_path / "pii_docs"
    src.mkdir()
    write_events_jsonl(src / "a.jsonl", [
        {"note_id": 1, "note_text": "mail a.b@x.org ok"},
        {"note_id": 2, "note_text": "tel 06 12 34 56 78"},
        {"note_id": 3, "note_text": "rien"},
    ])
    docs = spark.readStream.schema(
        "note_id long, note_text string").json(str(src))
    q = run_to_memory(PIIScrubber().transform(docs), "pii_stream",
                      mode="append")
    out = {r["note_id"]: r["note_text_redacted"] for r in
           spark.sql("select * from pii_stream").collect()}
    assert out == {1: "mail [EMAIL] ok", 2: "tel [PHONE]", 3: "rien"}


def test_streaming_decontamination(spark, tmp_path):
    """Ingest-time decontamination: a STREAM of documents joined against
    the static eval-shingle table (stream-static broadcast join) — docs
    sharing an 8-token shingle with the eval set are flagged before they
    ever land in the corpus."""
    from pyspark.sql import functions as F
    from edsnlp_spark.operators.dedup import token_shingles

    canary = "a b c d e f g h"
    eval_docs = spark.createDataFrame(
        [(100, "x y " + canary + " z")], "doc_id long, text string")
    eval_sh = eval_docs.select(
        F.explode(token_shingles(F.col("text"), 8)).alias("sh")).distinct()

    src = tmp_path / "stream_docs"
    src.mkdir()
    write_events_jsonl(src / "a.jsonl", [
        {"doc_id": 1, "text": "clean words only here totally fine ok yes"},
        {"doc_id": 2, "text": "prefix " + canary + " suffix"},
    ])
    docs = spark.readStream.schema("doc_id long, text string").json(str(src))
    flagged = (
        docs.select("doc_id",
                    F.explode(token_shingles(F.col("text"), 8)).alias("sh"))
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id").count()
    )
    run_to_memory(flagged, "decon_stream", mode="complete")
    out = {r["doc_id"] for r in
           spark.sql("select * from decon_stream").collect()}
    assert out == {2}


def test_streaming_curation_parity_and_restart(spark, tmp_path):
    """r7 (VERDICT r6 #7): the curation pipeline (quality gate -> exact
    dedup -> PII + split) runs NATIVELY under Structured Streaming with
    the parquet file sink.  A restarted query (same checkpoint) resumes
    both the source offsets (no batch-1 duplicates) AND the
    dropDuplicatesWithinWatermark state (a batch-2 copy of a batch-1
    text is dropped).  The accumulated output equals the batch path
    (gate -> min-id dedup -> finalize) on the same data — arrival order
    is id order here, where first-arrival == min-id."""
    from edsnlp_spark.operators.curation import (
        curation_finalize, curation_quality_gate)
    from edsnlp_spark.streaming.pipeline_stream import curation_stream

    # >= 30 tokens, >= 0.3 distinct ratio, plus a PII hit to exercise
    # the scrub stage
    def long_text(seed):
        return " ".join(f"{seed}{i}" for i in range(28)) \
            + " mail a.b@x.org ok"
    text_a, text_b, text_c = long_text("a"), long_text("b"), long_text("c")

    src = tmp_path / "in"
    src.mkdir()
    ts = "2024-01-01 10:00:00"
    write_events_jsonl(src / "batch1.jsonl", [
        {"doc_id": 0, "ts": ts, "text": text_a},
        {"doc_id": 1, "ts": ts, "text": text_b},
        {"doc_id": 2, "ts": ts, "text": "too short to pass"},
    ])
    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def stream():
        docs = spark.readStream.schema(
            "doc_id long, ts timestamp, text string").json(str(src))
        return curation_stream(docs, out_path, ckpt)

    stream().awaitTermination(120)
    # restart: doc 10 repeats batch-1's text_a (must hit the RESTORED
    # dedup state), doc 11 is new
    write_events_jsonl(src / "batch2.jsonl", [
        {"doc_id": 10, "ts": ts, "text": text_a},
        {"doc_id": 11, "ts": ts, "text": text_c},
    ])
    stream().awaitTermination(120)

    got = sorted(
        (r["doc_id"], r["split"], r["n_tokens"], r["text_redacted"])
        for r in spark.read.parquet(out_path).collect())

    # batch path on ALL the data: gate -> min-id dedup -> finalize
    all_docs = spark.createDataFrame(
        [(0, text_a), (1, text_b), (2, "too short to pass"),
         (10, text_a), (11, text_c)], "doc_id long, text string")
    kept = curation_quality_gate(all_docs)
    first = kept.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id"))
    scrubbed = curation_finalize(kept.join(first, "doc_id"))
    want = sorted(
        (r["doc_id"], r["split"], int(r["n_tokens"]), r["text_redacted"])
        for r in scrubbed.collect())

    assert got == want
    assert [d for d, *_ in got] == [0, 1, 11]   # 2 gated, 10 deduped
    assert all("[EMAIL]" in t for *_, t in got)  # PII stage ran


def test_streaming_incremental_span_strip_with_restart(spark, tmp_path):
    """r9 (VERDICT r8 #7): curation_stream_strip semi-joins each
    micro-batch against the window-hash index accumulated from PRIOR
    batches and appends its own hashes.  Batch 2 (after a checkpoint
    RESTART) must strip a span duplicated from batch 1 (the index
    survives — it lives in parquet, not in-memory state), strip the
    non-keeper of a within-batch duplicate, and leave unique text and
    batch 1's already-emitted output untouched."""
    from edsnlp_spark.streaming.pipeline_stream import curation_stream_strip

    passage = " ".join(f"p{i}" for i in range(13))       # shared span
    passage_q = " ".join(f"q{i}" for i in range(13))     # batch-2-local
    def uniq(seed, n=25):
        return " ".join(f"{seed}{i}" for i in range(n))

    text_a = passage + " " + uniq("a")        # batch 1, owns the span
    text_b = uniq("b", 32)                    # batch 1, unique
    text_dup = uniq("c", 12) + " " + passage + " " + uniq("d", 12)
    text_e = uniq("e", 32)                    # batch 2, unique
    text_f = uniq("f") + " " + passage_q      # batch 2 keeper (doc 12)
    text_g = passage_q + " " + uniq("g")      # batch 2 non-keeper

    src = tmp_path / "in"
    src.mkdir()
    ts = "2024-01-01 10:00:00"
    write_events_jsonl(src / "batch1.jsonl", [
        {"doc_id": 0, "ts": ts, "text": text_a},
        {"doc_id": 1, "ts": ts, "text": text_b},
    ])
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    index_path = str(tmp_path / "seen_windows")

    def stream():
        docs = spark.readStream.schema(
            "doc_id long, ts timestamp, text string").json(str(src))
        return curation_stream_strip(docs, out_path, ckpt, index_path)

    stream().awaitTermination(120)
    first = {r["doc_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert first[0]["n_removed"] == 0 and "p0" in first[0]["text_redacted"]

    # restart with batch 2: cross-batch dup (10), unique (11),
    # within-batch dup pair (12 keeper, 13 stripped)
    write_events_jsonl(src / "batch2.jsonl", [
        {"doc_id": 10, "ts": ts, "text": text_dup},
        {"doc_id": 11, "ts": ts, "text": text_e},
        {"doc_id": 12, "ts": ts, "text": text_f},
        {"doc_id": 13, "ts": ts, "text": text_g},
    ])
    stream().awaitTermination(120)

    got = {r["doc_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(got) == {0, 1, 10, 11, 12, 13}
    # batch 1 rows unchanged (no reprocessing on restart)
    assert got[0]["n_removed"] == 0 and "p0" in got[0]["text_redacted"]
    assert got[1]["n_removed"] == 0
    # cross-batch duplicate span stripped via the RESTORED index
    assert got[10]["n_removed"] == 13
    assert "p0" not in got[10]["text_redacted"]
    assert "c0" in got[10]["text_redacted"]      # unique remainder kept
    assert got[10]["n_tokens"] == 24             # c0..c11 + d0..d11
    # within-batch pair: keeper (12) intact, non-keeper (13) stripped
    assert got[12]["n_removed"] == 0 and "q0" in got[12]["text_redacted"]
    assert got[13]["n_removed"] == 13
    assert "q0" not in got[13]["text_redacted"]
    assert got[11]["n_removed"] == 0
    # the index accumulated one partition per batch
    idx = spark.read.parquet(index_path)
    assert set(r["batch"] for r in idx.select("batch").distinct()
               .collect()) == {0, 1}


def test_streaming_fuzzy_dedup_with_restart(spark, tmp_path):
    """r10 (VERDICT r9 #7): fuzzy_dedup_stream probes each micro-batch
    against the MinHash band index accumulated from PRIOR batches and
    appends its own grouped band keys.  Batch 2 (after a checkpoint
    RESTART) must flag a clone of a batch-1 doc via the RESTORED
    parquet index (n_bands_hit = all 6 bands, ref_example_id = the
    batch-1 keeper), flag the non-keeper of a within-batch pair
    (within_keeper_id = the smaller id), and leave unique docs and
    batch 1's already-emitted output untouched."""
    from edsnlp_spark.streaming.pipeline_stream import fuzzy_dedup_stream

    def uniq(seed, n=25):
        return " ".join(f"{seed}{i}" for i in range(n))

    text_x = uniq("x")
    text_z = uniq("z")
    src = tmp_path / "in"
    src.mkdir()
    ts = "2024-01-01 10:00:00"
    write_events_jsonl(src / "batch1.jsonl", [
        {"doc_id": 0, "ts": ts, "text": text_x},
        {"doc_id": 1, "ts": ts, "text": uniq("b")},
    ])
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    index_path = str(tmp_path / "band_index")

    def stream():
        docs = spark.readStream.schema(
            "doc_id long, ts timestamp, text string").json(str(src))
        return fuzzy_dedup_stream(docs, out_path, ckpt, index_path)

    stream().awaitTermination(120)
    first = {r["doc_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(first) == {0, 1}
    assert not first[0]["flagged"] and not first[1]["flagged"]

    # restart with batch 2: corpus clone (10), unique (11),
    # within-batch pair (12 keeper, 13 flagged)
    write_events_jsonl(src / "batch2.jsonl", [
        {"doc_id": 10, "ts": ts, "text": text_x},
        {"doc_id": 11, "ts": ts, "text": uniq("e")},
        {"doc_id": 12, "ts": ts, "text": text_z},
        {"doc_id": 13, "ts": ts, "text": text_z},
    ])
    stream().awaitTermination(120)

    got = {r["doc_id"]: r for r in spark.read.parquet(out_path).collect()}
    assert set(got) == {0, 1, 10, 11, 12, 13}
    # batch 1 rows unchanged (no reprocessing on restart)
    assert not got[0]["flagged"] and not got[1]["flagged"]
    # corpus clone flagged via the restored index: identical text ->
    # identical signature -> all 6 bands collide with doc 0
    assert got[10]["flagged"] and got[10]["n_bands_hit"] == 6
    assert got[10]["ref_example_id"] == 0
    assert got[10]["within_keeper_id"] is None
    # within-batch pair: keeper unflagged, non-keeper flagged
    assert not got[12]["flagged"]
    assert got[13]["flagged"] and got[13]["within_keeper_id"] == 12
    assert got[13]["n_bands_hit"] == 0  # not in the corpus index yet
    assert not got[11]["flagged"]
    # the index accumulated one partition per batch
    idx = spark.read.parquet(index_path)
    assert set(r["batch"] for r in idx.select("batch").distinct()
               .collect()) == {0, 1}


def test_components_stream_with_restart(spark, tmp_path):
    """r11 (VERDICT r10 #6): streaming incremental connected
    components — each micro-batch of near-dup edges persists only its
    DELTA against the folded label view; after a checkpoint RESTART
    the view must equal a full recompute over every edge seen, and
    batch-2 deltas must be batch-reach-bounded (no corpus rewrite)."""
    from edsnlp_spark.operators.dedup import (components_index_view,
                                              connected_components)
    from edsnlp_spark.streaming.pipeline_stream import components_stream

    src = tmp_path / "edges"
    src.mkdir()
    batch1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    write_events_jsonl(src / "b1.jsonl",
                       [{"id_a": a, "id_b": b} for a, b in batch1])
    index_path = str(tmp_path / "cidx")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        edges = spark.readStream.schema("id_a long, id_b long") \
            .json(str(src))
        return components_stream(edges, index_path, ckpt)

    stream().awaitTermination(120)
    v1 = {r.id: r.comp for r in
          components_index_view(spark, index_path).collect()}
    assert v1 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    # restart: merge (3,10) across batch-1 components + new pair (30,31)
    batch2 = [(3, 10), (30, 31)]
    write_events_jsonl(src / "b2.jsonl",
                       [{"id_a": a, "id_b": b} for a, b in batch2])
    stream().awaitTermination(120)

    got = {r.id: r.comp for r in
           components_index_view(spark, index_path).collect()}
    full = {r.id: r.comp for r in connected_components(
        spark.createDataFrame(batch1 + batch2,
                              "id_a long, id_b long")).collect()}
    assert got == full
    # batch-2 delta is reach-bounded: only the merged component's
    # relabeled rows + the new pair (never the untouched 20/21 rows)
    d2 = {r.id for r in spark.read.parquet(
        f"{index_path}/delta").filter("batch = 1").collect()}
    assert d2 == {10, 11, 30, 31}


def test_components_index_compaction_preserves_view(spark, tmp_path):
    """components_index_build over the folded view IS the delta-chain
    compaction: the compacted index serves the same labels with zero
    deltas left to fold."""
    from edsnlp_spark.operators.dedup import (components_index_build,
                                              components_index_view)
    from edsnlp_spark.streaming.pipeline_stream import components_stream

    src = tmp_path / "edges"
    src.mkdir()
    write_events_jsonl(src / "b1.jsonl",
                       [{"id_a": 1, "id_b": 2}, {"id_a": 5, "id_b": 6}])
    write_events_jsonl(src / "b2.jsonl", [{"id_a": 2, "id_b": 5}])
    index_path = str(tmp_path / "cidx")

    edges = spark.readStream.schema("id_a long, id_b long").json(str(src))
    components_stream(edges, index_path,
                      str(tmp_path / "ckpt")).awaitTermination(120)
    before = {r.id: r.comp for r in
              components_index_view(spark, index_path).collect()}
    assert before == {1: 1, 2: 1, 5: 1, 6: 1}

    compacted = str(tmp_path / "cidx2")
    components_index_build(components_index_view(spark, index_path),
                           compacted, n_buckets=8)
    after = {r.id: r.comp for r in
             components_index_view(spark, compacted).collect()}
    assert after == before


def test_dedup_resolution_stream_with_restart(spark, tmp_path):
    """r12 (VERDICT r11 #9): fuzzy candidate probing + component
    resolution composed in ONE foreachBatch pipeline — after a
    checkpoint restart the folded label view must equal a full
    recompute (CC over the band-collision pair universe of every doc
    ingested), pinning candidate -> component consistency across
    batches."""
    from edsnlp_spark.operators.dedup import (components_index_view,
                                              connected_components,
                                              minhash_lsh_pairs)
    from edsnlp_spark.streaming.pipeline_stream import (
        dedup_resolution_stream)

    dup_a = "spark streams merge tables quickly today"
    dup_b = "vectors scan slowly under heavy aggregation load"
    uniq = ["filters push down into parquet row groups",
            "windows aggregate late events with watermarks",
            "broadcast joins keep small dimensions local"]
    src = tmp_path / "docs"
    src.mkdir()
    b1 = [(1, dup_a), (2, dup_a), (10, uniq[0]), (20, dup_b),
          (21, dup_b)]
    write_events_jsonl(src / "b1.jsonl",
                       [{"doc_id": i, "text": t} for i, t in b1])
    index_path = str(tmp_path / "didx")
    ckpt = str(tmp_path / "ckpt")

    def stream():
        docs = spark.readStream.schema("doc_id long, text string") \
            .json(str(src))
        return dedup_resolution_stream(docs, index_path, ckpt)

    stream().awaitTermination(120)
    v1 = {r.id: r.comp for r in
          components_index_view(spark, index_path).collect()}
    assert v1[2] == 1 and v1[21] == 20  # within-batch clone pairs

    # RESTART with a cross-batch clone (3 ~ docs 1/2) + new uniques
    b2 = [(3, dup_a), (30, uniq[1]), (31, uniq[2])]
    write_events_jsonl(src / "b2.jsonl",
                       [{"doc_id": i, "text": t} for i, t in b2])
    stream().awaitTermination(120)

    got = {r.id: r.comp for r in
           components_index_view(spark, index_path).collect()}
    all_docs = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    full_pairs = minhash_lsh_pairs(all_docs).select("id_a", "id_b")
    full = {r.id: r.comp
            for r in connected_components(full_pairs).collect()}
    for node, comp in full.items():
        assert got.get(node, node) == comp, (node, got, full)
    # batch-2 delta is reach-bounded: doc 3 joins comp 1; the
    # untouched 20/21 component is never rewritten
    d2 = {r.id for r in spark.read.parquet(f"{index_path}/delta")
          .filter("batch = 1").collect()}
    assert 3 in d2 and not {20, 21} & d2

    # r13 (VERDICT r12 Next #7): the streaming KEEPER view must elect
    # the same keepers as the batch quality-argmax election over the
    # full ingested corpus (nd = distinct-token count, max_by(id,
    # (nd, -id)) per cluster, singletons keep themselves)
    from pyspark.sql import functions as F
    from edsnlp_spark.operators.dedup import dedup_keeper_view
    got_keep = {r.doc_id: (r.cluster, r.keeper_id, r.keep)
                for r in dedup_keeper_view(spark, index_path).collect()}
    nd = all_docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ", -1)))
        .cast("long").alias("nd"))
    lab = (nd.join(connected_components(full_pairs)
                   .withColumnRenamed("id", "doc_id"), "doc_id", "left")
           .select("doc_id", "nd",
                   F.coalesce("comp", F.col("doc_id")).alias("cluster")))
    keepers = lab.groupBy("cluster").agg(
        F.max_by("doc_id", F.struct(F.col("nd").alias("a"),
                                    (-F.col("doc_id")).alias("b")))
        .alias("keeper_id"))
    want = {r.doc_id: (r.cluster, r.keeper_id, r.doc_id == r.keeper_id)
            for r in lab.join(keepers, "cluster").collect()}
    assert got_keep == want, (got_keep, want)
