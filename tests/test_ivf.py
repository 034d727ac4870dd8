"""Retrieval operators: BM25, phrase search, the persisted text index
and reciprocal-rank fusion, each against hand-computed results."""


def test_bm25_topk_hand_computed(spark):
    """r6: BM25 scores match a hand-derived model (tf saturation, idf
    from df, length normalization), ranking is (score desc, id), and
    docs with no query term score 0."""
    import math

    from edsnlp_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark spark spark other other other"),  # tf=3, dl=6
        (2, "spark other"),                          # tf=1, dl=2
        (3, "other other"),                          # tf=0, dl=2
        (4, "spark"),                                # tf=1, dl=1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["score"])
           for r in bm25_topk(docs, ["spark"], k=4).collect()]

    def score(tf, dl):
        n, df, sum_dl, k1, b = 4.0, 3.0, 11.0, 1.2, 0.75
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return round(idf * (tf * (k1 + 1.0)
                            / (tf + k1 * (1 - b + b * dl * n / sum_dl))), 4)

    want = sorted(
        [(1, score(3.0, 6.0)), (2, score(1.0, 2.0)),
         (3, 0.0), (4, score(1.0, 1.0))],
        key=lambda x: (-x[1], x[0]))
    assert got == want
    # the short doc outranks the long one at equal tf (length norm),
    # and tf=3 saturates above tf=1
    assert got[0][0] == 4 and got[1][0] == 1 and got[-1] == (3, 0.0)


def test_rrf_fuse_hand_computed(spark):
    """r9 (VERDICT r8 #6): RRF scores on fixed ranked lists match the
    Cormack et al. formula, rank gaps are honored as-is, and config
    validation raises."""
    import pytest

    from edsnlp_spark.operators.retrieval import rrf_fuse

    t1 = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 4)],   # gap rank (post-filter)
        "query_id long, doc_id long, rank long")
    t2 = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)],
        "query_id long, doc_id long, rank long")
    got = {r.doc_id: (r.n_tiers, r.rank, r.rrf_score)
           for r in rrf_fuse([t1, t2], k=10, c=60).collect()}
    want_scores = {
        10: round(1 / 61, 6),
        11: round(1 / 62 + 1 / 61, 6),
        12: round(1 / 64, 6),
        13: round(1 / 62, 6),
    }
    assert {d: s for d, (_, _, s) in got.items()} == want_scores
    assert {d: n for d, (n, _, _) in got.items()} == {10: 1, 11: 2,
                                                      12: 1, 13: 1}
    # 11 fuses two tiers -> top; then 10 (1/61) > 13 (1/62) > 12 (1/64)
    assert [d for d, (_, rk, _) in sorted(got.items(),
                                          key=lambda kv: kv[1][1])] \
        == [11, 10, 13, 12]
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="k >= 1"):
        rrf_fuse([t1], k=0)


def test_rrf_recall_beats_single_tiers_on_planted_set(spark):
    """r9 (VERDICT r8 #6): on a planted eval set where half of each
    query's relevant docs are only lexically findable (rare shared
    tokens) and half only dense-findable (unrelated text), fused
    recall@k must be >= each single tier's recall@k (here strictly:
    each tier gets 1/2, fusion gets 1.0).  The dense tier is a fixed
    ranked list: the cosine top-2 over planted 8-dim vectors, where
    each query's embedding clone 20+q ranks first and a background doc
    second.  Reuses the bm25_eval_metrics harness (ranking_metrics)."""
    from pyspark.sql import functions as F

    from edsnlp_spark.operators.retrieval import (
        bm25_topk_batch, ranking_metrics, rrf_fuse)

    rows = []
    # queries 0/1: text 'rareZ ...'
    # relevant lexical docs 10+q: share the rare token
    # relevant dense docs 20+q: unrelated text
    for q in (0, 1):
        rows.append((q, f"rare{q} query text"))
        rows.append((10 + q, f"rare{q} shared token here"))
        rows.append((20 + q, "nothing lexical in common"))
    # 30 background docs: no rare tokens
    for i in range(30):
        rows.append((100 + i, f"filler text number {i}"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    k = 2
    q_terms = corpus.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), " ", -1), 1, 1).alias("terms"))
    sparse = (
        bm25_topk_batch(corpus, q_terms, k=k)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", "rank"))
    dense = spark.createDataFrame(
        [(0, 20, 1), (0, 109, 2), (1, 21, 1), (1, 110, 2)],
        "query_id long, doc_id long, rank long")
    fused = rrf_fuse([sparse, dense], k=k, c=60)

    qrels = spark.createDataFrame(
        [(q, d) for q in (0, 1) for d in (10 + q, 20 + q)],
        "query_id long, doc_id long")

    def recall(ranked):
        rows = ranking_metrics(ranked, qrels, k=k).collect()
        return {r.query_id: r.recall_at_k for r in rows}

    r_sparse, r_dense, r_fused = (recall(t)
                                  for t in (sparse, dense, fused))
    for q in (0, 1):
        assert r_fused[q] >= max(r_sparse[q], r_dense[q])
        assert r_sparse[q] <= 0.5 and r_dense[q] <= 0.5
        assert r_fused[q] == 1.0


def test_phrase_search_batch_hand_computed(spark):
    """Positional intersection on a corpus small enough to grep by
    eye: overlapping matches, repeated-token phrase, case folding,
    and a phrase that crosses nothing (absent middle term)."""
    from edsnlp_spark.operators.retrieval import phrase_search_batch

    docs = spark.createDataFrame(
        [(1, "a b a b a"),        # "a b a" at 0 and 2 (overlap)
         (2, "x a a y"),          # "a a" at 1
         (3, "A B c"),            # case-folded "a b c" at 0
         (4, "a c b")],           # no phrase
        "doc_id long, text string")
    q = spark.createDataFrame(
        [(0, "a b a"), (1, "a a"), (2, "a b c"), (3, "a z c")],
        "query_id long, phrase string")
    got = {(r.query_id, r.doc_id): (r.n_matches, r.first_pos)
           for r in phrase_search_batch(docs, q).collect()}
    assert got == {
        (0, 1): (2, 0),
        (1, 2): (1, 1),
        (2, 3): (1, 0),
    }


def test_phrase_search_batch_single_token(spark):
    from edsnlp_spark.operators.retrieval import phrase_search_batch

    docs = spark.createDataFrame(
        [(1, "q w q"), (2, "w w")], "doc_id long, text string")
    q = spark.createDataFrame([(7, "q")], "query_id long, phrase string")
    got = {(r.query_id, r.doc_id): (r.n_matches, r.first_pos)
           for r in phrase_search_batch(docs, q).collect()}
    assert got == {(7, 1): (2, 0)}


def test_bm25_indexed_roundtrip_bit_identical(spark, tmp_path):
    """The persisted inverted index must reproduce bm25_topk_batch
    exactly — builder or reader drift breaks this pin."""
    from edsnlp_spark.operators.retrieval import (
        bm25_topk_batch, bm25_topk_indexed, build_text_index)

    docs = spark.createDataFrame(
        [(1, "spark fast spark"), (2, "slow table scan"),
         (3, "spark table"), (4, "merge sort merge sort merge")],
        "doc_id long, text string")
    path = str(tmp_path / "tix")
    build_text_index(docs, path, n_buckets=8)
    q = spark.createDataFrame(
        [(0, ["spark", "table"]), (1, ["merge"]), (2, ["absent"])],
        "query_id long, terms array<string>")
    got = sorted(
        (r.query_id, r.doc_id, r.rank, r.score)
        for r in bm25_topk_indexed(spark, path, q, k=3).collect())
    want = sorted(
        (r.query_id, r.doc_id, r.rank, r.score)
        for r in bm25_topk_batch(docs, q, k=3).collect())
    assert got == want and len(got) > 0
    # absent term -> no rows for query 2 in either path
    assert not any(row[0] == 2 for row in got)


def test_text_index_append_equals_rebuild(spark, tmp_path):
    from edsnlp_spark.operators.retrieval import (
        bm25_topk_indexed, build_text_index, text_index_append)

    base = spark.createDataFrame(
        [(1, "spark fast spark"), (2, "slow table scan")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(3, "spark table"), (4, "merge sort merge")],
        "doc_id long, text string")
    inc = str(tmp_path / "inc")
    build_text_index(base, inc, n_buckets=8)
    text_index_append(new, inc)
    full = str(tmp_path / "full")
    build_text_index(base.unionByName(new), full, n_buckets=8)
    q = spark.createDataFrame(
        [(0, ["spark", "table"]), (1, ["merge"])],
        "query_id long, terms array<string>")

    def rows(path):
        return sorted((r.query_id, r.doc_id, r.rank, r.score)
                      for r in bm25_topk_indexed(spark, path, q,
                                                 k=4).collect())

    assert rows(inc) == rows(full) and len(rows(inc)) > 0
