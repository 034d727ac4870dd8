"""Keyword retrieval over a document corpus: BM25 scoring + top-k.

The classic lexical-search capability a training-data platform needs
next to embedding ANN (corpus exploration, eval-set mining, targeted
decontamination).  Okapi BM25 (Robertson & Walker, SIGIR'94; the
Lucene idf variant ln(1 + (N - df + 0.5)/(df + 0.5)) which keeps idf
positive).

Scale shape: for a LITERAL query-term list (queries are tiny), per-doc
term frequencies are pure projections (`F.size(F.filter(tokens, ...))`
— no explode, no shuffle), the corpus statistics (N, total length, per
-term document frequencies) are ONE global aggregate row broadcast
back, and the final top-k is `orderBy(...).limit(k)` which Spark plans
as TakeOrderedAndProject (per-partition heaps + driver merge of k rows
— never a global sort of the corpus).

All arithmetic derives from exact integer counts (tf, df, dl, N, total
length), so a DuckDB oracle writing the SAME expression reproduces the
scores bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..core import caching


def _tokens(text: Column) -> Column:
    # literal single-space split — the corpus tokenization model shared
    # by every textops oracle (ADVICE r6 #3: a \s+ split diverges from
    # the DuckDB oracle's string_split(text, ' ') on runs of
    # whitespace/tabs/newlines, changing dl and token boundaries).
    return F.split(F.lower(text), " ", -1)


@caching.leased
def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    -> (id_col, score) with ``score`` rounded to 4dp, ordered by
    (score desc, id) and limited to k — deterministic, oracle-friendly.

    The compact per-doc stats plane (id, dl, one tf per term — all
    numeric) is persisted because it is read twice (corpus-statistics
    aggregate + scoring): re-deriving it would re-scan the full TEXT
    column, which at corpus scale costs far more than caching a few
    numeric columns.  Leased like every persisted plane: the next
    top-level call releases the previous call's plane.
    """
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    toks = _tokens(F.col(text_col))
    tf_cols = [
        F.size(F.filter(toks, _eq(t))).cast("double").alias(f"tf{i}")
        for i, t in enumerate(terms)
    ]
    base = caching.persist(docs.select(
        F.col(id_col),
        F.size(toks).cast("double").alias("dl"),
        *tf_cols,
    ))
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
          for i in range(len(terms))],
    )
    # one row of corpus statistics joined back (broadcast by size)
    scored = base.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5)))
        norm = (F.lit(k1)
                * (F.lit(1.0 - b)
                   + F.lit(b) * F.col("dl") * F.col("n_docs")
                   / F.col("sum_dl")))
        s_i = idf * (F.col(f"tf{i}") * F.lit(k1 + 1.0)
                     / (F.col(f"tf{i}") + norm))
        score = s_i if score is None else score + s_i
    return (
        scored.select(F.col(id_col), score.alias("__s"))
        .orderBy(F.col("__s").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("__s", 4).alias("score"))
    )


def _eq(term: str):
    # closure factory (CLAUDE.md: a 2-arg lambda default-arg capture
    # would receive the array INDEX as the second argument)
    def pred(x: Column) -> Column:
        return x == F.lit(term)
    return pred


@caching.leased
def bm25_topk_batch(docs: DataFrame, queries: DataFrame, k: int = 10,
                    k1: float = 1.2, b: float = 0.75,
                    id_col: str = "doc_id", text_col: str = "text",
                    query_id_col: str = "query_id",
                    terms_col: str = "terms") -> DataFrame:
    """Top-k documents per query for a DATAFRAME of bag-of-terms
    queries under BM25 — the eval-mining shape (thousands of queries
    scored in one pass) that the single-literal-query :func:`bm25_topk`
    cannot express.

    -> (query_id_col, id_col, rank, score): ``rank`` is 1-based within
    the query ordered by (score desc, id); ``score`` rounded to 4dp.
    Only documents containing at least one query term are scored (an
    inverted index never visits non-matching docs); for k larger than a
    query's match count this returns fewer than k rows per query, where
    :func:`bm25_topk` would pad with score-0 docs.

    Scale shape: ONE tokenize+explode pass over the corpus, filtered by
    a broadcast semi-join against the DISTINCT query-term set BEFORE
    any aggregation — the (doc, term, tf) shuffle carries only rows
    whose term some query asked for, not the corpus vocabulary
    (measured 3.5x at sf0.1: 3.38s -> ~1s warm).  Corpus statistics
    (N, total length) are one shuffle-free aggregate over a dl
    projection; per-term document frequencies come from the already-
    filtered postings.  The query-term table enriched with df is
    broadcast into the postings join (queries are small by definition;
    the corpus side never re-shuffles), and the per-query top-k is a
    window over only the MATCHED (query, doc) pairs — never a global
    sort of the corpus.  A stopword-like query term keeps its full
    postings list; that cost is inherent to BM25 (drop ultra-high-df
    terms upstream if queries contain them).
    """
    if k < 1:
        raise ValueError("bm25_topk_batch requires k >= 1")
    toks = _tokens(F.col(text_col))
    uterms = queries.select(
        F.explode(F.col(terms_col)).alias("term")).distinct()
    postings = (
        docs.select(
            F.col(id_col),
            F.size(toks).cast("double").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .join(F.broadcast(uterms), "term")
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # read 2x (df, scoring join) — tiny after the term filter
    postings = caching.persist(postings)
    # Corpus stats WITHOUT a second tokenize pass (r15, guide §2.3):
    # size(split(lower(t), ' ', -1)) == regexp_count(t, ' ') + 1 exactly
    # (split -1 keeps empties so size = separators + 1, and no Unicode
    # lowercase mapping produces or removes U+0020 — pinned by
    # tests/test_properties.py::test_bm25_dl_regexp_count_equivalence).
    # Values are integer-valued doubles, so the sum is exact regardless
    # of aggregation order.  The former F.sum(F.size(toks)) re-ran the
    # full split+lower+array-alloc over the corpus text just for this
    # 1-row aggregate.
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum((F.regexp_count(F.col(text_col), F.lit(" ")) + F.lit(1))
              .cast("double")).alias("sum_dl"),
    )
    term_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    qterms = (
        queries.select(F.col(query_id_col),
                       F.explode(F.col(terms_col)).alias("term"))
        .distinct()
        .join(term_df, "term")          # unmatched terms contribute 0
        .crossJoin(F.broadcast(stats))  # 1 row of corpus statistics
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = (F.lit(k1) * (F.lit(1.0 - b)
                         + F.lit(b) * F.col("dl") * F.col("n_docs")
                         / F.col("sum_dl")))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0) / (F.col("tf") + norm))
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, id_col)
        .agg(F.sum(contrib).alias("__s"))
    )
    from pyspark.sql import Window
    # rank by the ROUNDED aggregate (ADVICE r7 #4): __s is a groupBy
    # float sum whose partial-merge order is nondeterministic, so
    # near-tied docs could rank-flip between runs (and vs the oracle);
    # ordering by round(.,4) with the id tie-break makes the ranking
    # engine-portable — the repo's diversity/ccnet convention.  The
    # single-query path needs no rounding: its score is a fixed
    # left-to-right per-row expression, not a merged aggregate.
    w = Window.partitionBy(query_id_col).orderBy(
        F.round("__s", 4).desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(query_id_col), F.col(id_col),
                F.col("rank").cast("bigint"),
                F.round("__s", 4).alias("score"))
    )


def ranking_metrics(ranked: DataFrame, qrels: DataFrame, k: int = 10,
                    query_id_col: str = "query_id",
                    id_col: str = "doc_id",
                    rank_col: str = "rank") -> DataFrame:
    """Standard retrieval-eval metrics per query over a ranking table
    and a relevance-judgment table -> (query_id, n_rel, recall_at_k,
    mrr, ndcg), all 4dp:

    - recall@k = |relevant in top-k| / |relevant|
    - MRR      = 1 / rank of the first relevant hit (0 if none)
    - nDCG@k   = DCG / IDCG with binary gains 1/log2(rank+1)
      (Jarvelin & Kekalainen 2002); IDCG assumes the min(k, n_rel)
      ideal prefix.

    Every aggregate folds a SORTED rank array (sort_array + sequential
    fold), so the floating sums are order-deterministic and reproduce
    in the DuckDB oracle.  Scale shape: one equi-join of the top-k
    table with qrels, one groupBy(query) — both bounded by queries * k,
    never corpus-sized.
    """
    if k < 1:
        raise ValueError("ranking_metrics requires k >= 1")
    ln2 = F.lit(0.6931471805599453)  # ln(2), same literal in the oracle

    topk = ranked.filter(F.col(rank_col) <= k).select(
        F.col(query_id_col).alias("qid"), F.col(id_col).alias("did"),
        F.col(rank_col).alias("r"))
    rel = qrels.select(F.col(query_id_col).alias("qid"),
                       F.col(id_col).alias("did"))
    nrel = rel.groupBy("qid").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = (
        topk.join(rel, ["qid", "did"])
        .groupBy("qid")
        .agg(F.sort_array(F.collect_list("r")).alias("rs"))
    )

    def dcg_fold(acc, r):
        return acc + ln2 / F.log(r.cast("double") + F.lit(1.0))

    dcg = F.aggregate(F.col("rs"), F.lit(0.0), dcg_fold)
    ideal_n = F.least(F.lit(k), F.col("n_rel"))
    idcg = F.aggregate(F.sequence(F.lit(1), ideal_n), F.lit(0.0),
                       dcg_fold)
    out = (
        nrel.join(hits, "qid", "left")
        .select(
            "qid", "n_rel",
            F.coalesce(F.size("rs"), F.lit(0)).alias("n_hits"),
            F.coalesce(dcg, F.lit(0.0)).alias("dcg"),
            idcg.alias("idcg"),
            F.element_at("rs", 1).alias("first_rel"),
        )
    )
    return out.select(
        F.col("qid").alias(query_id_col),
        F.col("n_rel").cast("bigint"),
        F.round(F.col("n_hits") / F.col("n_rel"), 4).alias("recall_at_k"),
        F.round(F.when(F.col("first_rel").isNull(), F.lit(0.0))
                .otherwise(F.lit(1.0) / F.col("first_rel")), 4)
        .alias("mrr"),
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg"),
    )


def rrf_fuse(tiers: list[DataFrame], k: int = 10, c: int = 60,
             query_id_col: str = "query_id", id_col: str = "doc_id",
             rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of N per-query rankings -> (query_id_col, id_col, n_tiers, rank,
    rrf_score): rrf(d) = sum over tiers of 1 / (c + rank_tier(d)),
    re-ranked per query by (rounded score desc, id).  The standard
    production hybrid-retrieval shape: fuse a lexical tier (BM25) with
    a dense tier without score calibration — RRF only reads RANK
    POSITIONS, so wildly different score scales (BM25 sums vs vector
    distances) fuse cleanly.

    Input contract: each tier is a per-query top-k table (e.g.
    :func:`bm25_topk_batch`) whose
    ``rank_col`` holds the tier's OWN 1-based rank; rank gaps (e.g.
    from a post-ranking self-exclusion filter) are honored as-is.

    Scale shape: the inputs are already bounded at queries x k rows per
    tier, so fusion is one unionByName + one groupBy + one per-query
    window over <= Q * sum(k_tier) rows — retrieval cost lives entirely
    in the tiers.  Determinism: each (query, doc) sums at most n_tiers
    reciprocal terms (addition of 2 doubles is order-exact) and the
    final ordering uses the ROUNDED score with the id tie-break (the
    repo's engine-portable ranking convention).
    """
    if not tiers:
        raise ValueError("rrf_fuse requires at least one ranked tier")
    if k < 1 or c < 0:
        raise ValueError("rrf_fuse requires k >= 1 and c >= 0")
    parts = [
        t.select(F.col(query_id_col).alias("__q"),
                 F.col(id_col).alias("__d"),
                 (F.lit(1.0) / (F.lit(float(c))
                                + F.col(rank_col).cast("double")))
                 .alias("__rr"))
        for t in tiers
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("__q", "__d").agg(
        F.sum("__rr").alias("__s"),
        F.count(F.lit(1)).alias("n_tiers"))
    w = Window.partitionBy("__q").orderBy(
        F.round("__s", 6).desc(), F.col("__d"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__q").alias(query_id_col),
                F.col("__d").alias(id_col),
                F.col("n_tiers").cast("bigint").alias("n_tiers"),
                F.col("rank").cast("bigint").alias("rank"),
                F.round("__s", 6).alias("rrf_score"))
    )


def phrase_search_batch(docs: DataFrame, phrases: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        query_id_col: str = "query_id",
                        phrase_col: str = "phrase") -> DataFrame:
    """Exact multi-token phrase search for a DATAFRAME of phrase
    queries via positional-postings intersection — the positional
    complement to :func:`bm25_topk_batch` (reference analog: the
    phrase mode of EDSPhraseMatcher, edsnlp/matchers/phrase.py, recast
    as corpus-scale IR).

    -> (query_id_col, id_col, n_matches, first_pos): one row per
    (query, doc) with at least one occurrence; ``n_matches`` counts
    distinct start positions, ``first_pos`` is the earliest 0-based
    TOKEN offset under the corpus single-space tokenization model.

    Plan: the classic positional-index intersection.  Each phrase
    explodes to (query, j, term) rows; corpus postings (doc, pos,
    term) come from ONE posexplode pass immediately semi-joined
    against the broadcast DISTINCT phrase-term set (the proven
    bm25_topk_batch shape — the (doc, pos, term) shuffle carries only
    positions whose term some phrase asked for, never the corpus
    vocabulary); then one equi-join on term maps every hit to its
    implied anchor = pos - j, and a (query, doc, anchor) countDistinct
    over j equal to the phrase length certifies every token of the
    phrase at consecutive positions.  The phrase-term table is
    broadcast (queries are small by definition).  A stopword-only
    phrase keeps its full postings cost — inherent to positional
    search.
    """
    pt = F.split(F.lower(F.col(phrase_col)), " ", -1)
    qterms = phrases.select(
        F.col(query_id_col),
        F.size(pt).alias("m"),
        F.posexplode(pt).alias("j", "term"),
    )
    uterms = qterms.select("term").distinct()
    toks = _tokens(F.col(text_col))
    postings = (
        docs.select(F.col(id_col), F.posexplode(toks).alias("pos", "term"))
        .join(F.broadcast(uterms), "term")
    )
    anchored = (
        postings.join(F.broadcast(qterms), "term")
        .select(query_id_col, id_col, "m", "j",
                (F.col("pos") - F.col("j")).alias("anchor"))
        .filter(F.col("anchor") >= 0)
    )
    full = (
        anchored.groupBy(query_id_col, id_col, "m", "anchor")
        .agg(F.countDistinct("j").alias("cov"))
        .filter(F.col("cov") == F.col("m"))
    )
    return (
        full.groupBy(query_id_col, id_col)
        .agg(F.count(F.lit(1)).alias("n_matches"),
             F.min("anchor").alias("first_pos"))
        .select(F.col(query_id_col), F.col(id_col),
                F.col("n_matches").cast("bigint").alias("n_matches"),
                F.col("first_pos").cast("bigint").alias("first_pos"))
    )


def build_text_index(docs: DataFrame, path: str, n_buckets: int = 64,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> None:
    """OFFLINE inverted-index build: materialize the postings plane
    (bucket, term, doc_id, tf, dl) as parquet PARTITIONED BY a
    term-hash bucket, plus a 1-row metadata table (n_docs, sum_dl,
    n_buckets).  Tokenization is paid ONCE per corpus snapshot; the
    online path reads only the query terms' bucket partitions
    (partition pruning — at 100 TB the difference between an index
    read and a corpus re-tokenization).  ``dl`` is denormalized onto
    every posting so scoring never joins a doc-scale table.
    """
    if n_buckets < 1:
        raise ValueError("build_text_index requires n_buckets >= 1")
    toks = _tokens(F.col(text_col))
    postings = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.size(toks).cast("long").alias("dl"),
                    F.explode(toks).alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket",
                    F.pmod(F.xxhash64("term"), F.lit(int(n_buckets))))
    )
    postings.write.mode("overwrite").partitionBy("bucket") \
        .parquet(f"{path}/postings")
    spark = docs.sparkSession
    # regexp_count(t,' ')+1 == size(split(lower(t),' ',-1)) exactly —
    # see bm25_topk_batch: stats never pay the split+lower array alloc.
    stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.regexp_count(F.col(text_col), F.lit(" ")) + F.lit(1))
        .cast("long").alias("sum_dl"),
        F.lit(int(n_buckets)).alias("n_buckets"))
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _index_stats(spark, path: str):
    """Fold the (possibly per-batch) additive stats records into the
    one logical stats row — exactly one row by construction."""
    return (spark.read.parquet(f"{path}/meta")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("sum_dl").alias("sum_dl"),
                 F.max("n_buckets").alias("n_buckets")).first())


@caching.leased
def bm25_topk_indexed(spark, path: str, queries: DataFrame,
                      k: int = 10, k1: float = 1.2, b: float = 0.75,
                      query_id_col: str = "query_id",
                      terms_col: str = "terms") -> DataFrame:
    """Online BM25 top-k over the PERSISTED inverted index written by
    :func:`build_text_index` — bit-identical to
    :func:`bm25_topk_batch` on the same corpus (roundtrip-pinned) but
    the corpus is never re-tokenized: the query terms' hash buckets
    are computed driver-side (bounded by n_buckets) and pushed as a
    LITERAL partition filter, so the scan touches only those buckets'
    files; per-term df comes from the pruned postings themselves.
    """
    if k < 1:
        raise ValueError("bm25_topk_indexed requires k >= 1")
    # the stats records are ADDITIVE: one row for a batch-built index,
    # one row per ingest batch for a stream-built one (bounded by
    # batch count) — aggregate to the single logical stats row
    meta = _index_stats(spark, path)
    n_docs, sum_dl = float(meta["n_docs"]), float(meta["sum_dl"])
    n_buckets = int(meta["n_buckets"])
    uterms = queries.select(
        F.explode(F.col(terms_col)).alias("term")).distinct()
    # bounded by construction: <= n_buckets distinct hash buckets
    buckets = [
        r["bucket"]
        for r in uterms.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets))
            .alias("bucket")).distinct().collect()
    ]
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .join(F.broadcast(uterms), "term")
        .select("term", "doc_id", F.col("tf").cast("double").alias("tf"),
                F.col("dl").cast("double").alias("dl"))
    )
    postings = caching.persist(postings)
    term_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    qterms = (
        queries.select(F.col(query_id_col),
                       F.explode(F.col(terms_col)).alias("term"))
        .distinct()
        .join(term_df, "term")
    )
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = (F.lit(k1) * (F.lit(1.0 - b)
                         + F.lit(b) * F.col("dl") * F.lit(n_docs)
                         / F.lit(sum_dl)))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0) / (F.col("tf") + norm))
    scored = (
        postings.join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, "doc_id")
        .agg(F.sum(contrib).alias("__s"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.round("__s", 4).desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(query_id_col), F.col("doc_id"),
                F.col("rank").cast("bigint"),
                F.round("__s", 4).alias("score"))
    )


def text_index_append(new_docs: DataFrame, path: str,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> None:
    """INCREMENTAL inverted-index update — the growing-corpus
    counterpart of :func:`build_text_index`: tokenize ONLY the new batch,
    append its postings to the bucket-partitioned table, and refresh
    the 1-row stats record (n_docs / sum_dl are additive).  At 100 TB
    re-tokenizing the corpus per ingest batch is a corpus scan; this
    touches batch rows only, and searches over the appended index are
    identical to a full rebuild over the union
    (test_text_index_append_equals_rebuild).

    Caller contract: new ids must not already exist in the index
    (dedup upstream); the meta overwrite is not transactional against
    a concurrent search — same caveat as the streaming sinks.
    """
    spark = new_docs.sparkSession
    meta = _index_stats(spark, path)
    n_buckets = int(meta["n_buckets"])
    toks = _tokens(F.col(text_col))
    postings = (
        new_docs.select(F.col(id_col).alias("doc_id"),
                        F.size(toks).cast("long").alias("dl"),
                        F.explode(toks).alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("bucket",
                    F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
    )
    postings.write.mode("append").partitionBy("bucket") \
        .parquet(f"{path}/postings")
    add = new_docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.regexp_count(F.col(text_col), F.lit(" ")) + F.lit(1))
        .cast("long").alias("sum_dl")).first()
    stats = spark.createDataFrame(
        [(int(meta["n_docs"]) + int(add["n_docs"]),
          int(meta["sum_dl"]) + int(add["sum_dl"] or 0),
          n_buckets)],
        "n_docs long, sum_dl long, n_buckets long")
    stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
