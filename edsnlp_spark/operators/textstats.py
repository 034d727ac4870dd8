"""Corpus statistics operators: collocations (PMI) and per-document
TF-IDF keywords.

The exploratory-analysis tier next to retrieval and quality scoring: a
corpus team asks "which word pairs are glued together" (collocation
mining, tokenizer merge candidates, multi-word-expression detection)
and "what is each document about" (cheap keyword labels for corpus
browsing and cluster naming) long before anything trains.

Scale posture shared by both: every aggregate is vocabulary-bounded
(Heaps' law — token/bigram TYPE counts grow ~sqrt of corpus size), all
counts are exact integers so DuckDB oracles reproduce scores
bit-for-bit, rankings order by ROUNDED floats with lexical tie-breaks
(the repo's engine-portable ranking convention), and top-k plans as
TakeOrderedAndProject (per-partition heaps, never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..core import caching

# single-pass bigram lookahead (CLAUDE.md r2: one regexp pass beats
# nested array HOFs ~4.6x in hot per-row code)
_BIGRAM_RX = r"(?=([^ ]+ [^ ]+))[^ ]+ "


@caching.leased
def bigram_pmi_topk(docs: DataFrame, k: int = 20, min_count: int = 5,
                    text_col: str = "text") -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks 1990) -> (left, right, pair_count, pmi), pmi = ln(p(x,y) /
    (p(x) p(y))) with p from exact corpus counts, rounded to 4dp,
    ordered by (pmi desc, left, right) and limited to k.

    ``min_count`` drops rare pairs (classic PMI failure mode: a
    hapax pair of two hapax words maximizes PMI).

    Scale shape: ONE token explode and ONE bigram explode feed two
    vocabulary-bounded groupBys (partial map-side aggregation); the
    unigram table joins the pair table twice by single-token key —
    both sides are TYPE tables, never corpus-sized, and deliberately
    NOT broadcast-hinted (the r4 lesson: a web-corpus vocabulary is
    millions of types; AQE picks broadcast when it actually fits);
    only the 1-row totals are broadcast.  No window, no per-doc state.

    Tokenization model: SINGLE-space-separated tokens.  The bigram
    lookahead regexp skips empty tokens while the total
    (n_bi = n_uni - n_docs) and the token-slice oracle count them, so
    on runs of spaces pair counts and PMI would silently diverge —
    non-conforming text fails LOUDLY instead (ADVICE r8 #1, same
    Catalyst-prune-proof in-data-path guard as
    selection.hashed_ngram_features).
    """
    if k < 1:
        raise ValueError("bigram_pmi_topk requires k >= 1")
    if min_count < 1:
        raise ValueError("bigram_pmi_topk requires min_count >= 1")
    conforming = F.col(text_col).isNull() \
        | ~F.col(text_col).rlike("^ |  | $")
    guarded = F.when(conforming, F.col(text_col)).otherwise(
        F.raise_error(F.concat(
            F.lit("bigram_pmi_topk: text is not single-space tokenized "
                  "(pair counts would diverge from the token-slice "
                  "bigram total); text starts with: "),
            F.substring(F.col(text_col), 1, 40))))
    toks = F.split(guarded, " ", -1)
    uni = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("c1"))
    )
    uni = caching.persist(uni)
    pairs = (
        docs.select(F.explode(F.regexp_extract_all(
            guarded, F.lit(_BIGRAM_RX), F.lit(1))).alias("bg"))
        .groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= min_count)
        .select(
            F.split("bg", " ", -1)[0].alias("left"),
            F.split("bg", " ", -1)[1].alias("right"),
            "c12",
        )
    )
    n_uni = uni.agg(F.sum("c1").alias("n_uni"))
    # p(x,y) needs the UNFILTERED bigram total (a post-min_count sum
    # would bias it); it follows exactly from the unigram totals —
    # every doc contributes len(tokens) - 1 bigrams, so
    # n_bigrams = n_tokens - n_docs.  Both engines derive it from the
    # same exact integers.
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    totals = n_uni.crossJoin(F.broadcast(n_docs)).select(
        F.col("n_uni"),
        (F.col("n_uni") - F.col("n_docs")).alias("n_bi"))
    scored = (
        pairs
        .join(uni.select(F.col("t").alias("left"),
                         F.col("c1").alias("cl")), "left")
        .join(uni.select(F.col("t").alias("right"),
                         F.col("c1").alias("cr")), "right")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("c12") / F.col("n_bi"))
        / ((F.col("cl") / F.col("n_uni"))
           * (F.col("cr") / F.col("n_uni"))))
    return (
        scored.select("left", "right",
                      F.col("c12").cast("bigint").alias("pair_count"),
                      F.round(pmi, 4).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "left", "right")
        .limit(k)
    )


def length_profile(docs: DataFrame, source_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Per-source document-length histogram on log2 buckets ->
    (source, len_bucket, n_docs, total_tokens) — the corpus-profiling
    rollup behind every "what does this source look like" dashboard
    (length distributions drive packing budgets, chunk sizes, and
    truncation-loss estimates).

    len_bucket = floor(log2(n_tokens)) computed with the
    power-of-two-CORRECTED floor (the sketches.py recipe): a bare
    floor(log2(x)) differs between engines by 1 ulp of libm exactly at
    powers of two, which would shift histogram boundaries.  One
    projection + one groupBy bounded by sources x ~40 buckets.
    """
    n = F.size(F.split(F.col(text_col), " ", -1))
    l0 = F.floor(F.log2(F.greatest(n, F.lit(1)))).cast("long")
    p2 = F.pow(F.lit(2.0), l0.cast("double"))
    bucket = (F.when(p2 > n, l0 - 1)
              .when(p2 * 2 <= n, l0 + 1)
              .otherwise(l0))
    return (
        docs.select(F.col(source_col), n.alias("__n"),
                    bucket.alias("len_bucket"))
        .groupBy(source_col, "len_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("__n").cast("bigint").alias("total_tokens"))
    )


@caching.leased
def tfidf_keywords(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Top-k keywords per document by TF-IDF -> (id_col, term, rank,
    score): tf = in-doc occurrences, idf = ln(N / df), score rounded
    to 4dp, ranked per doc by (score desc, term).

    Scale shape: the (doc, term, tf) postings plane is built by ONE
    explode + groupBy and persisted (it feeds both the df aggregate
    and the scoring join — same sharing as BM25's plane); df is a
    vocabulary-bounded groupBy over it, joined back WITHOUT a
    broadcast hint (a web-corpus vocabulary is millions of types; AQE
    decides); the per-doc top-k window
    partitions by document, so each partition holds one doc's DISTINCT
    terms (bounded by doc length — never a corpus-wide sort).
    """
    if k < 1:
        raise ValueError("tfidf_keywords requires k >= 1")
    toks = F.split(F.col(text_col), " ", -1)
    tf = (
        docs.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = caching.persist(tf)
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col), "term",
            F.round(F.col("tf")
                    * F.log(F.col("n_docs") / F.col("df")), 4)
            .alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(id_col), "term", F.col("rank").cast("bigint"),
                "score")
    )
