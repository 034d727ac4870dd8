"""Data selection via importance resampling (DSIR; Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The published recipe for picking pretraining data that LOOKS LIKE a
target distribution: fit two bag-of-hashed-ngrams unigram models — one
on a (small) target sample, one on the raw pool — weight every raw
document by its log likelihood ratio, and resample with the Gumbel
top-k trick.  This is the data-SELECTION tier of the pipeline, next to
the quality filters (absolute "is it good") and dedup ("is it novel"):
DSIR answers "is it like my target".

Scale shape:
- feature extraction is one projection + explode per doc (unigrams +
  bigrams hashed into ``b`` buckets with the same md5 hashing the dedup
  family uses, so a DuckDB oracle reproduces bit-for-bit);
- both language models are ONE groupBy("bkt") each — at most ``b``
  rows survive (config-bounded), with partial map-side aggregation;
- the log-ratio table (<= b rows) is broadcast into the per-doc
  feature join; per-doc weights are one groupBy(doc);
- Gumbel noise is derived from md5(doc_id) (deterministic — no RNG on
  executors, reproducible across retries and in the oracle);
- the top-k selection is ``orderBy(...).limit(k)`` which Spark plans
  as TakeOrderedAndProject (per-partition heaps, never a global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..core import caching

_TWO60 = float(1 << 60)


def _bucket(col: Column, b: int) -> Column:
    """Hashed-ngram bucket in [0, b): md5-based so the oracle agrees."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") \
        % F.lit(b)


def hashed_ngram_features(docs: DataFrame, b: int = 4096,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(id_col, bkt) — one row per unigram and bigram OCCURRENCE
    (counts matter for the LM, so no distinct), hashed into ``b``
    buckets.  Bigrams reuse the single-pass lookahead regexp from the
    dedup family (4.6x faster than HOF shingling, CLAUDE.md r2).

    Tokenization model: SINGLE-space-separated tokens (the corpus
    convention shared by every textops oracle).  On runs of spaces the
    bigram lookahead regexp skips empty tokens while a token-slice
    model (the DuckDB oracles) includes them, so the feature streams
    would silently diverge — non-conforming text fails LOUDLY instead
    (ADVICE r7 #3; the guard feeds the extraction so Catalyst cannot
    prune it, same pattern as dedup._window_hash_rows)."""
    guarded = F.when(
        ~F.col(text_col).rlike("^ |  | $"), F.col(text_col)
    ).otherwise(F.raise_error(F.concat(
        F.lit("hashed_ngram_features: text is not single-space "
              "tokenized (unigram/bigram streams would diverge from "
              f"the oracle model) for {id_col}="),
        F.col(id_col).cast("string"))))
    rx2 = r"(?=([^ ]+ [^ ]+))[^ ]+ "
    uni = docs.select(F.col(id_col),
                      F.explode(F.split(guarded, " ", -1)).alias("f"))
    bi = docs.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(
            guarded, F.lit(rx2), F.lit(1))).alias("f"),
    )
    return uni.unionByName(bi).select(
        F.col(id_col), _bucket(F.col("f"), b).alias("bkt"))


def _ratio_from_counts(tf: DataFrame, rf: DataFrame, b: int) -> DataFrame:
    """(bkt, lr): add-1-smoothed log p_target(bkt) - log p_raw(bkt)
    from the two bucket-count tables.  Totals are 1-row aggregates
    cross-joined back; the result has at most ``b`` rows — bounded by
    configuration, never by corpus size."""
    joined = tf.join(rf, "bkt", "full").select(
        "bkt",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    totals = joined.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    lr = (F.log((F.col("ct") + 1.0) / (F.col("tt") + F.lit(float(b))))
          - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.lit(float(b)))))
    return joined.crossJoin(F.broadcast(totals)).select("bkt", lr.alias("lr"))


def dsir_log_ratio_table(raw: DataFrame, target: DataFrame,
                         b: int = 4096, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(bkt, lr): both hashed-ngram LMs as one groupBy each over the
    exploded features, combined by :func:`_ratio_from_counts`."""
    tf = hashed_ngram_features(target, b, id_col, text_col) \
        .groupBy("bkt").agg(F.count(F.lit(1)).alias("ct"))
    rf = hashed_ngram_features(raw, b, id_col, text_col) \
        .groupBy("bkt").agg(F.count(F.lit(1)).alias("cr"))
    return _ratio_from_counts(tf, rf, b)


@caching.leased
def dsir_weights(raw: DataFrame, target: DataFrame, b: int = 4096,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id_col, logw) for every raw doc: sum over its hashed-ngram
    occurrences of the smoothed log likelihood ratio (target vs raw).

    The raw corpus is featurized ONCE: the per-doc bucket counts plane
    (doc, bkt, n — three ints) is persisted and feeds BOTH the raw LM
    (one more groupBy over it) and the scoring join; re-deriving it
    would re-scan the full text column twice (measured ~1.4x whole-
    query).  The ratio table (<= b rows) is broadcast; the per-doc sum
    is one groupBy(doc) with partial aggregation."""
    per_doc = caching.persist(
        hashed_ngram_features(raw, b, id_col, text_col)
        .groupBy(id_col, "bkt").agg(F.count(F.lit(1)).alias("n")))
    rf = per_doc.groupBy("bkt").agg(F.sum("n").alias("cr"))
    tf = hashed_ngram_features(target, b, id_col, text_col) \
        .groupBy("bkt").agg(F.count(F.lit(1)).alias("ct"))
    ratio = _ratio_from_counts(tf, rf, b)
    return (
        per_doc.join(F.broadcast(ratio), "bkt")
        .groupBy(id_col)
        .agg(F.sum(F.col("n") * F.col("lr")).alias("logw"))
    )


def gumbel_key(id_col: Column) -> Column:
    """Deterministic Gumbel(0,1) noise from md5(doc_id): u = (h60 +
    0.5) / 2^60 in (0,1), g = -ln(-ln(u)).  No executor RNG — stable
    under task retries and reproducible in the DuckDB oracle."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10) \
        .cast("double")
    u = (h + F.lit(0.5)) / F.lit(_TWO60)
    return -F.log(-F.log(u))


def dsir_sample_topk(raw: DataFrame, target: DataFrame, k: int = 200,
                     b: int = 4096, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Importance-resample ``k`` raw docs toward the target
    distribution: Gumbel top-k over logw (equivalent to sampling
    without replacement proportional to the importance weights) ->
    (id_col, logw, score) ordered by (score desc, id), both floats
    rounded to 4dp.  ``orderBy.limit`` plans as TakeOrderedAndProject —
    per-partition heaps, never a corpus-wide sort."""
    w = dsir_weights(raw, target, b, id_col, text_col)
    score = F.col("logw") + gumbel_key(F.col(id_col))
    return (
        w.select(F.col(id_col), F.col("logw"), score.alias("__s"))
        .orderBy(F.col("__s").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("logw", 4).alias("logw"),
                F.round("__s", 4).alias("score"))
    )


def approx_quality_buckets(scores: DataFrame, group_col: str = "lang",
                           score_col: str = "nll",
                           id_col: str = "doc_id",
                           accuracy: int = 10000) -> DataFrame:
    """The CORPUS-SCALE variant of CCNet head/middle/tail bucketing
    (the swap documented in queries/textops.py ccnet_buckets): instead
    of an exact per-language ntile(3) — a full per-group sort — compute
    the two tertile CUTOFFS per group with percentile_approx (one
    aggregation pass, mergeable sketch state) and assign buckets with a
    threshold projection.  No per-group sort anywhere; the only
    exchange is the groupBy for the cutoffs (one row per group).

    -> (id_col, group_col, score_col, bucket).  Boundary semantics:
    score <= t1 -> head, <= t2 -> middle, else tail; ties at a cutoff
    all land in the lower bucket (ntile splits them by position, so the
    two variants can differ on cutoff-tied and sketch-error rows only —
    the parity test bounds the disagreement).
    """
    cuts = scores.groupBy(group_col).agg(
        F.percentile_approx(score_col, [1.0 / 3.0, 2.0 / 3.0],
                            accuracy).alias("qs"))
    t1, t2 = F.col("qs")[0], F.col("qs")[1]
    return (
        scores.join(F.broadcast(cuts), group_col)
        .select(
            F.col(id_col), F.col(group_col), F.col(score_col),
            F.when(F.col(score_col) <= t1, F.lit("head"))
            .when(F.col(score_col) <= t2, F.lit("middle"))
            .otherwise(F.lit("tail")).alias("bucket"),
        )
    )


def blocklist_filter(docs: DataFrame, words: list[str],
                     max_ratio: float = 0.0, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """C4-style word-blocklist filter (Raffel et al. 2020 dropped any
    page containing a word from a public blocklist; later pipelines
    soften that to a ratio threshold) -> (id_col, n_tokens, n_flagged,
    flag_ratio, keep) for EVERY doc — keep both the verdict and the
    evidence so threshold changes re-filter the stats table without
    re-scanning text.

    ``keep`` = true flag ratio <= max_ratio, decided on the UNROUNDED
    counts (n_flagged <= max_ratio * n_tokens; ADVICE r8 #4: a doc
    whose true ratio is 0.03004 must NOT slip under a 0.03 threshold
    via 4dp rounding).  Spark evaluates max_ratio * n in binary
    DOUBLE; a DuckDB oracle must cast its literal the same way
    (``0.03::DOUBLE * n``) or DuckDB multiplies an exact DECIMAL and
    the inclusive boundary can flip between engines for ratios with
    larger representation error (ADVICE r9 #3).  The default 0.0
    reproduces C4's any-hit drop.
    Matching is lowercase whole-token equality against the config list
    — a pure per-row projection (size(filter(tokens, in-list))), no
    join, no shuffle; the blocklist is a literal array in the plan
    (config-sized, like the PII patterns).  Only the REPORTED
    flag_ratio is rounded (4dp, oracle float policy).
    """
    if not words:
        raise ValueError("blocklist_filter requires at least one word")
    wl = F.array(*[F.lit(w.lower()) for w in sorted(set(words))])

    def hit(x: Column) -> Column:
        return F.array_contains(wl, x)

    toks = F.split(F.lower(F.col(text_col)), " ", -1)
    n = F.size(toks)
    n_flag = F.size(F.filter(toks, hit))
    return docs.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        n_flag.cast("bigint").alias("n_flagged"),
        F.round(n_flag / n, 4).alias("flag_ratio"),
        (n_flag <= F.lit(float(max_ratio)) * n).alias("keep"),
    )


def weighted_reservoir_sample(df: DataFrame, weight_col: str,
                              k: int, id_col: str = "doc_id") -> DataFrame:
    """Weighted sampling WITHOUT replacement, A-ES (Efraimidis &
    Spirakis 2006): each row gets key u^(1/w) with u ~ U(0,1); the k
    largest keys are a weighted sample without replacement.  Ordering
    by ln(u)/w is equivalent (exp is monotone) and numerically tamer,
    so the returned ``key`` is ln(u)/w rounded to 4dp, ordered desc
    with the id tie-break (the repo's rounded-float ranking convention
    — raw libm ln can differ in the last ulp across engines).

    u derives from md5(id) (same recipe as the DSIR Gumbel keys): no
    executor RNG, stable under task retries, reproducible in a SQL
    oracle.  Weights must be > 0 — enforced IN the data path (a
    Catalyst-prune-proof raise, CLAUDE.md r7).  The top-k plans as
    TakeOrderedAndProject: per-partition heaps, never a global sort.

    Distinct from :func:`dsir_sample_topk`: DSIR resamples toward a
    TARGET distribution (Gumbel-max over learned log-ratios); this is
    the generic "sample 10k docs proportional to length/score" pass.
    """
    if k < 1:
        raise ValueError("weighted_reservoir_sample requires k >= 1")
    w = F.when(
        F.col(weight_col) > 0, F.col(weight_col).cast("double")
    ).otherwise(F.raise_error(F.concat(
        F.lit("weighted_reservoir_sample: weight must be > 0 for "
              f"{id_col}="), F.col(id_col).cast("string"))))
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
               16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(_TWO60)
    # + 0.0 canonicalizes IEEE -0.0 (a tiny negative key rounding to
    # zero) so both engines emit the same sign
    key = F.round(F.log(u) / w, 4) + F.lit(0.0)
    return (
        df.select(F.col(id_col), F.col(weight_col).alias("weight"),
                  key.alias("key"))
        .orderBy(F.col("key").desc(), F.col(id_col))
        .limit(k)
    )


def source_vocab_saturation(docs: DataFrame, p: int = 9,
                            source_col: str = "source",
                            text_col: str = "text") -> DataFrame:
    """Per-source vocabulary saturation: HLL-estimated distinct tokens
    over total token occurrences -> (source, n_tokens, approx_distinct,
    saturation), 4dp — the "is this source still contributing new
    vocabulary" monitor next to :func:`source_divergence`'s drift
    check.  A saturation near 1 means almost every token is new
    (unique ids, noise); near 0 means the source has converged on a
    fixed vocabulary (boilerplate risk).

    This is a sketch COMPOSED into an analysis pipeline (VERDICT r7
    #8), not a leaf demo, and the composition buys a one-pass plan: the
    register groupBy carries a count alongside each register's max-rho,
    so total occurrences AND the cardinality sketch come out of ONE
    corpus scan and ONE bounded exchange (at most sources x 2^p rows
    after partial map-side aggregation — an exact per-source distinct
    would shuffle the full token multiset).  Hashing and the harmonic
    sum follow operators/sketches.py's engine-portable recipe
    (md5 60-bit prefix, integer-corrected floor(log2), integer-scaled
    Z), so the DuckDB oracle reproduces the estimates bit-for-bit.
    """
    from .sketches import hll_register_rows
    if not 7 <= p <= 14:
        raise ValueError(
            f"source_vocab_saturation requires 7 <= p <= 14 (got {p})")
    m = 1 << p
    r_scale = 60 - p + 1
    toks = docs.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.col(text_col), " ", -1)).alias("tok"))
    idx, rho = hll_register_rows(F.col("tok"), p)
    regs = (
        toks.select("src", idx.alias("idx"), rho.alias("rho"))
        .groupBy("src", "idx")
        .agg(F.max("rho").alias("mr"), F.count(F.lit(1)).alias("cnt"))
    )
    agg = regs.groupBy("src").agg(
        F.count(F.lit(1)).alias("npresent"),
        F.sum(F.pow(F.lit(2.0), (F.lit(r_scale) - F.col("mr"))
                    .cast("double")).cast("long")).alias("s"),
        F.sum("cnt").alias("total"),
    )
    v = F.lit(m) - F.col("npresent")
    z_scaled = v * F.lit(1 << r_scale) + F.col("s")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    e = (alpha * F.lit(float(m)) * F.lit(float(m))
         * F.lit(float(1 << r_scale)) / z_scaled)
    est = F.round(
        F.when((e <= F.lit(2.5 * m)) & (v > 0),
               F.lit(float(m)) * F.log(F.lit(float(m)) / v)).otherwise(e),
        4)
    return agg.select(
        F.col("src").alias(source_col),
        F.col("total").cast("bigint").alias("n_tokens"),
        est.alias("approx_distinct"),
        F.round(est / F.col("total"), 4).alias("saturation"),
    )


@caching.leased
def source_divergence(docs: DataFrame, b: int = 4096,
                      source_col: str = "source",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the hashed-ngram
    unigram distributions of each corpus SOURCE -> (source_a, source_b,
    js_divergence), source_a < source_b, 4dp — the drift/mixture
    monitor that tells a growing corpus "this new source does not look
    like the others" before any model sees it.

    JS (symmetric, bounded by ln 2) over add-1-smoothed bucket
    distributions: JS(P,Q) = (KL(P||M) + KL(Q||M)) / 2, M = (P+Q)/2.

    Scale shape: ONE feature pass + ONE groupBy(source, bkt) — at most
    |sources| * b rows survive (config-bounded); everything pairwise
    happens on that tiny table.  Smoothing puts mass on every bucket,
    but the JS sum only materializes buckets where EITHER side has
    counts; the (b - n_touched) all-floor buckets contribute one
    CLOSED-FORM term per pair (p0 = 1/(ta+b), q0 = 1/(tb+b) are
    constants), so absent buckets never become rows.
    """
    feats = hashed_ngram_features(docs.select(
        F.col(source_col).alias("__src"), F.col(text_col)),
        b, "__src", text_col)
    # counts feeds totals, the bucket-union build (x2) and both verify
    # joins — 5 references; unpersisted, the corpus feature pass would
    # re-execute each time.  <= |sources| * b rows (tiny).
    counts = caching.persist(
        feats.groupBy(F.col("__src").alias("src"), "bkt").agg(
            F.count(F.lit(1)).alias("c")))
    totals = counts.groupBy("src").agg(F.sum("c").alias("tot"))
    spairs = (
        totals.select(F.col("src").alias("sa"), F.col("tot").alias("ta"))
        .crossJoin(totals.select(F.col("src").alias("sb"),
                                 F.col("tot").alias("tb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    ca = counts.select(F.col("src").alias("sa"), "bkt",
                       F.col("c").alias("ca"))
    cb = counts.select(F.col("src").alias("sb"), "bkt",
                       F.col("c").alias("cb"))
    # per pair, the union of buckets either source touches
    u = counts.select("src", "bkt")
    union_bkts = (
        spairs.join(u.select(F.col("src").alias("sa"), "bkt"), "sa")
        .select("sa", "sb", "ta", "tb", "bkt")
        .unionByName(
            spairs.join(u.select(F.col("src").alias("sb"), "bkt"), "sb")
            .select("sa", "sb", "ta", "tb", "bkt"))
        .distinct()
    )
    joined = (
        union_bkts
        .join(ca, ["sa", "bkt"], "left")
        .join(cb, ["sb", "bkt"], "left")
        .select(
            "sa", "sb", "ta", "tb",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    bf = F.lit(float(b))
    p = (F.col("ca") + 1.0) / (F.col("ta") + bf)
    q = (F.col("cb") + 1.0) / (F.col("tb") + bf)
    m = (p + q) / 2.0
    contrib = (p * F.log(p / m) + q * F.log(q / m)) / 2.0
    touched_sum = joined.groupBy("sa", "sb", "ta", "tb").agg(
        F.sum(contrib).alias("js_touched"),
        F.count(F.lit(1)).alias("n_touched"),
    )
    p0 = 1.0 / (F.col("ta") + bf)
    q0 = 1.0 / (F.col("tb") + bf)
    m0 = (p0 + q0) / 2.0
    zero_term = (F.lit(b) - F.col("n_touched")) * (
        (p0 * F.log(p0 / m0) + q0 * F.log(q0 / m0)) / 2.0)
    return touched_sum.select(
        F.col("sa").alias("source_a"), F.col("sb").alias("source_b"),
        F.round(F.col("js_touched") + zero_term, 4).alias("js_divergence"),
    )
