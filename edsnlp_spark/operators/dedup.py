"""Near-duplicate detection: MinHash-LSH, n-gram Jaccard, SimHash.

North-star LLM-data-pipeline operators (BASELINE.json): built to scale —
shingling and signatures are per-row projections (no shuffle); candidate
generation is an equi-join on band keys / shared shingles (one shuffle);
verification joins only the candidate pairs.

All hashing is md5-based so a DuckDB oracle can reproduce results
bit-for-bit (Spark xxhash64/hash have no DuckDB equivalent).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, functions as F

from ..core import caching

_LOG = logging.getLogger(__name__)


def token_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a single-space-tokenized text.

    One regexp pass with an overlapping-window lookahead — the capture
    group grabs the n-token shingle, the consumed token advances one
    token — instead of sequence+transform+element_at HOFs: the HOF
    lambda tree is interpreted per element and measured ~4.6x slower on
    the same data (3.8s -> 0.8s for 5k docs x 52 shingles, local[8]).
    """
    if n < 2:
        return F.array_distinct(F.split(text, " "))
    tok = r"[^ ]+"
    rx = "(?=(" + tok + (r" " + tok) * (n - 1) + r"))" + tok + " "
    return F.array_distinct(
        F.regexp_extract_all(text, F.lit(rx), F.lit(1)))


# Universal-hash family over a 31-bit base hash: h_i = (a_i*h + b_i) mod M.
# Constants are fixed odd multipliers so Spark and the SQL oracle agree.
MINHASH_MOD = 2147483647  # 2^31 - 1
MINHASH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317,
             196613, 393241, 786433, 1572869]
MINHASH_B = [7, 101, 1009, 10007, 100003, 999983, 101, 211, 3011,
             40009, 500009, 6000011]


def minhash_signature(shingles: Column, num_hashes: int = 12) -> Column:
    """array<long>: per hash i, min over shingles of (a_i*h + b_i) mod M,
    where h = the first 8 hex chars of md5(shingle) as an int.

    ONE md5 per shingle + cheap integer arithmetic per hash (the classic
    universal-hashing min-hash) — and bit-for-bit reproducible in the
    DuckDB oracle, unlike Spark's xxhash64.
    """
    assert num_hashes <= len(MINHASH_A)
    # Hash each shingle ONCE (md5 is the expensive part), then fold the
    # cheap per-hash arithmetic over the integer array.
    hashed = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    a_arr = F.array(*[F.lit(a) for a in MINHASH_A])
    b_arr = F.array(*[F.lit(b) for b in MINHASH_B])
    init = F.array_repeat(F.lit(MINHASH_MOD + 1).cast("long"), num_hashes)
    return F.aggregate(
        hashed,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: (
                    (F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1))
                    % MINHASH_MOD
                ).cast("long"),
            ),
            lambda x, y: F.least(x, y),
        ),
    )


def band_keys(signature: Column, bands: int, rows: int) -> Column:
    """LSH band keys: concat `rows` consecutive signature slots per band."""
    return F.array(*[
        F.concat_ws(
            "|", F.lit(str(b)),
            *[F.element_at(signature, b * rows + r + 1) for r in range(rows)],
        )
        for b in range(bands)
    ])


@caching.leased
def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 12, bands: int = 6) -> DataFrame:
    """Candidate near-dup pairs sharing >=1 LSH band, with the estimated
    Jaccard = fraction of equal signature slots.

    Plan: project signatures (no shuffle) -> explode band keys ->
    self-join on band key (one shuffle, ~uniform since keys are hashes)
    -> distinct pairs -> zip signatures for the estimate.
    """
    rows = num_hashes // bands
    sh = docs.select(
        F.col(id_col).alias("id"),
        token_shingles(F.col(text_col), n).alias("sh"),
    ).filter(F.size("sh") > 0)
    # Signatures are reused on both sides of the candidate join and for
    # the final estimate: persist once, and keep the candidate join
    # ids-only so the shuffle rows are two longs, not md5 arrays.
    sig_tbl = caching.persist(sh.select(
        "id", minhash_signature(F.col("sh"), num_hashes).alias("sig")))
    banded = sig_tbl.select(
        "id", F.explode(band_keys(F.col("sig"), bands, rows)).alias("bk")
    )
    a = banded.select(F.col("id").alias("id_a"), "bk")
    b = banded.select(F.col("id").alias("id_b"), "bk")
    pairs = (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    withsigs = (
        pairs.join(
            sig_tbl.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a")
        .join(
            sig_tbl.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b")
    )
    est = F.size(F.filter(
        F.zip_with(F.col("sig_a"), F.col("sig_b"),
                   lambda x, y: x == y), lambda eq: eq
    )) / F.size(F.col("sig_a"))
    return withsigs.select(
        "id_a", "id_b", F.round(est, 4).alias("est_jaccard")
    )


@caching.leased
def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.2,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing >=1 shingle.

    ``max_df`` is the stop-shingle cap for 100TB skew safety: a shingle
    appearing in more than ``max_df`` documents (boilerplate headers,
    templated lines) is excluded from CANDIDATE GENERATION only — the
    shared-shingle self-join is quadratic in a shingle's document
    frequency, so one ubiquitous shingle otherwise dominates the whole
    shuffle. Candidate pairs are then verified with the EXACT Jaccard
    over the full (uncapped) shingle sets via array_intersect, so scores
    are unbiased; only pairs whose overlap is exclusively stop-shingles
    are missed, which is the standard trade (they are the pairs a
    near-dup pass should not fire on anyway).
    """
    sh = docs.select(
        F.col(id_col).alias("id"),
        token_shingles(F.col(text_col), n).alias("sh"),
    ).filter(F.size("sh") > 0)
    if max_df is None:
        ex = sh.select("id", F.size("sh").alias("n_sh"),
                       F.explode("sh").alias("s"))
        a = ex.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "s")
        b = ex.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "s")
        inter = (
            a.join(b, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        return (
            inter.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # Stop-shingle path: df-capped candidate join, exact verify join-back.
    sh = caching.persist(sh)  # referenced 3x (explode + both verify legs)
    ex = sh.select("id", F.explode("sh").alias("s"))
    rare = (
        ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("s")
    )
    cand_ex = ex.join(rare, "s")
    cands = (
        cand_ex.select(F.col("id").alias("id_a"), "s")
        .join(cand_ex.select(F.col("id").alias("id_b"), "s"), "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    j = (
        cands
        .join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
              "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
              "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        j.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(text: Column) -> Column:
    """64-bit SimHash from word tokens, md5-derived bit votes.

    Per token: take 64 bits of md5 as two 32-bit halves (keeps all
    arithmetic in signed-long range, portable to the SQL oracle); per
    bit position, sum +-1 votes across tokens; the sign vector is the
    fingerprint, emitted as a 64-char '0'/'1' string (bit 0 first).
    Array HOFs only — per-row projection, no shuffle, no UDF.

    Implementation (r7): ONE fold whose accumulator is the FIXED
    64-int vote array (zip_with per token), not 64 separate folds each
    re-walking the token list — measured 2.07x faster at sf0.1 and
    bit-identical.  The r3 "array accumulators are O(n^2)" trap applies
    to GROWING accumulators; a fixed-width vote vector copies 64 ints
    per token, same asymptotics as 64 scalar folds but one pass.  The
    bit extract is floor(word / 2^j) % 2 because shiftright() needs a
    literal shift amount (word < 2^32 and j <= 31 are exact in
    doubles).

    r8 (VERDICT r7 #2, measured): the r7 version referenced
    md5(t)-derived ``hi``/``lo`` inside the per-bit zip_with lambda,
    which the interpreted HOF evaluator re-evaluates PER ELEMENT (the
    r3 finding; proven here with an expensive-hash probe — swapping
    md5 for sha2(repeat(t,50),512) made the old shape 3.3x slower
    than a bound one).  For the REAL workload the re-evaluated md5 of
    a short token is so cheap that fixes are in the noise; all
    measured back-to-back in one session at sf0.1 (5k docs,
    projection only, best-of-3):

    - old (md5 re-evaluated per bit): 0.334s
    - nested let_bound per token:     0.394s (bind overhead > md5 win)
    - pre-hash transform (this):      0.292s

    The adopted shape hashes the token array ONCE in a separate
    ``transform`` pass producing struct<hi,lo> elements (exactly the
    oracle SQL's ``tokh`` CTE), so the fold's inner lambda only reads
    bound-variable fields — no re-evaluation even in principle, no
    let_bound wrapper cost.  Bit-identical to r7 (asserted over all
    sf0.1 docs at adoption; oracle unchanged).  The neardup query's
    cost lives in the candidate join, not here — see
    :func:`simhash_neardup_pairs`.
    """
    toks = F.split(text, " ")
    hs = F.transform(toks, lambda t: F.struct(
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        .alias("hi"),
        F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long")
        .alias("lo")))

    def step(acc, h):
        def upd(v, i):
            word = F.when(i < 32, h["lo"]).otherwise(h["hi"])
            bit = F.floor(word / F.pow(F.lit(2.0), (i % 32)
                                       .cast("double"))).cast("long") % 2
            return v + F.when(bit == 1, 1).otherwise(-1)

        return F.zip_with(acc, F.sequence(F.lit(0), F.lit(63)), upd)

    votes = F.aggregate(hs, F.array_repeat(F.lit(0), 64), step)
    return F.concat_ws("", F.transform(
        votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))))


@caching.leased
def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25,
                         on_nonconverged: str = "raise",
                         stats: dict | None = None) -> DataFrame:
    """Connected components over near-dup PAIRS -> (id, component), the
    resolution step of a dedup pipeline (which duplicates belong
    together).  Component id = min member id.

    Pregel-lite min-label propagation: each iteration joins labels
    across edges and takes the elementwise min; converges in
    O(diameter) iterations.  Near-dup clusters are short chains/cliques
    in practice — measured on the 10x adversarially duplicate-heavy
    replica this converges in a HANDFUL of iterations (see SCALE.md
    "dedup_components convergence").  Each iteration is one shuffle
    keyed by node id; the driver loop only reads the converged flag (a
    count), no data ever leaves the cluster.

    Convergence is SURFACED, never assumed (VERDICT r5 #5):

    - ``stats`` (optional dict) receives ``iterations`` (label-update
      rounds actually run) and ``converged``; the result is also logged
      at INFO level.
    - If the graph's diameter exceeds ``max_iter`` the labels are NOT
      yet component minima; ``on_nonconverged='raise'`` (default)
      raises RuntimeError rather than silently mislabeling, ``'flag'``
      logs a warning and returns the partial labels (callers that
      tolerate over-segmented components, e.g. best-effort dedup where
      a split component only means keeping an extra near-dup copy).

    Scale note — pathological diameters: plain min-propagation needs
    O(diameter) shuffles, so a 1M-node path graph would need 1M rounds.
    The remedy at that shape is the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): alternating large-star (attach every neighbor larger than
    the center to the neighborhood minimum) and small-star (attach the
    smaller neighbors) rounds contract the graph in O(log^2 n) rounds
    independent of diameter, at the cost of rewriting the EDGE set each
    round instead of a label column.  Near-dup graphs (bounded-radius
    similarity balls around each doc) have small diameters, so
    min-propagation's cheaper per-round shuffle wins there; raise
    ``max_iter`` or switch to :func:`connected_components_star`
    (implemented below, differential-tested against this function) if
    the RuntimeError ever fires in practice.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = caching.persist(
        e.union(e.select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
        .distinct()
    )
    # Lineage MUST be cut every round (eager localCheckpoint), not just
    # cached: each round's plan references the previous labels TWICE
    # (neighbor join + left join), so with persist() alone the LOGICAL
    # plan doubles per round — 2^k nodes by round k; a 10-node path
    # graph (9 rounds) OOM'd the driver on explainString before any
    # data moved (r6).  Checkpointing keeps the per-round plan O(1).
    # On a real cluster prefer a reliable checkpoint dir for long runs
    # (localCheckpoint blocks die with their executor); for the
    # handful of rounds a near-dup graph needs, local is right.
    labels = (
        edges.select("src").distinct()
        .select("src", F.col("src").alias("comp"))
        .localCheckpoint(eager=True)
    )
    iterations, converged = 0, False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src").agg(F.min("comp").alias("nbr_comp"))
        )
        # the per-round change flag rides ON the checkpointed plane
        # (r14, guide §2.4): the former separate new-join-labels count
        # re-joined (and re-shuffled) the label table every round just
        # to compare columns the update expression already sees —
        # `least(comp, coalesce(nbr, comp)) != comp` is exactly
        # `coalesce(nbr, comp) < comp`, so the count is now a cheap
        # scan of the checkpoint (one join + one shuffle saved/round).
        new = (
            labels.join(nbr, "src", "left")
            .select("src", F.least(
                "comp", F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                (F.coalesce("nbr_comp", F.col("comp")) < F.col("comp"))
                .alias("__chg"))
            .localCheckpoint(eager=True)
        )
        changed = new.filter(F.col("__chg")).count()
        # old labels' checkpoint blocks are freed by the ContextCleaner
        # once the rebinding drops the last RDD reference
        labels = new.select("src", "comp")
        iterations += 1
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
    _LOG.info("connected_components: %d iteration(s), converged=%s",
              iterations, converged)
    if not converged:
        msg = (f"connected_components did not converge within "
               f"max_iter={max_iter} label-propagation rounds; the graph "
               f"diameter exceeds the cap and labels are NOT component "
               f"minima. Raise max_iter, or use a large-star/small-star "
               f"contraction for pathological diameters (see docstring).")
        if on_nonconverged == "flag":
            _LOG.warning(msg)
        else:
            labels.unpersist()
            raise RuntimeError(msg)
    return labels.select(F.col("src").alias("id"), "comp")


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b", max_iter: int = 50,
                              on_nonconverged: str = "raise",
                              stats: dict | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) -> (id, component), component id = min member id.

    The diameter-INDEPENDENT alternative to
    :func:`connected_components`: each round rewrites the parent-edge
    set instead of propagating a label one hop, converging in
    O(log^2 n) rounds even for path graphs where min-propagation needs
    O(diameter).  Per round: two groupBy(node) shuffles over the edge
    set (large-star over the bidirected neighborhood, small-star over
    parent pointers) — costlier per round than one label shuffle, which
    is why min-propagation stays the default for near-dup graphs (small
    diameters); use this when the RuntimeError cap fires.

    * large-star(u): m = min(N(u) ∪ {u}); every STRICTLY LARGER
      neighbor re-parents to m — emit (v, m) for v in N(u), v > u.
    * small-star(u) on parent edges (u > v): m = min(parents ∪ {u});
      parents and u itself re-parent to m.

    Both steps preserve connectivity and never increase any node's
    parent, so the fixpoint is the star graph rooted at each
    component's minimum.  Convergence = the parent-edge set stops
    changing (checked with a count over an anti-join — distributed, no
    driver materialization beyond the scalar).  Lineage is cut per
    round with an eager localCheckpoint like the label variant.
    """
    # Star contraction orders ids with </> — only meaningful for
    # integral ids.  A silent cast("long") would turn string/hash ids
    # into NULLs that the u != v filter then DROPS, returning
    # empty/partial components (ADVICE r6 #2) — unlike
    # connected_components, which accepts arbitrary id types.  Fail
    # loudly instead so the documented label->star migration can't
    # silently corrupt results; map non-integral ids to dense longs
    # (e.g. xxhash64 or a zipWithIndex dictionary) before calling.
    integral = ("byte", "short", "int", "bigint", "long", "integer",
                "smallint", "tinyint")
    types = dict(pairs.dtypes)
    for c in (id_a, id_b):
        if types.get(c) not in integral:
            raise TypeError(
                f"connected_components_star requires integral id "
                f"columns; {c!r} is {types.get(c)!r}. Use "
                f"connected_components (any id type) or map ids to "
                f"longs first."
            )
    # parent edges oriented large -> small; self-loops dropped
    u, v = F.col(id_a).cast("long"), F.col(id_b).cast("long")
    edges = (
        pairs.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct().localCheckpoint(eager=True)
    )
    prev_cnt = edges.count()
    iterations, converged = 0, False
    for _ in range(max_iter):
        # large-star over the bidirected neighborhood
        bidir = edges.union(edges.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over parent pointers (u > v by construction)
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        new = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct().localCheckpoint(eager=True)
        )
        # set-equality check without exceptAll (r14): both planes are
        # DISTINCT and checkpointed, so new == edges iff new ⊆ edges
        # (one left_anti count) and |new| == |edges| (cheap counts over
        # checkpoints) — replaces two exceptAll passes (4 shuffles)
        # with one anti-join per round.
        new_cnt = new.count()
        changed = (new.join(edges, ["u", "v"], "left_anti").count()
                   + abs(new_cnt - prev_cnt))
        prev_cnt = new_cnt
        edges = new
        iterations += 1
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["iterations"] = iterations
        stats["converged"] = converged
    _LOG.info("connected_components_star: %d round(s), converged=%s",
              iterations, converged)
    if not converged:
        msg = (f"connected_components_star did not converge within "
               f"max_iter={max_iter} star rounds (expected O(log^2 n)); "
               f"labels are NOT component minima.")
        if on_nonconverged == "flag":
            _LOG.warning(msg)
        else:
            raise RuntimeError(msg)
    # fixpoint edges are (member, root); roots need their own row
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    roots = edges.select(F.col("v").alias("id")).distinct() \
        .withColumn("comp", F.col("id"))
    return members.unionByName(roots).distinct()


def dedup_resolve(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id", id_a: str = "id_a",
                  id_b: str = "id_b", max_iter: int = 25,
                  on_nonconverged: str = "raise",
                  stats: dict | None = None) -> DataFrame:
    """Canonical-document selection: every doc joined to its near-dup
    component (docs without a pair form their own component); keep =
    the member with the smallest id.  This is the step that turns
    near-dup PAIRS into a drop list at corpus scale.  Convergence
    options pass through to :func:`connected_components`."""
    comps = connected_components(pairs, id_a, id_b, max_iter=max_iter,
                                 on_nonconverged=on_nonconverged,
                                 stats=stats)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comps, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("comp", F.col("id")).alias("component"),
            (F.coalesce("comp", F.col("id")) == F.col("id"))
            .alias("is_canonical"),
        )
    )


def _window_hash_rows(docs: DataFrame, n: int, id_col: str,
                      text_col: str) -> DataFrame:
    """Shared extraction for the exact-substring tier
    (:func:`duplicated_windows` / :func:`strip_duplicated_spans`):
    (id_col, pos, h) — one 60-bit md5 prefix per n-token window, pos =
    0-based token offset, via the single-pass lookahead regexp.

    Raises ValueError for n < 2 (the consuming pattern is
    "token + separator", so n=1 would silently miss the final token's
    window); non-single-space text fails LOUDLY at execution time (the
    guard feeds the extraction so Catalyst cannot prune it) because pos
    would silently desync otherwise (ADVICE r6 #4)."""
    if n < 2:
        raise ValueError(
            f"exact-substring windows require n >= 2 (got n={n}): the "
            "consuming pass eats 'token + space', so the final token "
            "never starts a match and n=1 windows would be undercounted."
        )
    tok = r"[^ ]+"
    rx = "(?=(" + tok + (r" " + tok) * (n - 1) + r"))" + tok + " "
    guarded = F.when(
        ~F.col(text_col).rlike("^ |  | $"), F.col(text_col)
    ).otherwise(F.raise_error(F.concat(
        F.lit("exact-substring windows: text is not single-space "
              f"tokenized (pos would desync) for {id_col}="),
        F.col(id_col).cast("string"))))
    return docs.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(
            guarded, F.lit(rx), F.lit(1))).alias("pos", "win"),
    ).select(
        id_col, "pos",
        F.conv(F.substring(F.md5("win"), 1, 15), 16, 10)
        .cast("long").alias("h"),
    )


@caching.leased
def duplicated_windows(docs: DataFrame, n: int = 13,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       max_df: int | None = None) -> DataFrame:
    """Exact-substring duplication detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    n-TOKEN window whose text occurs more than once corpus-wide ->
    (id_col, pos, occurrences), pos = 0-based token offset.

    Doc-level dedup misses partially-copied text (boilerplate headers,
    quoted passages, licence blocks); this is the span-granular tier
    that catches them.  The reference paper builds a suffix array; the
    distributed-friendly equivalent is one pass emitting (window-hash,
    doc, pos) integer rows plus one occurrence count per hash.

    Scale shape (VERDICT r6 #2): the count is ``groupBy("h").count()``
    + join-back, NOT a ``Window.partitionBy("h")`` count.  A window
    count lands EVERY occurrence of one hot hash (exactly the
    million-fold boilerplate spans this operator exists to find) on a
    single task — a straggler/OOM at corpus scale — while groupBy
    benefits from partial map-side aggregation (each task contributes
    at most one row per hash) and the join-back is AQE-skew-splittable.
    ``max_df`` optionally drops hashes with more than max_df
    occurrences from the OUTPUT (ultra-hot boilerplate is better
    handled by a dedicated pass over the tiny ``h``-level count table
    than by materializing one row per occurrence); the count itself is
    skew-immune either way.

    Windows are extracted with the single-pass lookahead regexp (the
    shingling pattern measured 4.6x faster than HOF loops, CLAUDE.md
    r2) and grouped by a 60-bit md5 prefix — identical hashing in the
    DuckDB oracle, so even a collision reproduces.

    Tokenization model: SINGLE-space-separated tokens (the corpus
    convention shared by every textops oracle).  ``pos`` is the match
    index of the consuming pass, which equals the token offset only
    under that model — leading/doubled spaces would silently desync it
    (ADVICE r6 #4), so the single-space assumption is ENFORCED with a
    per-row ``assert_true`` (one rlike, JVM-side, fused into the same
    projection).  ``n >= 2`` is required: the consuming pattern is
    "token + separator", so n=1 would silently miss the final token's
    window.
    """
    # wins feeds BOTH the count and the join-back; unpersisted, the
    # text scan + lookahead regexp would run twice.  The plane is three
    # ints per token (far smaller than the text it derives from).
    wins = caching.persist(
        _window_hash_rows(docs, n, id_col, text_col))
    counts = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("occurrences"))
    counts = counts.filter(F.col("occurrences") >= 2)
    if max_df is not None:
        counts = counts.filter(F.col("occurrences") <= max_df)
    return (
        wins.join(counts, "h")
        .select(F.col(id_col), F.col("pos").cast("bigint"),
                F.col("occurrences").cast("bigint"))
    )


@caching.leased
def strip_duplicated_spans(docs: DataFrame, n: int = 13,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022 §3:
    they delete all-but-one occurrence of every duplicated span):
    every n-token window occurring >= 2 times corpus-wide keeps its
    FIRST occurrence (min (doc, pos) lexicographically) and every other
    occurrence's token range is cut from its document.  Overlapping cut
    ranges merge naturally (union of covered token indices).
    -> (id_col, text_clean, n_removed) for EVERY input doc; untouched
    docs pass through with their original text and n_removed = 0.

    Scale shape: occurrence counting + keeper election is ONE
    groupBy("h") (partial map-side agg, skew-immune — same shape as
    :func:`duplicated_windows`); covered indices explode only the
    REMOVED windows (n rows each, bounded by corpus token count); the
    per-doc covered set is a collect_set bounded by document length;
    and reconstruction is an IN-ROW array filter on a left join —
    documents with nothing to cut take the null branch and are never
    re-tokenized.  Note the keeper's own span can be partially cut when
    it overlaps another removed occurrence (e.g. a self-repeating
    doc) — inherent to span-union semantics and matched by the oracle.
    """
    wins = caching.persist(
        _window_hash_rows(docs, n, id_col, text_col))
    keep = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(id_col, "pos")).alias("keeper"),
    ).filter(F.col("cnt") >= 2)
    removed = (
        wins.join(keep, "h")
        .filter(~((F.col(id_col) == F.col(f"keeper.{id_col}"))
                  & (F.col("pos") == F.col("keeper.pos"))))
        .select(id_col, "pos")
    )
    cov = (
        removed.select(
            F.col(id_col),
            F.explode(F.sequence(
                F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("idx"))
        .groupBy(id_col)
        .agg(F.collect_set("idx").alias("cov"))
    )
    toks = F.split(F.col(text_col), " ", -1)

    def _kept(t, i):
        # two-arg HOF lambda receives (element, index) — the index is
        # exactly the token offset under single-space tokenization
        return ~F.array_contains(F.col("cov"), i)

    return (
        docs.join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("cov").isNull(), F.col(text_col))
            .otherwise(F.concat_ws(" ", F.filter(toks, _kept)))
            .alias("text_clean"),
            F.when(F.col("cov").isNull(), F.lit(0))
            .otherwise(F.size("cov")).cast("bigint").alias("n_removed"),
        )
    )


def winnowing_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    w-hash window, keep each window's MINIMUM hash -> the distinct
    (id_col, fp) fingerprint set per document.

    The selection GUARANTEE (their Theorem): any shared token run of
    length >= w + k - 1 between two documents yields at least one
    shared fingerprint, while only ~2/(w+1) of all k-gram hashes are
    kept — a principled sparse alternative to emitting every window
    (duplicated_windows) when the downstream join must stay small.
    Docs with fewer than w k-grams keep their single global minimum
    (so any doc with >= k tokens has >= 1 fingerprint); shorter docs
    have none.

    Scale shape: everything up to the final distinct is an IN-ROW
    projection — one lookahead-regexp pass for the k-grams (the
    measured-4.6x shingling pattern), one md5 per gram, and a
    w-element slice-min per window (w is small and fixed; CLAUDE.md r6:
    small-arity HOF folds stay cheap — do NOT unroll).  Candidate
    pairs are then an equi-join on fp, bounded by the winnowing
    density, with the same df-cap option as the other candidate joins.
    """
    if k < 2 or w < 2:
        raise ValueError(
            f"winnowing_fingerprints requires k >= 2 and w >= 2 "
            f"(got k={k}, w={w})")
    tok = r"[^ ]+"
    rx = "(?=(" + tok + (r" " + tok) * (k - 1) + r"))" + tok + " "
    grams = F.regexp_extract_all(F.col(text_col), F.lit(rx), F.lit(1))
    hs = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
        .cast("long"),
    )
    nwin = F.size(hs) - F.lit(w - 1)

    def win_min(j):
        return F.array_min(F.slice(hs, j + 1, w))

    fps = (
        F.when(F.size(hs) == 0, F.array().cast("array<bigint>"))
        .when(nwin <= 0, F.array(F.array_min(hs)))
        .otherwise(F.array_distinct(F.transform(
            F.sequence(F.lit(0), nwin - 1), win_min)))
    )
    return (
        docs.select(F.col(id_col), F.explode(fps).alias("fp"))
        .distinct()
    )


@caching.leased
def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3,
                          bands: int = 4, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_df: int | None = None) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming search (Manku,
    Jain & Das Sarma, WWW'07 — Google's web-crawl dedup): split the
    64-bit fingerprint into ``bands`` equal blocks; by pigeonhole, any
    pair within Hamming distance ``max_hamming`` < bands agrees on at
    least one whole block, so candidates = an equi-join on (block
    index, block value) and only candidates pay the exact Hamming
    verification -> (id_a, id_b, hamming), hamming <= max_hamming.

    Scale shape (r8 audit — this was the r7 bench's one
    probe-confirmed regression; profiled and A/B'd at sf0.1): the cost
    is NOT the fingerprint projection the verdict suspected (0.3s of a
    2.2-4s query; see :func:`simhash64` for the let_bound A/B) but the
    CANDIDATE DENSITY of narrow blocks: width = 64/bands gives only
    2^width values per band, and simhash votes are biased by common
    tokens, so block values are heavily skewed — 4.06M distinct
    candidate pairs for 5k sf0.1 docs (uniform would be ~0.4M).  Two
    plan shapes were measured back-to-back, same session:

    - distinct-then-verify (this plan): distinct the 4M candidate ID
      pairs, then two join-backs onto the persisted fingerprint plane
      for the 4-xor verify — 3.86s under load / 2.16s quiet.
    - verify-in-flight (both legs carry their fingerprint vector
      through the band join, dedupe after the Hamming filter) — 2x
      SLOWER (7.1-8.0s): the pre-distinct multiset (pairs counted once
      per shared band, inflated by the same skew) is several times the
      distinct set, and Hamming over the whole multiset costs more
      than the distinct shuffle saves.

    So candidates are distinct'd FIRST, and the scale lever for the
    skew itself is ``max_df``.

    ``max_df`` (VERDICT r7 #3, same guard as
    :func:`ngram_jaccard_pairs`): (block, value) keys with more than
    ``max_df`` members are dropped from candidate generation — an
    exact-duplicate cluster of size c otherwise contributes
    bands * c^2 joined rows (quadratic per block).  The per-key count
    is a groupBy (partial map-side agg, skew-immune), bounded by the
    number of DISTINCT (band, value) keys.  Dropping a hot block only
    loses that block's VOTE: a pair within ``max_hamming`` is still
    found through any other agreeing block below the cap, but the
    pigeonhole guarantee weakens to "some agreeing block is not hot" —
    run exact dedup first (the standard pipeline order) so identical
    texts never reach this operator, and treat capped-block membership
    as a dedicated hot-key pass over the tiny per-key count table.
    Default None preserves exact semantics (and the driver oracle).
    """
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"simhash_neardup_pairs needs 0 <= max_hamming < bands for "
            f"the pigeonhole guarantee (got max_hamming={max_hamming}, "
            f"bands={bands})")
    if 64 % bands:
        raise ValueError(f"bands must divide 64 (got {bands})")
    if max_df is not None and max_df < 2:
        raise ValueError(f"max_df must be >= 2 (got {max_df})")
    width = 64 // bands
    base = docs.select(F.col(id_col).alias("id"),
                       simhash64(F.col(text_col)).alias("s"))
    base = base.select("id", F.array(*[
        F.conv(F.substring(F.col("s"), b * width + 1, width), 2, 10)
        .cast("long")
        for b in range(bands)
    ]).alias("bv"))
    base = caching.persist(base)
    banded = base.select("id", F.posexplode("bv").alias("bi", "v"))
    if max_df is not None:
        hot = (
            banded.groupBy("bi", "v")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("bi", "v")
        )
        # both candidate legs re-derive the capped plane from the
        # persisted base (count + anti-join runs twice).  Persisting
        # the capped plane instead was A/B'd and is NOT better — sf0.1
        # 2.4-2.5s -> 2.7-3.5s, 10x a wash (9.8-11.9 -> 9.3-13.4):
        # the recount is cheap next to caching a corpus x bands plane.
        banded = banded.join(hot, ["bi", "v"], "left_anti")
    cand = (
        banded.select(F.col("id").alias("id_a"), "bi", "v")
        .join(banded.select(F.col("id").alias("id_b"), "bi", "v"),
              ["bi", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    joined = (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("bv").alias("bva")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("bv").alias("bvb")), "id_b")
    )
    hamming = None
    for b in range(bands):
        h_b = F.bit_count(F.element_at("bva", b + 1)
                          .bitwiseXOR(F.element_at("bvb", b + 1)))
        hamming = h_b if hamming is None else hamming + h_b
    return (
        joined.select("id_a", "id_b", hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def cross_duplicated_windows(new_docs: DataFrame, ref_docs: DataFrame,
                             n: int = 13, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """INCREMENTAL exact-substring dedup: which n-token windows of a
    NEW batch already occur in an existing REFERENCE corpus ->
    (id_col, pos, ref_occurrences).  The shape every growing training
    set needs — dedup the day's crawl against what is already in the
    corpus WITHOUT re-pairing the old corpus with itself.

    Scale shape: the reference side collapses to its distinct window
    hashes + counts FIRST (one skew-immune groupBy, partial map-side
    agg — the hash table is far smaller than the corpus and is the
    thing you would persist between ingest batches as the "seen
    spans" index); the new batch's windows then semi-join it, so
    shuffle volume is new-batch tokens + the hash index, never
    old-corpus positions.  Same md5 window hashing as
    :func:`duplicated_windows`, so indexes are shareable across both.
    """
    new_wins = _window_hash_rows(new_docs, n, id_col, text_col)
    ref_index = (
        _window_hash_rows(ref_docs, n, id_col, text_col)
        .groupBy("h").agg(F.count(F.lit(1)).alias("ref_occurrences"))
    )
    return (
        new_wins.join(ref_index, "h")
        .select(F.col(id_col), F.col("pos").cast("bigint"),
                F.col("ref_occurrences").cast("bigint"))
    )


def minhash_band_index(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 12, bands: int = 6) -> DataFrame:
    """The PERSISTABLE fuzzy-dedup index (VERDICT r9 #7): the LSH
    (band, value) keys of a reference corpus, grouped ->
    (bk, n_docs, min_id) — the MinHash counterpart of
    :func:`cross_duplicated_windows`' exact window-hash index.  An
    ingest pipeline materializes this ONCE over the accumulated corpus
    and semi-joins each new batch against it, so per-batch shuffle
    volume is batch signatures + the index, never the corpus.

    Size: <= bands rows per corpus doc BEFORE grouping, fewer after
    (shared keys collapse); each row is one short string + two longs.
    Same shingle/signature config as :func:`minhash_lsh_pairs`, so the
    index is shareable with the batch tier.
    """
    banded = _minhash_banded(docs, id_col, text_col, n, num_hashes, bands)
    return banded.groupBy("bk").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(id_col).alias("min_id"),
    )


def _band_keys_fn(bands: int, rows: int):
    """Closure factory (2-arg-callable trap — CLAUDE.md)."""
    def f(sig):
        return band_keys(sig, bands, rows)
    return f


def _minhash_banded(docs: DataFrame, id_col: str, text_col: str,
                    n: int, num_hashes: int, bands: int) -> DataFrame:
    """(id_col, bk) exploded LSH band keys — one shuffle-free
    projection shared by the index build, the incremental probe, and
    the streaming tier.  The signature fold is let-bound so the
    per-band element_at references are bound-variable reads, not 6
    re-folds."""
    from ..functions.text import let_bound

    rows = num_hashes // bands
    sh = docs.select(
        F.col(id_col),
        token_shingles(F.col(text_col), n).alias("sh"),
    ).filter(F.size("sh") > 0)
    return sh.select(
        id_col,
        F.explode(let_bound(
            minhash_signature(F.col("sh"), num_hashes),
            _band_keys_fn(bands, rows))).alias("bk"),
    )


def cross_minhash_candidates(new_docs: DataFrame, band_index: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text", n: int = 3,
                             num_hashes: int = 12,
                             bands: int = 6) -> DataFrame:
    """INCREMENTAL MinHash-LSH dedup: which docs of a NEW batch collide
    with the accumulated corpus's :func:`minhash_band_index` on >= 1
    LSH band -> (id_col, n_bands_hit, ref_band_docs, ref_example_id).
    ``ref_band_docs`` sums the index's per-band doc counts over the hit
    bands (an upper bound on distinct colliding corpus docs);
    ``ref_example_id`` is the smallest corpus doc id among the hit
    bands — the keeper a first-arrival policy defers to.

    Scale shape: one shuffle-free signature projection over the batch,
    one equi-join against the (config-bounded) index, one groupBy over
    batch ids.  The corpus never re-pairs with itself — the fuzzy-tier
    analog of :func:`cross_duplicated_windows`.
    """
    banded = _minhash_banded(new_docs, id_col, text_col,
                             n, num_hashes, bands)
    return (
        banded.join(band_index, "bk")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_hit"),
             F.sum("n_docs").cast("bigint").alias("ref_band_docs"),
             F.min("min_id").alias("ref_example_id"))
    )


def minhash_postings_index(docs: DataFrame, path: str,
                           id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 12,
                           bands: int = 6) -> None:
    """Persist the UNGROUPED banded postings (id, bk) of a reference
    corpus — the pair-generating form of :func:`minhash_band_index`
    (which keeps only per-band counts + min id, enough for collision
    STATS but not for edges).  An ingest pipeline that resolves
    COMPONENTS needs the actual colliding ids, so this artifact is
    what the incremental-components path probes: per batch, shuffle
    volume is batch signatures + postings, never corpus x corpus.

    Layout: ``{path}/postings`` (<= bands rows per doc, two columns)
    and ``{path}/meta`` (the signature config; probes refuse a
    mismatched config instead of silently generating a different pair
    universe)."""
    banded = _minhash_banded(docs, id_col, text_col, n,
                             num_hashes, bands)
    banded.withColumnRenamed(id_col, "id") \
        .write.mode("overwrite").parquet(f"{path}/postings")
    spark = docs.sparkSession
    spark.createDataFrame(
        [(int(n), int(num_hashes), int(bands))],
        "n long, num_hashes long, bands long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


@caching.leased
def minhash_index_candidates(spark, path: str, new_docs: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text", n: int = 3,
                             num_hashes: int = 12,
                             bands: int = 6) -> DataFrame:
    """Candidate near-dup pairs INVOLVING a new batch, against a
    persisted :func:`minhash_postings_index` -> distinct (id_a, id_b),
    id_a < id_b: batch x corpus collisions via the postings equi-join
    plus batch x batch self-collisions.  Together with the pairs the
    index's own corpus was resolved with, the union is EXACTLY the
    band-collision pair universe over (corpus ∪ batch) — what makes
    the incremental component result equal a full recompute."""
    meta = spark.read.parquet(f"{path}/meta").first()
    if (meta["n"], meta["num_hashes"], meta["bands"]) != (
            n, num_hashes, bands):
        raise ValueError(
            "minhash_index_candidates: config mismatch vs index meta "
            f"(index n={meta['n']}, num_hashes={meta['num_hashes']}, "
            f"bands={meta['bands']}) — a different signature config "
            "generates a different pair universe")
    banded = caching.persist(
        _minhash_banded(new_docs, id_col, text_col, n,
                        num_hashes, bands)
        .withColumnRenamed(id_col, "id"))
    ref = spark.read.parquet(f"{path}/postings")
    cross = banded.join(
        ref.select(F.col("id").alias("__r"), "bk"), "bk").select(
        F.least("id", "__r").alias("id_a"),
        F.greatest("id", "__r").alias("id_b"))
    self_p = banded.join(
        banded.select(F.col("id").alias("__r"), "bk"), "bk").filter(
        F.col("id") < F.col("__r")).select(
        F.col("id").alias("id_a"), F.col("__r").alias("id_b"))
    return cross.filter(F.col("id_a") != F.col("id_b")) \
        .unionByName(self_p).distinct()


@caching.leased
def strip_spans_incremental(docs: DataFrame, ref_index: DataFrame | None,
                            n: int = 13, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Incremental Lee et al. span removal for the INGEST path
    (VERDICT r8 #7): strip from ``docs`` (a new batch) every n-token
    window that (a) already occurs in ``ref_index`` — the accumulated
    corpus's distinct window-hash index, column ``h`` as produced by
    :func:`_window_hash_rows` aggregates — with NO keeper in the batch
    (the first occurrence lives in the corpus), or (b) duplicates
    WITHIN the batch, keeping min (doc, pos) as in
    :func:`strip_duplicated_spans`.  The combination equals
    first-arrival keeper election over (corpus ∪ batch) — the
    streaming semantic — while touching only batch-sized data plus the
    hash index.

    -> (id_col, text_clean, n_removed) for EVERY batch doc.
    ``ref_index=None`` (cold start) degrades to the batch-local strip.

    Scale shape: identical to :func:`strip_duplicated_spans` (one
    skew-immune groupBy for within-batch counts, explode only REMOVED
    windows, in-row rebuild on a left join) plus ONE equi-join of
    batch windows against the index — shuffle volume is batch tokens +
    index rows, never the accumulated corpus (the index is the
    persistable artifact :func:`cross_duplicated_windows` documents).
    """
    wins = caching.persist(
        _window_hash_rows(docs, n, id_col, text_col))
    keep = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(id_col, "pos")).alias("keeper"),
    ).filter(F.col("cnt") >= 2)
    removed = (
        wins.join(keep, "h")
        .filter(~((F.col(id_col) == F.col(f"keeper.{id_col}"))
                  & (F.col("pos") == F.col("keeper.pos"))))
        .select(id_col, "pos")
    )
    if ref_index is not None:
        hits = (
            wins.join(ref_index.select("h").distinct(), "h")
            .select(id_col, "pos")
        )
        removed = removed.unionByName(hits).distinct()
    cov = (
        removed.select(
            F.col(id_col),
            F.explode(F.sequence(
                F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("idx"))
        .groupBy(id_col)
        .agg(F.collect_set("idx").alias("cov"))
    )
    toks = F.split(F.col(text_col), " ", -1)

    def _kept(t, i):
        return ~F.array_contains(F.col("cov"), i)

    return (
        docs.join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("cov").isNull(), F.col(text_col))
            .otherwise(F.concat_ws(" ", F.filter(toks, _kept)))
            .alias("text_clean"),
            F.when(F.col("cov").isNull(), F.lit(0))
            .otherwise(F.size("cov")).cast("bigint").alias("n_removed"),
        )
    )


def _contract_batch_edges(lab_ids: DataFrame, e: DataFrame):
    """Shared contraction step of the incremental-components family
    (r14, guide §3.2 'reduce the big side before shuffling'): the
    label lookup only needs rows for the batch's ENDPOINT ids, so the
    corpus-scale label table is touched by exactly ONE semi-join (its
    batch-bounded result is eagerly checkpointed and feeds every
    later join, which AQE then broadcasts) — the former shape joined
    the full label table twice (per endpoint leg) plus a third
    corpus-scale anti-join for new-node detection.

    Returns ``(mapped, new_ids)``: the contracted batch edge list
    (endpoints replaced by their current comp, new nodes by
    themselves) and the endpoint ids absent from the labels.  A
    contracted id is either a comp label (which, being a member
    minimum, is itself present in the labels) or a new endpoint — so
    ``sub SEMI JOIN new_ids`` reproduces the former
    ``sub ANTI JOIN labels`` exactly.

    Both the batch edge list and the restricted label plane are
    eagerly checkpointed: ``e`` is typically the OUTPUT of a candidate
    probe + Jaccard verify pipeline, and this helper references it
    three times (eps, mapped legs) — unpersisted, that whole upstream
    re-executed per reference (measured 2.4x on the components query
    when the first cut skipped this)."""
    e = e.localCheckpoint(eager=True)
    eps = (e.select(F.col("__a").alias("id"))
           .union(e.select(F.col("__b").alias("id"))).distinct())
    lsub = lab_ids.join(eps, "id", "leftsemi") \
        .localCheckpoint(eager=True)
    ca = lsub.select(F.col("id").alias("__a"),
                     F.col("comp").alias("__ca"))
    cb = lsub.select(F.col("id").alias("__b"),
                     F.col("comp").alias("__cb"))
    mapped = (
        e.join(ca, "__a", "left").join(cb, "__b", "left")
        .select(F.coalesce("__ca", F.col("__a")).alias("id_a"),
                F.coalesce("__cb", F.col("__b")).alias("id_b"))
    )
    new_ids = eps.join(lsub.select("id"), "id", "left_anti")
    return mapped, new_ids


def incremental_components(labels: DataFrame, new_edges: DataFrame,
                           id_a: str = "id_a", id_b: str = "id_b",
                           max_iter: int = 25,
                           on_nonconverged: str = "raise",
                           stats: dict | None = None) -> DataFrame:
    """INCREMENTAL connected components for the dedup ingest path
    (VERDICT r10 #6) -> the full updated (id, comp) table.

    ``labels`` is the accumulated corpus's (id, comp) table with the
    :func:`connected_components` invariant comp == min member id;
    ``new_edges`` is a batch of near-dup pairs (endpoints may be new
    docs or existing ones).  Each existing component is CONTRACTED to
    its label: batch endpoints map to their current comp (new nodes to
    themselves), and the min-label propagation runs on THAT graph —
    nodes = touched comps + new nodes, edges = batch pairs, i.e.
    bounded by the batch's reach, never the corpus.  Because every
    existing label is already the min of its members, the contracted
    minimum equals the global minimum, so the result is pinned equal
    to a full recompute over (corpus ∪ batch) edges
    (test_incremental_components_equals_full).

    New-node ids cannot collide with component ids (a comp id is an
    EXISTING member id; new nodes are not in ``labels``), so the
    contracted node space is unambiguous.

    Scale shape: the batch subgraph CC is batch-sized; the final label
    refresh joins the (batch-bounded) comp remap into the labels table
    — AQE broadcasts it.  The whole-table rewrite here is for callers
    that want the result as a DataFrame; the PERSISTED form
    (:func:`components_index_build` / :func:`components_index_update`)
    rewrites only the affected comp-hash partitions.
    """
    lab = labels.select(F.col("id"), F.col("comp"))
    e = new_edges.select(F.col(id_a).alias("__a"),
                         F.col(id_b).alias("__b"))
    mapped, new_ids = _contract_batch_edges(lab, e)
    sub = connected_components(mapped, max_iter=max_iter,
                               on_nonconverged=on_nonconverged,
                               stats=stats)
    remap = sub.select(F.col("id").alias("comp"),
                       F.col("comp").alias("__new"))
    upd = (lab.join(remap, "comp", "left")
           .select("id", F.coalesce("__new", F.col("comp")).alias("comp")))
    new_rows = sub.join(new_ids, "id", "leftsemi").select("id", "comp")
    return upd.unionByName(new_rows)


def components_index_build(labels: DataFrame, path: str,
                           n_buckets: int = 64) -> None:
    """Materialize a (id, comp) label table as the PERSISTED component
    index: parquet PARTITIONED BY bucket = pmod(xxhash64(comp),
    n_buckets), so incremental updates rewrite only the partitions
    whose components a batch touches (the artifact-family shape:
    window-hash index, MinHash band index)."""
    if n_buckets < 1:
        raise ValueError("components_index_build requires n_buckets >= 1")
    out = labels.select(
        "id", "comp",
        F.pmod(F.xxhash64("comp"), F.lit(int(n_buckets))).alias("bucket"))
    out.write.mode("overwrite").partitionBy("bucket") \
        .parquet(f"{path}/labels")
    spark = labels.sparkSession
    # n_buckets as an explicit meta record: recovering it from
    # max(bucket)+1 would silently shrink the modulus whenever the top
    # buckets happen to be empty, corrupting every later remap
    spark.createDataFrame([(int(n_buckets),)], "n_buckets long") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def components_index_update(spark, path: str, new_edges: DataFrame,
                            id_a: str = "id_a", id_b: str = "id_b",
                            max_iter: int = 25,
                            stats: dict | None = None,
                            return_touched: bool = False):
    """INCREMENTAL update of a :func:`components_index_build` label
    index with a batch of near-dup edges — only AFFECTED comp-hash
    partitions are rewritten (VERDICT r10 #6): per batch this touches
    the batch subgraph plus the partitions holding remapped components
    and merge targets, never the corpus-scale rest of the table.

    Mechanics: contract-and-solve exactly like
    :func:`incremental_components`; the (batch-bounded) remap's source
    AND target buckets are collected driver-side (bounded by the
    batch's reach) and pushed as a literal partition filter; rows in
    those buckets are re-labeled and rewritten with
    partitionOverwriteMode=dynamic (rows changing bucket land in their
    new partition; unaffected partitions are untouched on disk).
    Searches against the index during the rewrite see the usual
    non-transactional window (the streaming-sink caveat shared by the
    whole artifact family).

    ``return_touched=True`` returns the (batch-reach-bounded,
    eagerly-checkpointed) DataFrame of cluster ids whose MEMBERSHIP
    the batch changed — remap sources, remap targets, and new nodes'
    clusters — the exact re-election set :func:`keeper_index_update`
    needs (clusters an edge touches without relabeling keep their
    membership, so their per-cluster aggregates are unchanged).

    Refuses to run on an index carrying streaming deltas
    (``{path}/delta`` written by ``streaming.components_stream``):
    this function reads only ``{path}/labels``, so updating a
    delta-carrying index would compute from stale labels.  Compact
    the deltas into the base first (rebuild via
    :func:`components_index_build` over
    :func:`components_index_view`), then update.
    """
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jsc.hadoopConfiguration())
    if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/delta")):
        raise ValueError(
            "components_index_update: index carries streaming deltas "
            f"({path}/delta); compact them into the base labels first "
            "(components_index_build over components_index_view) — "
            "updating from labels alone would use stale components")
    n_buckets = int(spark.read.parquet(f"{path}/meta")
                    .agg(F.max("n_buckets")).first()[0])
    lab = spark.read.parquet(f"{path}/labels")
    lab_ids = lab.select("id", "comp")
    e = new_edges.select(F.col(id_a).alias("__a"),
                         F.col(id_b).alias("__b"))
    mapped, new_ids = _contract_batch_edges(lab_ids, e)
    sub = connected_components(mapped, max_iter=max_iter, stats=stats)
    # remap rows where the label actually changes, plus brand-new nodes
    remap = (sub.filter(F.col("id") != F.col("comp"))
             .select(F.col("id").alias("comp"),
                     F.col("comp").alias("__new")))
    new_rows = sub.join(new_ids, "id", "leftsemi").select("id", "comp")
    # the clusters whose MEMBERSHIP this batch changes: remapped
    # sources (possibly merged away), remap targets, and the clusters
    # new nodes land in.  Clusters an edge touches WITHOUT relabeling
    # (both endpoints already share the comp) keep their membership,
    # so downstream per-cluster aggregates (keeper election) need not
    # revisit them.  Eagerly checkpointed (batch-reach-bounded) BEFORE
    # the partition rewrite below invalidates the labels it reads.
    tc = (remap.select(F.col("comp").alias("cluster"))
          .union(remap.select(F.col("__new").alias("cluster")))
          .union(new_rows.select(F.col("comp").alias("cluster")))
          .distinct())
    if return_touched:
        # only checkpoint when the caller consumes tc AFTER the
        # partition rewrite below (the bucket collect runs before it)
        tc = tc.localCheckpoint(eager=True)
    # bounded collect: source buckets (old comps being remapped) +
    # target buckets (new labels) + new nodes' buckets
    bkt = F.pmod(F.xxhash64("comp"), F.lit(n_buckets))
    buckets = {
        r["b"] for r in
        tc.select(F.pmod(F.xxhash64("cluster"), F.lit(n_buckets))
                  .alias("b")).distinct().collect()
    }
    if not buckets:
        return tc if return_touched else None
    blist = sorted(int(b) for b in buckets)
    touched = (
        lab.filter(F.col("bucket").isin(blist))
        .select("id", "comp")
        .join(remap, "comp", "left")
        .select("id", F.coalesce("__new", F.col("comp")).alias("comp"))
        .unionByName(new_rows)
        .select("id", "comp", F.pmod(F.xxhash64("comp"),
                                     F.lit(n_buckets)).alias("bucket"))
    )
    # the write OVERWRITES partitions the plan also READS: an eager
    # localCheckpoint (not persist — a memory-pressure eviction would
    # silently re-read half-overwritten source files) materializes the
    # updated rows BEFORE any partition is touched
    touched = touched.localCheckpoint(eager=True)
    written = {int(r["bucket"]) for r in
               touched.select("bucket").distinct().collect()}
    (touched.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(f"{path}/labels"))
    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — an affected source bucket whose every row moved elsewhere
    # receives no rows and would keep its STALE files; drop those dirs
    # explicitly (Hadoop FS API: portable across local and cluster FS)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jsc.hadoopConfiguration())
    for b in sorted(set(blist) - written):
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{path}/labels/bucket={b}"), True)
    return tc if return_touched else None


def components_index_view(spark, path: str,
                          before_batch: int | None = None) -> DataFrame:
    """Current (id, comp) view of a persisted component index that may
    carry streaming DELTAS (``{path}/delta/batch=<id>`` written by
    ``streaming.components_stream``): per id, the newest row wins
    (base labels count as batch -1).  ``before_batch`` excludes deltas
    from batch ids >= the given one — the replay-safety filter (a
    restarted batch never reads its own failed attempt's half-written
    delta), the fuzzy_dedup_stream recipe."""
    from pyspark.errors import AnalysisException
    parts = []
    try:
        parts.append(spark.read.parquet(f"{path}/labels")
                     .select("id", "comp",
                             F.lit(-1).cast("long").alias("__b")))
    except AnalysisException:
        pass
    try:
        d = spark.read.parquet(f"{path}/delta")
        if before_batch is not None:
            d = d.filter(F.col("batch") < F.lit(int(before_batch)))
        parts.append(d.select("id", "comp",
                              F.col("batch").cast("long").alias("__b")))
    except AnalysisException:
        pass
    if not parts:
        return spark.createDataFrame([], "id long, comp long")
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    return allr.groupBy("id").agg(F.max_by("comp", "__b").alias("comp"))


def incremental_components_delta(labels: DataFrame,
                                 new_edges: DataFrame,
                                 id_a: str = "id_a", id_b: str = "id_b",
                                 max_iter: int = 25,
                                 stats: dict | None = None) -> DataFrame:
    """The DELTA of :func:`incremental_components`: only the (id, comp)
    rows a batch CHANGES or CREATES — batch-reach-bounded, the
    idempotent unit the streaming tier persists per batch (applying
    the same edge batch twice yields the same labels, so a replayed
    delta overwrite is harmless)."""
    lab = labels.select(F.col("id"), F.col("comp"))
    e = new_edges.select(F.col(id_a).alias("__a"),
                         F.col(id_b).alias("__b"))
    mapped, new_ids = _contract_batch_edges(lab, e)
    sub = connected_components(mapped, max_iter=max_iter, stats=stats)
    remap = (sub.filter(F.col("id") != F.col("comp"))
             .select(F.col("id").alias("comp"),
                     F.col("comp").alias("__new")))
    changed = (lab.join(remap, "comp")
               .select("id", F.col("__new").alias("comp")))
    new_rows = sub.join(new_ids, "id", "leftsemi").select("id", "comp")
    return changed.unionByName(new_rows)


def _keeper_elect(members: DataFrame, nd: DataFrame,
                  cluster_col: str = "comp") -> DataFrame:
    """Per-cluster quality argmax: keeper = max_by(id, (nd, -id)) —
    all-integer struct max, engine-exact (the r12
    dedup_keeper_election policy).  ``members`` = (id, comp) label
    rows; ``nd`` = (doc_id, nd) quality table."""
    return (members.join(nd.withColumnRenamed("doc_id", "id"), "id")
            .groupBy(F.col(cluster_col).alias("cluster"))
            .agg(F.max_by("id", F.struct(F.col("nd").alias("a"),
                                         (-F.col("id")).alias("b")))
                 .alias("keeper_id")))


def keeper_index_build(labels: DataFrame, nd: DataFrame, path: str,
                       n_buckets: int = 64) -> None:
    """Materialize the per-cluster KEEPER table (cluster, keeper_id)
    as a persisted index partitioned by pmod(xxhash64(cluster),
    n_buckets) — the election composes incrementally (argmax is a
    per-cluster aggregate), so ingest batches refresh only touched
    clusters (:func:`keeper_index_update`).  Singleton docs are not
    stored: they keep themselves at read time (COALESCE)."""
    if n_buckets < 1:
        raise ValueError("keeper_index_build requires n_buckets >= 1")
    k = _keeper_elect(labels.select("id", "comp"), nd)
    out = k.select(
        "cluster", "keeper_id",
        F.pmod(F.xxhash64("cluster"), F.lit(int(n_buckets)))
        .alias("bucket"))
    out.write.mode("overwrite").partitionBy("bucket") \
        .parquet(f"{path}/labels")
    spark = labels.sparkSession
    spark.createDataFrame([(int(n_buckets),)], "n_buckets long") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def keeper_index_update(spark, comps_path: str, keep_path: str,
                        touched: DataFrame, nd: DataFrame) -> None:
    """Re-elect keepers for the TOUCHED clusters only (VERDICT r12
    Next #6): ``touched`` is the batch-bounded cluster-id set — the
    union of the batch pair endpoints' PRE-update and POST-update
    component labels (every cluster whose membership can change
    contains such an endpoint; clusters merged away appear as
    pre-labels and are DELETED here).  Members come from the
    POST-update component index at ``comps_path``; only the keeper
    buckets holding touched clusters are rewritten (untouched clusters
    sharing a bucket are carried over verbatim), and buckets emptied
    by cluster deletion are dropped explicitly (dynamic partition
    overwrite cannot rewrite a partition that receives no rows — the
    r11 lesson).  Idempotent: re-running the same batch re-elects the
    same keepers."""
    n_buckets = int(spark.read.parquet(f"{keep_path}/meta")
                    .agg(F.max("n_buckets")).first()[0])
    t = touched.select(F.col("cluster").cast("long")).distinct()
    bkt = F.pmod(F.xxhash64("cluster"), F.lit(n_buckets))
    # bounded collect: touched clusters are batch-reach-bounded
    blist = sorted(int(r["b"]) for r in
                   t.select(bkt.alias("b")).distinct().collect())
    if not blist:
        return
    labels = spark.read.parquet(f"{comps_path}/labels")
    members = labels.select("id", "comp").join(
        t.withColumnRenamed("cluster", "comp"), "comp")
    new_k = _keeper_elect(members, nd)
    keep = spark.read.parquet(f"{keep_path}/labels")
    untouched = (keep.filter(F.col("bucket").isin(blist))
                 .join(t, "cluster", "left_anti")
                 .select("cluster", "keeper_id"))
    out = (untouched.unionByName(new_k)
           .select("cluster", "keeper_id", bkt.alias("bucket")))
    # eager materialization BEFORE overwriting partitions the plan
    # also reads (the components_index_update recipe)
    out = out.localCheckpoint(eager=True)
    written = {int(r["bucket"]) for r in
               out.select("bucket").distinct().collect()}
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(f"{keep_path}/labels"))
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jsc.hadoopConfiguration())
    for b in sorted(set(blist) - written):
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{keep_path}/labels/bucket={b}"), True)


def dedup_keeper_view(spark, index_path: str,
                      before_batch: int | None = None) -> DataFrame:
    """Current KEEPER view of a streaming dedup-resolution index
    (``dedup_resolution_stream`` layout: delta/postings/quality per
    batch) -> (doc_id, cluster, keeper_id, keep) over every ingested
    doc — the SAME quality-argmax policy as the batch election
    (keeper = max_by(id, (nd, -id)) per cluster, singletons keep
    themselves).  Labels come from :func:`components_index_view`;
    quality rows are static per doc (nd is a pure function of the
    text), so replayed batches fold away with a MAX.

    Raises a clear format error when the index has no ``quality/``
    directory (ADVICE r13 #3): an index written by a pre-r13
    ``dedup_resolution_stream`` (or a labels-only compaction) lacks
    per-batch quality rows, and the keeper view cannot be derived from
    labels alone.  The existence check goes through the Hadoop FS API
    (ADVICE r14 #1): ``os.path.isdir`` only understands bare local
    paths, so a valid index at an hdfs://, s3://, or file:-scheme URI
    would be spuriously rejected."""
    jvm = spark._jvm
    qpath = jvm.org.apache.hadoop.fs.Path(f"{index_path}/quality")
    fs = qpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(qpath):
        raise ValueError(
            f"dedup_keeper_view: {index_path} has no quality/ directory "
            "— this index predates the r13 streaming-keeper layout "
            "(dedup_resolution_stream writes quality/batch=<id> rows); "
            "re-ingest or backfill quality before deriving keepers")
    q = spark.read.parquet(f"{index_path}/quality")
    if before_batch is not None:
        q = q.filter(F.col("batch") < F.lit(int(before_batch)))
    nd = q.groupBy("doc_id").agg(F.max("nd").alias("nd"))
    labels = components_index_view(spark, index_path,
                                   before_batch=before_batch)
    lab = (nd.join(labels.withColumnRenamed("id", "doc_id"),
                   "doc_id", "left")
           .select("doc_id", "nd",
                   F.coalesce("comp", F.col("doc_id")).alias("cluster")))
    keepers = lab.groupBy("cluster").agg(
        F.max_by("doc_id", F.struct(F.col("nd").alias("a"),
                                    (-F.col("doc_id")).alias("b")))
        .alias("keeper_id"))
    return (lab.join(keepers, "cluster")
            .select("doc_id", F.col("cluster").cast("long"),
                    F.col("keeper_id").cast("long"),
                    (F.col("doc_id") == F.col("keeper_id"))
                    .alias("keep")))
