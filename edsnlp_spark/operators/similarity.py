"""Similarity search over embedding columns (north-star ANN ops).

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the full corpus, ranked per query.  Scale path:
LSH-bucketed search via random hyperplane signatures — candidates only
meet inside a bucket (equi-join), turning O(Q x N) into O(Q x N / 2^bits)
per table scan.  All arithmetic in double precision, left-to-right, so a
DuckDB oracle reproduces values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..core import caching


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected to be small — broadcast it; the corpus streams
    through one projection + per-query top-k (window over rank).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvec = F.transform(F.col(q_vec_col), lambda x: x.cast("double"))
    corpus = emb.select(F.col(id_col).alias("n_id"), vec.alias("v"))
    qs = queries.select(F.col(q_id_col).alias("q_id"), qvec.alias("qv"))
    scored = (
        corpus.join(F.broadcast(qs), F.col("n_id") != F.col("q_id"))
        .select(
            "q_id", "n_id",
            cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint"),
                F.round("cos", 4).alias("cos_sim"))
    )


def _centers_arr(centers: list[list[float]]) -> Column:
    """Literal array<struct<cell,cv>> of centroids (broadcast-in-plan)."""
    return F.array(*[
        F.struct(F.lit(i).alias("cell"),
                 F.array(*[F.lit(float(x)) for x in c]).alias("cv"))
        for i, c in enumerate(centers)
    ])


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 2, seed: int = 42,
             centroids: list[list[float]] | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """IVF-style ANN: coarse quantizer cells + n_probe search.  Each query
    probes its ``n_probe`` nearest cells (by cosine) and ranks only those
    cells' vectors.

    Two index-build paths:

    * ``centroids=None`` — MLlib KMeans fit (environment-dependent init;
      recall asserted in pytest).
    * ``centroids=[...]`` — precomputed centroid list.  This is the
      realistic production shape: the IVF index is built offline (one
      KMeans batch job) and the broadcast centroid table is index
      metadata.  Deterministic, so a SQL oracle can reproduce the exact
      cell assignment (ties broken by lower cell id).

    The cluster assignment is a one-time batch job (like building an
    index); per-query work drops from O(N) to O(N * n_probe / n_cells).
    Assignment with given centroids is a pure projection (no shuffle):
    argmax over a literal centroid array.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corpus = emb.select(F.col(id_col).alias("n_id"), vec.alias("v"))

    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = corpus.withColumn("features", array_to_vector(F.col("v")))
        model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
        assigned = model.transform(train).select(
            "n_id", "v", F.col("prediction").alias("cell"))
        centers = [list(map(float, c)) for c in model.clusterCenters()]
    else:
        centers = [list(map(float, c)) for c in centroids]
        carr = _centers_arr(centers)
        assigned = corpus.withColumn(
            "cell",
            F.sort_array(F.transform(
                carr,
                lambda c: F.struct(
                    (-cosine(F.col("v"), c["cv"])).alias("negcos"),
                    c["cell"].alias("cell"),
                ),
            ))[0]["cell"],
        )

    centers_arr = _centers_arr(centers)
    qvec = F.transform(F.col(q_vec_col), lambda x: x.cast("double"))
    qs = queries.select(F.col(q_id_col).alias("q_id"), qvec.alias("qv"))
    # pick the n_probe closest centroids per query (tiny: done via array ops)
    probed = qs.select(
        "q_id", "qv",
        F.explode(F.slice(
            F.sort_array(F.transform(
                centers_arr,
                lambda c: F.struct(
                    (-cosine(F.col("qv"), c["cv"])).alias("negcos"),
                    c["cell"].alias("cell"),
                ),
            )),
            1, n_probe,
        )).alias("p"),
    ).select("q_id", "qv", F.col("p.cell").alias("cell"))

    scored = (
        assigned.join(F.broadcast(probed), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cosine(F.col("qv"), F.col("v")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint"),
                F.round("cos", 4).alias("cos_sim"))
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: one bit per plane (sign of dot)."""
    return F.concat(*[
        F.when(
            dot(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in planes
    ])


def lsh_topk(emb: DataFrame, queries: DataFrame, planes: list[list[float]],
             k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Approximate top-k: rank only within the query's LSH bucket."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvec = F.transform(F.col(q_vec_col), lambda x: x.cast("double"))
    corpus = emb.select(
        F.col(id_col).alias("n_id"), vec.alias("v"),
        hyperplane_signature(vec, planes).alias("bucket"),
    )
    qs = queries.select(
        F.col(q_id_col).alias("q_id"), qvec.alias("qv"),
        hyperplane_signature(qvec, planes).alias("bucket"),
    )
    scored = (
        corpus.join(F.broadcast(qs), "bucket")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cosine(F.col("qv"), F.col("v")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint"),
                F.round("cos", 4).alias("cos_sim"))
    )


def cosine_neardup(emb: DataFrame, planes: list[list[float]],
                   threshold: float = 0.9, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup variant of
    similarity search): candidate generation by identical
    random-hyperplane signature, exact cosine verify inside the bucket
    only — never all-pairs, so the join scales with bucket occupancy
    (2^n_planes buckets), not corpus^2.

    Returns (a_id, b_id, cos_sim) with a_id < b_id.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sig = hyperplane_signature(vec, planes)
    base = emb.select(F.col(id_col).alias("id"), vec.alias("v"),
                      sig.alias("bucket"))
    a = base.select(F.col("id").alias("a_id"), F.col("v").alias("a_v"),
                    F.col("bucket").alias("a_bucket"))
    b = base.select(F.col("id").alias("b_id"), F.col("v").alias("b_v"),
                    F.col("bucket").alias("b_bucket"))
    cos = cosine(F.col("a_v"), F.col("b_v"))
    return (
        a.join(b, (F.col("a_bucket") == F.col("b_bucket"))
               & (F.col("a_id") < F.col("b_id")))
        .select("a_id", "b_id", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


@caching.leased
def semdedup(emb: DataFrame, centroids: list[list[float]],
             threshold: float = 0.95,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication for training corpora — cluster embeddings with a
    coarse quantizer, then within each cluster drop the HIGHER-id member
    of every pair whose cosine clears ``threshold``.

    -> (id_col, cell, keep) for every input vector.

    Scale shape: assignment is a pure projection over the broadcast
    centroid literal (no shuffle); the pairwise cosine is a per-cell
    self-join, so quadratic work is confined to cluster cells (the
    paper's point — never a corpus-level cross join).  Cell sizes are
    governed by the centroid count, exactly like the IVF index above.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    carr = _centers_arr([list(map(float, c)) for c in centroids])
    assigned = emb.select(
        F.col(id_col).alias("__id"), vec.alias("v")
    ).withColumn(
        "cell",
        F.sort_array(F.transform(
            carr,
            lambda c: F.struct(
                (-cosine(F.col("v"), c["cv"])).alias("negcos"),
                c["cell"].alias("cell"),
            ),
        ))[0]["cell"],
    )
    assigned = caching.persist(assigned)
    a = assigned.select("cell", F.col("__id").alias("a_id"),
                        F.col("v").alias("a_v"))
    b = assigned.select("cell", F.col("__id").alias("b_id"),
                        F.col("v").alias("b_v"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(cosine(F.col("a_v"), F.col("b_v")) >= F.lit(threshold))
        .select(F.col("b_id").alias("__id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__drop", F.lit(True)),
                      "__id", "left")
        .select(F.col("__id").alias(id_col), "cell",
                F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"))
    )


# ---- Product quantization (embedding compression for 100 TB ANN) -------

def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, summed left-to-right (oracle-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              out_col: str = "codes") -> DataFrame:
    """Product-quantization encoder: compress each d-dim vector into m
    sub-codes (one byte-sized int per subspace) against per-subspace
    codebooks -> (id_col, codes array<int>).

    Storage tier for embedding columns at corpus scale: a 64-dim float
    vector (256 B) becomes m=8 codes (8 B) — 32x smaller, so the whole
    ANN index fits where the raw vectors never would (Jegou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    ``codebooks[j][c]`` is centroid ``c`` of subspace ``j`` (each of
    length d/m).  Like :func:`ivf_topk`, the codebooks are OFFLINE
    index metadata (one KMeans-per-subspace batch job) passed in as
    literals, so encoding is a pure shuffle-free projection and a SQL
    oracle can reproduce every code (ties broken by lower code id).
    """
    return emb.select(
        F.col(id_col),
        pq_codes_col_named(vec_col, codebooks).alias(out_col),
    )


def _cb_fp(codebooks) -> tuple:
    """Hashable fingerprint of a codebook/centroid nest (memo key)."""
    return tuple(
        tuple(tuple(float(x) for x in cent) for cent in cb)
        for cb in codebooks
    )


def pq_codes_col(raw_vec: Column, codebooks: list[list[list[float]]]
                 ) -> Column:
    """PQ code array expression for a raw (float) vector column —
    reused by :func:`pq_encode` and :func:`ivf_pq_topk` so both plans
    share one projection shape."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec = F.transform(raw_vec, lambda x: x.cast("double"))

    def code_for(j: int) -> Column:
        sub = F.slice(vec, j * dsub + 1, dsub)
        cents = F.array(*[
            F.struct(
                l2sq(sub, F.array(*[F.lit(float(x)) for x in cent]))
                .alias("d"),
                F.lit(c).cast("int").alias("code"),
            )
            for c, cent in enumerate(codebooks[j])
        ])
        return F.sort_array(cents)[0]["code"]

    return F.array(*[code_for(j) for j in range(m)])


def pq_codes_col_named(vec_col: str, codebooks) -> Column:
    """Memoized :func:`pq_codes_col` over a NAMED column (r14): the
    m*k l2sq sub-trees cost thousands of py4j round-trips to build —
    measured ~7-15s of pq_adc_topk's wall was DRIVER-side plan
    construction vs ~2s execution (the r4 memo_column lesson).  The
    expression is a pure function of (column name, codebook values),
    so the built Column template is reused across runs."""
    from ..functions.memo import memo_column
    return memo_column(
        ("pq_codes", vec_col, _cb_fp(codebooks)),
        lambda: pq_codes_col(F.col(vec_col), codebooks))


def pq_adc_col(qv: Column, codes: Column,
               codebooks: list[list[list[float]]]) -> Column:
    """ADC distance expression between an exact (double) query vector
    and a PQ code array: sum_j ||q_j - codebook[j][code_j]||^2."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def adc_j(j: int) -> Column:
        qsub = F.slice(qv, j * dsub + 1, dsub)
        cb = F.array(*[
            F.array(*[F.lit(float(x)) for x in cent])
            for cent in codebooks[j]
        ])
        return l2sq(qsub, F.element_at(cb, codes[j] + 1))

    return sum((adc_j(j) for j in range(1, m)), adc_j(0))


def adc_lut_named(qv_col: str, codebooks) -> Column:
    """Memoized :func:`adc_lut_col` over a NAMED column (r14; the
    pq_codes_col_named rationale — the LUT is another m*k l2sq
    forest)."""
    from ..functions.memo import memo_column
    return memo_column(
        ("adc_lut", qv_col, _cb_fp(codebooks)),
        lambda: adc_lut_col(F.col(qv_col), codebooks))


def adc_lut_col(qv: Column, codebooks: list[list[list[float]]]) -> Column:
    """Per-QUERY ADC lookup table (Jegou et al. 2011 §IV.A, the
    asymmetric-distance table): ``lut[j][c] = ||q_j -
    codebook[j][c]||^2`` as a literal-free expression over the query
    vector — computed ONCE per query row on the (tiny, broadcast)
    query side, so the corpus-side pair score degrades to m array
    lookups instead of m re-evaluated :func:`l2sq` folds (r14, guide
    §2.3/'compute once': the per-pair subexpression depends only on
    (query, j, code), never on the corpus row).  Each cell is the
    IDENTICAL expression :func:`pq_adc_col` evaluates inline, so sums
    over the table are bit-identical to the inline form."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def lut_j(j: int) -> Column:
        qsub = F.slice(qv, j * dsub + 1, dsub)
        return F.array(*[
            l2sq(qsub, F.array(*[F.lit(float(x)) for x in cent]))
            for cent in codebooks[j]
        ])

    return F.array(*[lut_j(j) for j in range(m)])


def adc_from_lut(lut: Column, codes: Column, m: int) -> Column:
    """ADC distance from a precomputed :func:`adc_lut_col` table —
    ``sum_j lut[j][codes[j]]`` with the same left-to-right float
    addition order as :func:`pq_adc_col` (bit-identical results)."""
    terms = [F.element_at(F.element_at(lut, j + 1), codes[j] + 1)
             for j in range(m)]
    return sum(terms[1:], terms[0])


def pq_adc_topk(emb: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]], k: int = 10,
                rerank: int | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: encode the corpus
    once (pure projection), then rank candidates for each query by
    sum_j ||q_j - codebook[j][code_j]||^2 — the query side stays exact,
    only the corpus side is quantized.

    ``rerank=R`` adds the production second stage: shortlist the top R
    by ADC, fetch RAW vectors for only those R rows per query (an
    equi-join on the shortlist ids — the corpus-wide scan still touches
    codes only), and return the exact-L2 top-k of the shortlist.
    Quantization error then only costs recall when a true neighbor
    falls outside the R-shortlist, not whenever ADC misorders the
    top-k (Jegou et al. 2011 §V: "IVFADC with reranking").

    Scale shape: the scan reads CODES (m ints/vector) instead of raw
    vectors, the query set is broadcast, and the per-pair cost is m
    table lookups + m small L2s — no shuffle beyond the final per-query
    top-k window (and, with rerank, one id-equi-join sized Q x R).
    Combine with :func:`ivf_topk` cells for the classic IVF-PQ layout
    (cell prune, then ADC within the cell).
    """
    codes = pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col).alias("n_id"), "codes")
    qvec = F.transform(F.col(q_vec_col), lambda x: x.cast("double"))
    qs = queries.select(F.col(q_id_col).alias("q_id"), qvec.alias("qv"))
    # ADC lookup table materialized on the broadcast (query) side —
    # m*k doubles per query — so each corpus pair costs m lookups
    # instead of m l2sq folds (bit-identical; see adc_lut_col).
    qlut = qs.select("q_id", "qv",
                     adc_lut_named("qv", codebooks).alias("__lut"))
    scored = (
        codes.join(F.broadcast(qlut), F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id",
                adc_from_lut(F.col("__lut"), F.col("codes"),
                             len(codebooks)).alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("n_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is None:
        return (
            ranked.filter(F.col("rank") <= k)
            .select("q_id", "n_id", F.col("rank").cast("bigint"),
                    F.round("adc", 4).alias("adc_dist"))
        )
    shortlist = ranked.filter(F.col("rank") <= max(rerank, k)) \
        .select("q_id", "n_id")
    return _exact_rerank(emb, qs, shortlist, k,
                         id_col=id_col, vec_col=vec_col)


def _exact_rerank(emb: DataFrame, qs: DataFrame, shortlist: DataFrame,
                  k: int, id_col: str, vec_col: str) -> DataFrame:
    """Second stage shared by :func:`pq_adc_topk` and
    :func:`ivf_pq_topk` (Jegou et al. 2011 §V, "with reranking"): fetch
    RAW vectors for only the shortlisted (q_id, n_id) pairs — an
    equi-join sized Q x R, the corpus-wide scan stays codes-only — and
    return the exact-L2 top-k of the shortlist.  ``qs`` must be
    (q_id, qv) with qv already cast to array<double>."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    raw = emb.select(F.col(id_col).alias("n_id"), vec.alias("v"))
    exact = (
        shortlist.join(raw, "n_id")
        .join(F.broadcast(qs), "q_id")
        .select("q_id", "n_id", l2sq(F.col("qv"), F.col("v")).alias("d"))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("n_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", F.col("rank").cast("bigint"),
                F.round("d", 4).alias("adc_dist"))
    )


def ivf_pq_topk(emb: DataFrame, queries: DataFrame,
                centroids: list[list[float]],
                codebooks: list[list[list[float]]],
                k: int = 10, n_probe: int = 2,
                rerank: int | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """The classic IVF-PQ (IVFADC) layout (Jegou et al. 2011 §V): one
    shuffle-free projection assigns each corpus vector a coarse cell
    (cosine argmax over the literal centroids, ties -> lower cell) AND
    its PQ codes; each query probes its ``n_probe`` nearest cells and
    ADC-ranks ONLY those cells' codes.

    Per-query work drops to O(N * n_probe / n_cells) pair scores, each
    over m ints — the compound of the IVF prune and the PQ compression;
    the index scan never touches raw vectors.  Both index structures
    are offline metadata literals, so the full pipeline has one
    broadcast join (probed cells x corpus cells) and one top-k window.

    ``rerank=R`` adds the production second stage (IVFADC "with
    reranking", r7): exact-L2 re-rank of the per-query top-R ADC
    shortlist — raw vectors are fetched ONLY for the Q x R shortlist
    pairs, the probed-cell scan stays codes-only.  This recovers the
    recall that 8-bit quantization loses on near-uniform embeddings
    (measured: raw ADC ~0.2 recall@10 on the unit-sphere test data,
    with rerank >= 0.5 — see test_ivf.py).
    """
    centers = [list(map(float, c)) for c in centroids]
    corpus = _ivfpq_corpus(emb, centers, codebooks, id_col, vec_col)
    return _ivfpq_search(corpus, queries, centers, codebooks, k, n_probe,
                         rerank=rerank, emb=emb, id_col=id_col,
                         vec_col=vec_col, q_id_col=q_id_col,
                         q_vec_col=q_vec_col)


def _ivfpq_corpus(emb: DataFrame, centers: list[list[float]],
                  codebooks: list[list[list[float]]],
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """The IVF-PQ corpus projection -> (n_id, cell, codes): the thing an
    OFFLINE index build materializes (see :func:`build_ivfpq_index`) —
    one shuffle-free pass assigning each vector its coarse cell (cosine
    argmax, ties -> lower cell) and its PQ codes."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    carr = _centers_arr(centers)
    return emb.select(
        F.col(id_col).alias("n_id"),
        F.sort_array(F.transform(
            carr,
            lambda c: F.struct(
                (-cosine(vec, c["cv"])).alias("negcos"),
                c["cell"].alias("cell"),
            ),
        ))[0]["cell"].alias("cell"),
        pq_codes_col_named(vec_col, codebooks).alias("codes"),
    )


def _ivfpq_search(corpus: DataFrame, queries: DataFrame,
                  centers: list[list[float]],
                  codebooks: list[list[list[float]]],
                  k: int, n_probe: int,
                  rerank: int | None = None,
                  emb: DataFrame | None = None,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  q_id_col: str = "q_id",
                  q_vec_col: str = "q_vec") -> DataFrame:
    """Online half of IVF-PQ: probe cells, ADC-rank the probed cells'
    codes, optional exact rerank (needs ``emb`` for raw vectors).
    ``corpus`` is the (n_id, cell, codes) plane — freshly projected or
    read back from a saved index."""
    carr = _centers_arr(centers)
    qvec = F.transform(F.col(q_vec_col), lambda x: x.cast("double"))
    qs = queries.select(F.col(q_id_col).alias("q_id"), qvec.alias("qv"))
    probed = qs.select(
        "q_id", "qv",
        F.explode(F.slice(
            F.sort_array(F.transform(
                carr,
                lambda c: F.struct(
                    (-cosine(F.col("qv"), c["cv"])).alias("negcos"),
                    c["cell"].alias("cell"),
                ),
            )),
            1, n_probe,
        )).alias("p"),
    ).select("q_id", "qv", F.col("p.cell").alias("cell"))
    # per-query ADC table on the broadcast side (see adc_lut_col): the
    # probed-cell scan then does m lookups per pair, never l2sq folds
    probed = probed.select(
        "q_id", "cell",
        adc_lut_named("qv", codebooks).alias("__lut"))
    scored = (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id",
                adc_from_lut(F.col("__lut"), F.col("codes"),
                             len(codebooks)).alias("adc"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("n_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is None:
        return (
            ranked.filter(F.col("rank") <= k)
            .select("q_id", "n_id", F.col("rank").cast("bigint"),
                    F.round("adc", 4).alias("adc_dist"))
        )
    if emb is None:
        raise ValueError("rerank requires the raw-vector table (emb)")
    shortlist = ranked.filter(F.col("rank") <= max(rerank, k)) \
        .select("q_id", "n_id")
    return _exact_rerank(emb, qs, shortlist, k,
                         id_col=id_col, vec_col=vec_col)


def build_ivfpq_index(emb: DataFrame, path: str,
                      centroids: list[list[float]],
                      codebooks: list[list[list[float]]],
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> None:
    """OFFLINE IVF-PQ index build (r9): materialize the (n_id, cell,
    codes) plane as parquet PARTITIONED BY cell, plus a 1-row metadata
    table (centroids + codebooks as JSON) — the production split the
    inline :func:`ivf_pq_topk` docstring has always described: encoding
    is a batch job that runs ONCE; the online path never touches raw
    vectors OR re-encodes.  cell-partitioned files mean a probed-cell
    search reads only n_probe/n_cells of the index bytes (partition
    pruning / DPP), which at 100 TB is the difference between an index
    scan and a corpus scan.
    """
    import json as _json

    centers = [list(map(float, c)) for c in centroids]
    corpus = _ivfpq_corpus(emb, centers, codebooks, id_col, vec_col)
    corpus.write.mode("overwrite").partitionBy("cell") \
        .parquet(f"{path}/codes")
    meta = _json.dumps({"centroids": centers,
                        "codebooks": [[list(map(float, c)) for c in cb]
                                      for cb in codebooks]})
    spark = emb.sparkSession
    spark.createDataFrame([(meta,)], "meta string") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def ivfpq_index_append(new_emb: DataFrame, path: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> None:
    """INCREMENTAL IVF-PQ index update (r10): encode ONLY a new batch
    of vectors against the saved index's own metadata and append their
    (n_id, cell, codes) rows to the cell-partitioned codes table — the
    growing-corpus counterpart of :func:`build_ivfpq_index`.  At 100 TB
    the corpus grows daily; re-encoding everything per ingest batch is
    a corpus scan, while this touches batch rows only (quantizer drift
    is handled by periodic offline retrain+rebuild, the standard IVF
    operating procedure).  Searches over the appended index are
    identical to a full rebuild over the union
    (test_ivfpq_index_append_equals_rebuild).

    Caller contract: new ids must not already exist in the index
    (dedup upstream); appends are atomic per parquet task but the
    parquet sink is not transactional across a concurrent search —
    same caveat as the streaming sinks.
    """
    import json as _json

    spark = new_emb.sparkSession
    meta = _json.loads(
        spark.read.parquet(f"{path}/meta").first()["meta"])
    corpus = _ivfpq_corpus(new_emb, meta["centroids"], meta["codebooks"],
                           id_col, vec_col)
    corpus.write.mode("append").partitionBy("cell") \
        .parquet(f"{path}/codes")


def ivf_pq_topk_indexed(spark, path: str, queries: DataFrame,
                        k: int = 10, n_probe: int = 2,
                        rerank: int | None = None,
                        emb: DataFrame | None = None,
                        q_id_col: str = "q_id",
                        q_vec_col: str = "q_vec") -> DataFrame:
    """Search a SAVED IVF-PQ index (see :func:`build_ivfpq_index`):
    load the metadata (one bounded row), scan only the probed cells'
    code partitions, ADC-rank, optional exact rerank against ``emb``.
    Bit-identical to :func:`ivf_pq_topk` over the same index config
    (pinned by test_ivfpq_index_roundtrip).  Measured at sf0.1
    (local[32], warm, isolation context): inline 5.97s -> indexed
    2.29s (build 12.2s, paid once) — the per-query encode gone; what
    remains is the probed-cell ADC fold, i.e. the actual search."""
    import json as _json

    meta = _json.loads(
        spark.read.parquet(f"{path}/meta").first()["meta"])
    corpus = spark.read.parquet(f"{path}/codes")
    return _ivfpq_search(corpus, queries, meta["centroids"],
                         meta["codebooks"], k, n_probe,
                         rerank=rerank, emb=emb,
                         q_id_col=q_id_col, q_vec_col=q_vec_col)


def pq_train_codebooks(emb: DataFrame, m: int = 8, k: int = 8,
                       n_iter: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       ) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks with Lloyd iterations
    (deterministic init: the k lowest-id vectors' slices), returning
    plain Python lists — OFFLINE index metadata for
    :func:`pq_encode` / :func:`pq_adc_topk`.

    Scale shape: each iteration is ONE pass over the corpus — the
    assignment is a shuffle-free projection against the current literal
    codebooks, and the update is a groupBy over (subspace, code), i.e.
    at most m*k groups; only the m*k*dsub centroid floats ever reach
    the driver.  Train on a SAMPLE at 100 TB (`emb.sample(...)`) — the
    quantizer needs distribution coverage, not every row.
    """
    seeds = [
        [float(x) for x in r[vec_col]]
        for r in emb.select(id_col, vec_col)
                    .orderBy(id_col).limit(k).collect()
    ]
    d = len(seeds[0])
    dsub = d // m
    books = [[s[j * dsub:(j + 1) * dsub] for s in seeds] for j in range(m)]
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corpus = emb.select(vec.alias("v"))
    for _ in range(n_iter):
        # one row per (subspace, nearest-code) with the subvector sums
        per_sub = F.array(*[
            F.struct(
                F.lit(j).cast("int").alias("j"),
                F.sort_array(F.array(*[
                    F.struct(
                        l2sq(F.slice(F.col("v"), j * dsub + 1, dsub),
                             F.array(*[F.lit(float(x)) for x in cent]))
                        .alias("d"),
                        F.lit(c).cast("int").alias("code"),
                    )
                    for c, cent in enumerate(books[j])
                ]))[0]["code"].alias("code"),
                F.slice(F.col("v"), j * dsub + 1, dsub).alias("sub"),
            )
            for j in range(m)
        ])
        centroid_stats = (
            corpus.select(F.explode(per_sub).alias("a"))
            .groupBy(F.col("a.j").alias("j"), F.col("a.code").alias("code"))
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.col("a.sub")[i]).alias(f"s{i}")
                   for i in range(dsub)])
        )
        rows = centroid_stats.collect()  # at most m*k rows by keys
        for r in rows:
            books[r["j"]][r["code"]] = [r[f"s{i}"] / r["n"]
                                        for i in range(dsub)]
        # empty cells keep their previous centroid (classic Lloyd)
    return books


def cluster_diverse_sample(emb: DataFrame, centroids: list[list[float]],
                           n_per_cell: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Cluster-balanced diversity sampling (the D4 / cluster-coverage
    curation stage, Tirumala et al. 2023: sample ACROSS semantic
    clusters instead of wherever the corpus is densest): assign each
    vector to its nearest centroid (cosine argmax, ties -> lower cell —
    the same projection the IVF index and SemDeDup use), then keep each
    cell's ``n_per_cell`` most CENTRAL members -> (id_col, cell,
    cos_sim, rank), rank 1-based by (cos_sim desc, id).

    Scale shape: assignment is a shuffle-free projection over the
    broadcast centroid literal; the per-cell top-n is a window over
    cells (ordering by the 4dp-rounded cosine so engine float noise
    cannot flip ranks).  At extreme cell sizes replace the window with
    a per-cell ``max_by`` array aggregate (TakeOrdered semantics); the
    window form is kept here because the driver gate hashes exact rows.
    """
    if n_per_cell < 1:
        raise ValueError("cluster_diverse_sample requires n_per_cell >= 1")
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    carr = _centers_arr([list(map(float, c)) for c in centroids])
    best = F.sort_array(F.transform(
        carr,
        lambda c: F.struct(
            (-cosine(vec, c["cv"])).alias("negcos"),
            c["cell"].alias("cell"),
        ),
    ))[0]
    assigned = emb.select(
        F.col(id_col),
        best["cell"].alias("cell"),
        # + 0.0 normalizes -0.0 (trained vectors have negative
        # components, so a tiny negative cosine rounds to -0.0 and
        # breaks the value hash — the r8 lesson; oracle adds the same)
        (F.round(-best["negcos"], 4) + F.lit(0.0)).alias("cos_sim"),
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("cos_sim").desc(), F.col(id_col))
    return (
        assigned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_per_cell)
        .select(id_col, "cell", "cos_sim", F.col("rank").cast("bigint"))
    )


def knn_label_propagation(emb: DataFrame, seeds: DataFrame,
                          centroids: list[list[float]], k: int = 5,
                          n_probe: int = 3, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Pseudo-label every UNLABELED vector by majority vote of its k
    nearest LABELED neighbors, confined to IVF-probed cells ->
    (id_col, label, n_votes, top_cos) — the semi-supervised labeling
    pass (classify a 100 TB corpus from a hand-labeled seed set) that
    composes the ANN index machinery instead of training anything.

    ``seeds`` carries (id_col, label_col) for the labeled subset; its
    vectors are taken from ``emb`` by id.  Unlabeled = emb anti-join
    seeds.

    Scale shape — the JOIN DIRECTION is the point: :func:`ivf_topk`
    broadcasts its (small) query set into the corpus, but here the
    corpus IS the query side, so instead the LABELED index (seed
    vectors + their cell, small by definition — labels are expensive)
    is broadcast and the unlabeled corpus streams through it: cell
    probing is a shuffle-free projection over the centroid literal,
    candidates = corpus x (seeds in its n_probe cells), the per-vector
    top-k window partitions by the vector (each partition holds only
    its own candidates), and the vote is a bounded groupBy (<= k rows
    per vector).  The corpus is never shuffled by anything
    corpus-sized.  Rankings order by the 4dp-rounded cosine with the
    seed-id tie-break; vote ties break by (votes desc, label asc) —
    all engine-portable.
    """
    if k < 1 or n_probe < 1:
        raise ValueError(
            f"knn_label_propagation requires k >= 1 and n_probe >= 1 "
            f"(got k={k}, n_probe={n_probe})")
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corpus = emb.select(F.col(id_col).alias("n_id"), vec.alias("v"))
    seed_ids = seeds.select(F.col(id_col).alias("s_id"),
                            F.col(label_col).alias("label"))
    carr = _centers_arr([list(map(float, c)) for c in centroids])
    best = F.sort_array(F.transform(
        carr,
        lambda c: F.struct(
            (-cosine(F.col("v"), c["cv"])).alias("negcos"),
            c["cell"].alias("cell"),
        ),
    ))
    sassign = (
        corpus.join(seed_ids, corpus["n_id"] == seed_ids["s_id"])
        .select("s_id", "label", F.col("v").alias("sv"),
                best[0]["cell"].alias("cell"))
    )
    unlabeled = corpus.join(seed_ids,
                            corpus["n_id"] == seed_ids["s_id"],
                            "left_anti")
    probed = unlabeled.select(
        "n_id", "v",
        F.explode(F.transform(
            F.slice(best, 1, n_probe), lambda s: s["cell"])).alias("cell"),
    )
    cand = (
        probed.join(F.broadcast(sassign), "cell")
        .select("n_id", "s_id", "label",
                # + 0.0: -0.0 normalization for negative trained-vector
                # cosines (see cluster_diverse_sample)
                (F.round(cosine(F.col("v"), F.col("sv")), 4)
                 + F.lit(0.0)).alias("cos"))
    )
    w = Window.partitionBy("n_id").orderBy(F.col("cos").desc(),
                                           F.col("s_id"))
    topk = cand.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= k)
    votes = topk.groupBy("n_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.max("cos").alias("top_cos"))
    wv = Window.partitionBy("n_id").orderBy(
        F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") == 1)
        .select(F.col("n_id").alias(id_col), "label",
                F.col("n_votes").cast("bigint"), "top_cos")
    )


def hard_negative_triplets(emb: DataFrame, centroids: list[list[float]],
                           anchors: DataFrame | None = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Contrastive training-pair mining -> (anchor_id, pos_id, neg_id,
    pos_cos, neg_cos): for each anchor, the positive is its most-cosine
    similar SAME-CELL neighbor and the negative its least-similar
    same-cell neighbor — the classic "hard negative" shape (negatives
    that share the coarse cell are near the decision boundary; random
    negatives are too easy).  Anchors with fewer than 2 distinct
    same-cell neighbors are dropped (pos and neg must differ).

    Composes the ANN machinery: cell assignment is the same shuffle-free
    cosine-argmax projection as ``ivf_topk`` (centroids are literal
    index metadata); candidate pairs are CELL-CONFINED (the
    semdedup/cosine_neardup bound — per-cell quadratic, never corpus
    quadratic); election is one groupBy with min/max over
    ROUNDED-cosine structs (engine-portable ranking: ties break to the
    smaller neighbor id on both engines).  ``anchors`` (an id DataFrame)
    bounds the left side — the mining-batch shape; None mines every
    vector.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centers = [list(map(float, c)) for c in centroids]
    carr = _centers_arr(centers)
    assigned = emb.select(
        F.col(id_col),
        vec.alias("__v"),
        F.sort_array(F.transform(
            carr,
            lambda c: F.struct(
                (-cosine(vec, c["cv"])).alias("negcos"),
                c["cell"].alias("cell"),
            ),
        ))[0]["cell"].alias("cell"),
    )
    left = assigned.select(
        F.col(id_col).alias("a_id"), F.col("__v").alias("a_v"), "cell")
    if anchors is not None:
        left = left.join(
            anchors.select(F.col(id_col).alias("a_id")), "a_id")
    pairs = (
        left.join(assigned.select(F.col(id_col).alias("n_id"),
                                  F.col("__v").alias("n_v"), "cell"),
                  "cell")
        .filter(F.col("a_id") != F.col("n_id"))
        .select("a_id", "n_id",
                # + 0.0 normalizes -0.0 (a tiny negative cosine rounds
                # to -0.0 and breaks the value hash — the r8 lesson);
                # the oracle adds the same term
                (F.round(cosine(F.col("a_v"), F.col("n_v")), 4)
                 + F.lit(0.0)).alias("cos"))
    )
    elect = pairs.groupBy("a_id").agg(
        F.max_by(F.struct(F.col("n_id").alias("n_id"),
                          F.col("cos").alias("cos")),
                 F.struct(F.col("cos").alias("c"),
                          (-F.col("n_id")).alias("t"))).alias("p"),
        F.min_by(F.struct(F.col("n_id").alias("n_id"),
                          F.col("cos").alias("cos")),
                 F.struct(F.col("cos").alias("c"),
                          F.col("n_id").alias("t"))).alias("q"),
    )
    return (
        elect.filter(F.col("p.n_id") != F.col("q.n_id"))
        .select(F.col("a_id").alias("anchor_id"),
                F.col("p.n_id").alias("pos_id"),
                F.col("q.n_id").alias("neg_id"),
                F.col("p.cos").alias("pos_cos"),
                F.col("q.cos").alias("neg_cos"))
    )


def mmr_rerank(emb: DataFrame, queries: DataFrame, k: int = 10,
               n_candidates: int = 20, lam_num: int = 7,
               lam_den: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               q_id_col: str = "q_id",
               q_vec_col: str = "q_vec") -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): greedily pick
    ``argmax lam*rel(d) - (1-lam)*max_{s in selected} sim(d, s)`` so
    the returned k trade relevance against redundancy — the standard
    result-diversification pass a RAG/retrieval pipeline runs after
    ANN.

    -> (q_id, doc_id, mmr_rank, mmr_score): ``mmr_score`` is the
    INTEGER selection score ``lam_num*rel - (lam_den-lam_num)*maxsim``
    where rel/sim are cosines rounded to 4dp and scaled to 1e4 ints —
    the greedy is integer-only, so ranks and scores are engine-exact
    (ties break to the smaller doc id).

    Scale shape: relevance comes from the exact brute-force tier
    (swap in an IVF-PQ tier upstream for big corpora); everything
    after is confined to the n_candidates x n_candidates pairwise
    plane PER QUERY (cosines computed JVM-side by the same
    left-to-right fold every oracle mirrors), and the greedy runs in
    ONE applyInPandas over each query's bounded candidate group —
    never a corpus-wide operation.  lam defaults to 0.7.
    """
    if not (0 < lam_num <= lam_den):
        raise ValueError("mmr_rerank requires 0 < lam_num <= lam_den")
    cand = brute_force_topk(emb, queries, k=n_candidates,
                            id_col=id_col, vec_col=vec_col,
                            q_id_col=q_id_col, q_vec_col=q_vec_col)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = emb.select(F.col(id_col).alias("__vid"), vec.alias("__v"))
    withv = (cand.select("q_id", "n_id",
                         F.round(F.col("cos_sim") * 10000, 0)
                          .cast("long").alias("rel"))
             .join(vecs, F.col("n_id") == F.col("__vid"))
             .drop("__vid"))
    c1 = withv.select(F.col("q_id"), F.col("n_id").alias("d1"),
                      F.col("rel").alias("rel1"), F.col("__v").alias("v1"))
    c2 = withv.select(F.col("q_id"), F.col("n_id").alias("d2"),
                      F.col("__v").alias("v2"))
    pairs = (
        c1.join(c2, "q_id")
        .select("q_id", "d1", "rel1", "d2",
                F.round(F.round(cosine(F.col("v1"), F.col("v2")), 4)
                        * 10000, 0).cast("long").alias("sim"))
    )
    mu_num, mu_den = int(lam_num), int(lam_den)
    kk = int(k)

    def greedy(pdf):
        import pandas as pd
        rel: dict = {}
        sim: dict = {}
        for r in pdf.itertuples(index=False):
            rel[r.d1] = r.rel1
            sim[(r.d1, r.d2)] = r.sim
        qid = pdf["q_id"].iloc[0]
        remaining = sorted(rel)
        sel: list = []
        rows = []
        for rank in range(1, min(kk, len(remaining)) + 1):
            best_key, best_d = None, None
            for d in remaining:
                ms = max((sim[(d, s)] for s in sel), default=0)
                sc = mu_num * rel[d] - (mu_den - mu_num) * ms
                key = (sc, -d)
                if best_key is None or key > best_key:
                    best_key, best_d = key, d
            rows.append((qid, best_d, rank, best_key[0]))
            sel.append(best_d)
            remaining.remove(best_d)
        return pd.DataFrame(
            rows, columns=["q_id", "doc_id", "mmr_rank", "mmr_score"])

    return pairs.groupBy("q_id").applyInPandas(
        greedy, "q_id long, doc_id long, mmr_rank long, mmr_score long")
