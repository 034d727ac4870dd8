"""Scale-path queries: dedup, similarity search, simhash.

The north-star LLM-data-pipeline operators (BASELINE.json) as
oracle-checked queries.  Hashing is md5-based everywhere so DuckDB can
reproduce signatures exactly; cosine arithmetic is double-precision
left-to-right on both engines, rounded to 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t
from ..core import caching
from ..operators import dedup as D
from ..operators import similarity as S


# ---- MinHash-LSH near-dup candidates ----------------------------------

def _docs(spark, sf_dir):
    # Single small parquet file -> 1 split; shingling/hashing is
    # compute-bound, so spread rows across cores (see textops._notes).
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism)


def minhash_lsh_dedup(spark, sf_dir):
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), n=3, num_hashes=12, bands=6)


from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_MOD  # noqa: E402

_MINHASH_SIG_SQL = """
sigs AS (
  SELECT doc_id,
         [ {mins} ] AS sig
  FROM (
    SELECT doc_id,
           list_transform(
             list_distinct([
               array_to_string(toks[i:i+2], ' ')
               for i in range(1, len(toks) - 1)
             ]),
             s -> ('0x' || substr(md5(s), 1, 8))::BIGINT
           ) AS hs
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
  )
)
""".format(mins=", ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_MOD}))"
    for a, b in zip(MINHASH_A, MINHASH_B)
))

MINHASH_LSH_DEDUP_SQL = f"""
WITH {_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id, sig,
         unnest([
           '0|' || sig[1] || '|' || sig[2],
           '1|' || sig[3] || '|' || sig[4],
           '2|' || sig[5] || '|' || sig[6],
           '3|' || sig[7] || '|' || sig[8],
           '4|' || sig[9] || '|' || sig[10],
           '5|' || sig[11] || '|' || sig[12]
         ]) AS bk
  FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(len(list_filter([sig_a[i] = sig_b[i] for i in range(1, 13)],
                             x -> x)) / 12.0, 4) AS est_jaccard
FROM pairs
"""


# ---- incremental MinHash-LSH dedup against a persisted band index -----

def cross_minhash_dedup(spark, sf_dir):
    """Incremental FUZZY dedup (VERDICT r9 #7): which docs of a new
    batch (doc_id % 10 == 0) near-duplicate the accumulated corpus
    (the rest), probed against the corpus's persistable
    (band, value) signature index — the MinHash counterpart of
    cross_corpus_dedup's exact window-hash tier, and the fuzzy half of
    a real ingest pipeline.  The corpus collapses to its grouped band
    keys ONCE (minhash_band_index — the artifact you persist between
    batches); the batch's signatures equi-join it, so shuffle volume is
    batch + index, never corpus x corpus."""
    d = _docs(spark, sf_dir)
    new_docs = d.filter(F.col("doc_id") % 10 == 0)
    ref_docs = d.filter(F.col("doc_id") % 10 != 0)
    idx = D.minhash_band_index(ref_docs, n=3, num_hashes=12, bands=6)
    return D.cross_minhash_candidates(new_docs, idx, n=3,
                                      num_hashes=12, bands=6)


CROSS_MINHASH_DEDUP_SQL = f"""
WITH {_MINHASH_SIG_SQL},
banded AS (
  SELECT doc_id,
         unnest([
           '0|' || sig[1] || '|' || sig[2],
           '1|' || sig[3] || '|' || sig[4],
           '2|' || sig[5] || '|' || sig[6],
           '3|' || sig[7] || '|' || sig[8],
           '4|' || sig[9] || '|' || sig[10],
           '5|' || sig[11] || '|' || sig[12]
         ]) AS bk
  FROM sigs
),
idx AS (
  SELECT bk, COUNT(*) AS n_docs, MIN(doc_id) AS min_id
  FROM banded WHERE doc_id % 10 <> 0 GROUP BY bk
)
SELECT b.doc_id, COUNT(*)::BIGINT AS n_bands_hit,
       SUM(idx.n_docs)::BIGINT AS ref_band_docs,
       MIN(idx.min_id) AS ref_example_id
FROM banded b JOIN idx USING (bk)
WHERE b.doc_id % 10 = 0
GROUP BY b.doc_id
"""


# Full-recompute replay of the ingest-shaped incremental components
# (dedup_components_incremental): the pair universe is band
# collisions (the MinHash banding above) VERIFIED by exact 3-gram
# Jaccard >= 0.2, resolved by reachability — what the base-index +
# batch-probe + index-update chain composes to.
DEDUP_COMPONENTS_INCREMENTAL_SQL = f"""
WITH RECURSIVE {_MINHASH_SIG_SQL},
banded AS MATERIALIZED (
  SELECT doc_id,
         unnest([
           '0|' || sig[1] || '|' || sig[2],
           '1|' || sig[3] || '|' || sig[4],
           '2|' || sig[5] || '|' || sig[6],
           '3|' || sig[7] || '|' || sig[8],
           '4|' || sig[9] || '|' || sig[10],
           '5|' || sig[11] || '|' || sig[12]
         ]) AS bk
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, len(toks) - 1)
         ]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ver AS (
  SELECT id_a, id_b
  FROM (
    SELECT id_a, id_b,
           len(list_intersect(x.shingles, y.shingles)) AS shared,
           len(x.shingles) AS na, len(y.shingles) AS nb
    FROM cand
    JOIN sh x ON x.doc_id = id_a
    JOIN sh y ON y.doc_id = id_b)
  WHERE shared / (na + nb - shared) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM ver
  UNION SELECT id_b, id_a FROM ver
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
),
comps AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id)::BIGINT AS component,
       COALESCE(c.comp, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
"""


# ---- exact n-gram Jaccard over shared-shingle candidates --------------

def ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)


NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, len(toks) - 1)
         ]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       ROUND(shared / (na + nb - shared), 4) AS jaccard
FROM inter
WHERE ROUND(shared / (na + nb - shared), 4) >= 0.2
"""


# ---- df-capped (stop-shingle) n-gram Jaccard --------------------------

def ngram_jaccard_capped(spark, sf_dir):
    """ngram_jaccard with the skew-safe stop-shingle cap: shingles in
    >5 docs are dropped from candidate generation (quadratic blow-up
    guard), candidates verified with exact Jaccard over full sets."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2,
                                 max_df=5)


NGRAM_JACCARD_CAPPED_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, len(toks) - 1)
         ]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 5),
cex AS (SELECT doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cex a JOIN cex b ON a.s = b.s AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.shingles, sb.shingles))
           / (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) AS jac
  FROM cands
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, ROUND(jac, 4) AS jaccard
FROM verified WHERE ROUND(jac, 4) >= 0.2
"""


# ---- dedup resolution: components + canonical selection ---------------

def dedup_components(spark, sf_dir):
    """Near-dup pairs -> connected components -> canonical doc per
    component (the drop-list step of a dedup pipeline). Components via
    distributed min-label propagation; the oracle re-derives them with
    a recursive CTE reachability closure."""
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    return D.dedup_resolve(docs, pairs).select(
        "doc_id", F.col("component").cast("bigint").alias("component"),
        "is_canonical")


def _verified_jaccard_pairs(cands, docs, threshold: float = 0.2):
    """Exact 3-gram Jaccard verification over GIVEN candidate pairs:
    shingle sets are computed only for candidate-touched docs (two
    bounded semi-joins), and the threshold arithmetic —
    ``shared / (na + nb - shared)`` — is written identically in the
    oracle so the boolean decision can never drift."""
    ids = (cands.select(F.col("id_a").alias("doc_id"))
           .unionByName(cands.select(F.col("id_b").alias("doc_id")))
           .distinct())
    sh = (docs.join(ids, "doc_id")
          .select(F.col("doc_id"),
                  D.token_shingles(F.col("text"), 3).alias("sh"))
          .filter(F.size("sh") > 0))
    j = (cands
         .join(sh.select(F.col("doc_id").alias("id_a"),
                         F.col("sh").alias("sh_a")), "id_a")
         .join(sh.select(F.col("doc_id").alias("id_b"),
                         F.col("sh").alias("sh_b")), "id_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = shared / (F.size("sh_a") + F.size("sh_b") - shared)
    return j.filter(jac >= threshold).select("id_a", "id_b")


_DEDUP_SEED_BUILT: set = set()


@caching.leased
def _dedup_seed_index(spark, sf_dir) -> str:
    """Build-or-reuse the persisted BASE-corpus dedup state for
    ``sf_dir`` (the seed-index pattern): the MinHash banded postings
    (dedup.minhash_postings_index) plus the base components label
    index (dedup.components_index_build over the base corpus's
    verified band-collision pairs), under the gitignored
    ``.dedup_seed/<tag>``.  Pair generation over the accumulated
    corpus is paid ONCE per corpus snapshot; every ingest after that
    touches batch signatures + the index only."""
    import os

    from ..core import artifacts as _art

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        fp = "unknown"
    tag = _art.artifact_tag(
        os.path.abspath(sf_dir), "dedupseed-mh12x6-j02-mod7", fp)
    repo = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(repo, ".dedup_seed", tag)
    # three sub-artifacts, each with its own meta: the banded postings
    # under {path}/bands, the component label index under {path}/comps,
    # the per-cluster keeper index under {path}/keep (r13)
    if tag not in _DEDUP_SEED_BUILT:
        done = all(
            os.path.exists(os.path.join(path, sub, part, "_SUCCESS"))
            for sub, part in (("bands", "postings"), ("bands", "meta"),
                              ("comps", "labels"), ("comps", "meta"),
                              ("keep", "labels"), ("keep", "meta"))
        ) and _art.version_ok(path)
        if not done:
            docs = _docs(spark, sf_dir)
            base_docs = docs.filter(F.col("doc_id") % 7 != 3)
            D.minhash_postings_index(base_docs, f"{path}/bands", n=3,
                                     num_hashes=12, bands=6)
            post = spark.read.parquet(f"{path}/bands/postings")
            cand = caching.persist(
                post.join(post.select(F.col("id").alias("__r"), "bk"),
                          "bk")
                .filter(F.col("id") < F.col("__r"))
                .select(F.col("id").alias("id_a"),
                        F.col("__r").alias("id_b")).distinct())
            base_pairs = _verified_jaccard_pairs(cand, base_docs)
            D.components_index_build(
                D.connected_components(base_pairs), f"{path}/comps",
                n_buckets=64)
            D.keeper_index_build(
                spark.read.parquet(f"{path}/comps/labels"),
                _doc_nd(base_docs), f"{path}/keep", n_buckets=64)
            _art.stamp_version(path)
        _DEDUP_SEED_BUILT.add(tag)
    return path


def _doc_nd(docs):
    """(doc_id, nd) quality table: distinct-token count — the keeper
    election metric (all-integer, oracle-trivial)."""
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ", -1)))
        .cast("bigint").alias("nd"))


def dedup_components_incremental(spark, sf_dir):
    """INGEST-SHAPED incremental component resolution (VERDICT r11
    #4): the accumulated corpus's state is a PERSISTED artifact —
    MinHash banded postings + the base component label index, built
    once per corpus snapshot (:func:`_dedup_seed_index`) — and the
    per-run work is batch-bounded: the ingest batch (doc_id % 7 == 3)
    probes the postings for band collisions
    (dedup.minhash_index_candidates: batch x corpus + batch x batch,
    never corpus x corpus), candidates verify with exact 3-gram
    Jaccard >= 0.2 over candidate-touched docs only, and
    dedup.components_index_update folds the verified pairs into the
    label index, rewriting only affected comp-hash partitions.

    Because base labels are component minima and the base ∪ batch
    pair sets union to EXACTLY the band-collision-verified pair
    universe over the whole corpus, the updated index equals a full
    recompute — the oracle replays that full recompute (signatures ->
    band collisions -> Jaccard verify -> reachability CC).  The
    update is idempotent (re-applying the same batch is a label
    no-op), so repeated runs serve identical values."""
    docs = _docs(spark, sf_dir)
    path = _dedup_seed_index(spark, sf_dir)
    batch_docs = docs.filter(F.col("doc_id") % 7 == 3)
    cands = D.minhash_index_candidates(spark, f"{path}/bands",
                                       batch_docs, n=3,
                                       num_hashes=12, bands=6)
    verified = _verified_jaccard_pairs(cands, docs)
    # the keeper index is a SIBLING sub-artifact of the label index:
    # every label fold must re-elect the touched clusters' keepers or
    # the shared artifact's keeper invariant breaks for whichever
    # query folds the batch FIRST (r14: on a fresh host this query
    # runs before dedup_keeper_incremental, and a labels-only fold
    # left the stored keepers permanently stale — replays no-op, so
    # the staleness never heals)
    touched = D.components_index_update(spark, f"{path}/comps",
                                        verified, return_touched=True)
    D.keeper_index_update(spark, f"{path}/comps", f"{path}/keep",
                          touched, _doc_nd(docs))
    labels = spark.read.parquet(f"{path}/comps/labels")
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(labels.select("id", F.col("comp").alias("__c")),
              "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("__c", F.col("id")).cast("bigint")
            .alias("component"),
            (F.coalesce("__c", F.col("id")) == F.col("id"))
            .alias("is_canonical"),
        ))


@caching.leased
def dedup_keeper_incremental(spark, sf_dir):
    """INGEST-SHAPED incremental keeper election (VERDICT r12 Next
    #6): composes the persisted dedup state (postings + component
    label index + the r13 per-cluster KEEPER index) with the
    batch-bounded probe.  Per run: the ingest batch (doc_id %% 7 == 3)
    probes the postings, candidates Jaccard-verify, the component
    index folds the verified pairs in place RETURNING the
    batch-reach-bounded TOUCHED-cluster set (remap sources/targets +
    new nodes' clusters — exactly the clusters whose membership
    changed; merged-away clusters appear as remap sources and are
    deleted from the keeper index), and keepers re-elect ONLY for
    those.  Untouched clusters serve their STORED keeper, so the
    result equals the full election the oracle replays (the argmax is
    a per-cluster aggregate — elections compose; a cluster an edge
    touches WITHOUT relabeling keeps its membership, so skipping it
    is a provable no-op).  Idempotent: a replayed batch yields an
    empty touched set and the keeper refresh no-ops."""
    docs = _docs(spark, sf_dir)
    path = _dedup_seed_index(spark, sf_dir)
    batch_docs = docs.filter(F.col("doc_id") % 7 == 3)
    cands = D.minhash_index_candidates(spark, f"{path}/bands",
                                       batch_docs, n=3,
                                       num_hashes=12, bands=6)
    verified = caching.persist(_verified_jaccard_pairs(cands, docs))
    touched = D.components_index_update(spark, f"{path}/comps",
                                        verified, return_touched=True)
    labels = spark.read.parquet(f"{path}/comps/labels")
    D.keeper_index_update(spark, f"{path}/comps", f"{path}/keep",
                          touched, _doc_nd(docs))
    keep = spark.read.parquet(f"{path}/keep/labels")
    lab = (docs.select("doc_id")
           .join(labels.withColumnRenamed("id", "doc_id")
                 .withColumnRenamed("comp", "__c"), "doc_id", "left")
           .select("doc_id",
                   F.coalesce("__c", F.col("doc_id")).alias("cluster")))
    return (lab.join(keep.select("cluster", "keeper_id"),
                     "cluster", "left")
            .select("doc_id",
                    F.col("cluster").cast("bigint").alias("cluster"),
                    F.coalesce("keeper_id", F.col("doc_id"))
                    .cast("bigint").alias("keeper_id"),
                    (F.col("doc_id") == F.coalesce("keeper_id",
                                                   F.col("doc_id")))
                    .alias("keep")))


@caching.leased
def dedup_keeper_election(spark, sf_dir):
    """Quality-aware keeper election over near-dup clusters (r12): the
    production curation policy keeps the MOST INFORMATIVE member of
    each duplicate cluster, not the smallest id — keeper = argmax of
    (distinct-token count, -doc_id), an all-integer struct max so the
    election is engine-exact.  Composes the SKEW-CAPPED dedup tier
    (max_df=5 stop-shingle cap, the documented scale path — uncapped
    pair generation measured 11.6x at 10x on the clone-heavy replica)
    end-to-end: capped ngram-Jaccard pairs -> connected components ->
    one per-cluster groupBy(max_by) -> join back; singletons keep
    themselves.  -> (doc_id, cluster, keeper_id, keep)."""
    docs = caching.persist(
        _docs(spark, sf_dir).select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " ", -1)))
            .cast("bigint").alias("nd")))
    pairs = D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3,
                                  threshold=0.2, max_df=5)
    comps = D.connected_components(pairs)
    lab = (docs.join(comps.withColumnRenamed("id", "doc_id")
                     .withColumnRenamed("comp", "__c"),
                     "doc_id", "left")
           .select("doc_id", "nd",
                   F.coalesce("__c", F.col("doc_id")).alias("cluster")))
    keepers = lab.groupBy("cluster").agg(
        F.max_by("doc_id", F.struct(F.col("nd").alias("a"),
                                    (-F.col("doc_id")).alias("b")))
        .alias("keeper_id"))
    return (lab.join(keepers, "cluster")
            .select("doc_id", F.col("cluster").cast("bigint")
                    .alias("cluster"),
                    F.col("keeper_id").cast("bigint").alias("keeper_id"),
                    (F.col("doc_id") == F.col("keeper_id"))
                    .alias("keep")))


DEDUP_KEEPER_ELECTION_SQL = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, len(toks) - 1)
         ]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
rare AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= 5),
cex AS (SELECT doc_id, ex.s FROM ex JOIN rare ON ex.s = rare.s),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cex a JOIN cex b ON a.s = b.s AND a.doc_id < b.doc_id
),
prs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_intersect(sa.shingles, sb.shingles)) AS shared,
           len(sa.shingles) AS na, len(sb.shingles) AS nb
    FROM cands
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b)
  WHERE ROUND(shared / (na + nb - shared), 4) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION SELECT id_b, id_a FROM prs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
),
comps AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id,
         len(list_distinct(string_split(d.text, ' ')))::BIGINT AS nd,
         COALESCE(c.comp, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
),
keep AS (
  SELECT cluster, doc_id AS keeper_id FROM (
    SELECT cluster, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY nd DESC, doc_id) AS rn
    FROM lab) WHERE rn = 1
)
SELECT l.doc_id, l.cluster::BIGINT AS cluster,
       k.keeper_id::BIGINT AS keeper_id,
       l.doc_id = k.keeper_id AS keep
FROM lab l JOIN keep k USING (cluster)
"""


# Full-recompute replay for the INCREMENTAL keeper election: the
# banded-MinHash ∩ Jaccard pair universe (the components-incremental
# chain), then the same per-cluster quality argmax.
DEDUP_KEEPER_INCREMENTAL_SQL = DEDUP_COMPONENTS_INCREMENTAL_SQL.replace(
    """comps AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id)::BIGINT AS component,
       COALESCE(c.comp, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
""",
    """comps AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node),
ki_lab AS (
  SELECT d.doc_id,
         len(list_distinct(string_split(d.text, ' ')))::BIGINT AS nd,
         COALESCE(c.comp, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
),
ki_keep AS (
  SELECT cluster, doc_id AS keeper_id FROM (
    SELECT cluster, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY nd DESC, doc_id) AS rn
    FROM ki_lab) WHERE rn = 1
)
SELECT l.doc_id, l.cluster::BIGINT AS cluster,
       k.keeper_id::BIGINT AS keeper_id,
       l.doc_id = k.keeper_id AS keep
FROM ki_lab l JOIN ki_keep k USING (cluster)
""")


def dedup_components_star(spark, sf_dir):
    """Same drop-list semantics as :func:`dedup_components`, resolved
    with the diameter-independent large-star/small-star contraction
    (Kiveris et al., SoCC'14) instead of min-label propagation — the
    documented switch for pathological pair-graph diameters (SCALE.md).
    Shares the recursive-CTE reachability oracle."""
    docs = _docs(spark, sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    comps = D.connected_components_star(pairs)
    return (
        docs.select(F.col("doc_id").alias("id"))
        .join(comps, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("comp", F.col("id")).cast("bigint")
            .alias("component"),
            (F.coalesce("comp", F.col("id")) == F.col("id"))
            .alias("is_canonical"),
        )
    )


DEDUP_COMPONENTS_SQL = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(toks[i:i+2], ' ')
           for i in range(1, len(toks) - 1)
         ]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE ROUND(shared / (na + nb - shared), 4) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
),
comps AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component,
       COALESCE(c.comp, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
"""


# ---- SimHash fingerprints ---------------------------------------------

def simhash_fingerprints(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", D.simhash64(F.col("text")).alias("simhash_bits")
    )


SIMHASH_FINGERPRINTS_SQL = """
WITH tokh AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
            t -> {'hi': ('0x' || substr(md5(t), 1, 8))::BIGINT,
                  'lo': ('0x' || substr(md5(t), 9, 8))::BIGINT}) AS hs
  FROM documents
)
SELECT doc_id,
       array_to_string([
         CASE WHEN list_sum(list_transform(hs,
                h -> CASE WHEN
                       ((CASE WHEN b < 32 THEN h.lo ELSE h.hi END
                         >> (b % 32)) & 1) = 1
                     THEN 1 ELSE -1 END)) > 0
              THEN '1' ELSE '0' END
         for b in range(0, 64)
       ], '') AS simhash_bits
FROM tokh
"""


# ---- SimHash near-dup pairs (Manku et al., WWW'07) ----------------------

def simhash_neardup(spark, sf_dir):
    """Banded Hamming search over 64-bit SimHash fingerprints: pairs
    within Hamming distance 7 agree on >= 1 of 8 blocks (pigeonhole),
    so candidates are an equi-join on (block, value) and only
    candidates pay the exact 4-xor Hamming verification."""
    docs = _docs(spark, sf_dir)
    return D.simhash_neardup_pairs(docs, max_hamming=7, bands=8)


SIMHASH_NEARDUP_SQL = """
WITH tokh AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
            t -> {'hi': ('0x' || substr(md5(t), 1, 8))::BIGINT,
                  'lo': ('0x' || substr(md5(t), 9, 8))::BIGINT}) AS hs
  FROM documents
),
fp AS (
  SELECT doc_id,
         array_to_string([
           CASE WHEN list_sum(list_transform(hs,
                  h -> CASE WHEN
                         ((CASE WHEN b < 32 THEN h.lo ELSE h.hi END
                           >> (b % 32)) & 1) = 1
                       THEN 1 ELSE -1 END)) > 0
                THEN '1' ELSE '0' END
           for b in range(0, 64)
         ], '') AS s
  FROM tokh
),
bands AS (
  SELECT doc_id,
         unnest(range(8)) AS b,
         unnest([list_sum([CASE WHEN s[8*b+i+1] = '1'
                           THEN (2^(7-i))::BIGINT ELSE 0 END
                           for i in range(8)])
                 for b in range(8)]) AS v
  FROM fp
),
cand AS (
  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
  FROM bands a JOIN bands bb
    ON a.b = bb.b AND a.v = bb.v AND a.doc_id < bb.doc_id
  GROUP BY ALL
),
ham AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(range(64),
             i -> fa.s[i+1] <> fb.s[i+1])) AS hamming
  FROM cand c
  JOIN fp fa ON fa.doc_id = c.id_a
  JOIN fp fb ON fb.doc_id = c.id_b
)
SELECT id_a, id_b, hamming::BIGINT AS hamming
FROM ham WHERE hamming <= 7
"""


def simhash_neardup_capped(spark, sf_dir):
    """The SCALE-PATH SimHash config (same precedent as
    ngram_jaccard_capped): Manku's production setting — hamming <= 3
    with 4 bands of 16-bit blocks (65k values per band, so block keys
    stay sparse as the corpus grows; the demanding hamming<=7/8-band
    config above has only 256 values per band and its candidate set is
    inherently ~quadratic on duplicate-heavy data) — plus the
    max_df=200 hot-block cap.  Measured at 10x rows: 3.9x wall vs the
    uncapped narrow config's 32x."""
    docs = _docs(spark, sf_dir)
    return D.simhash_neardup_pairs(docs, max_hamming=3, bands=4,
                                   max_df=200)


SIMHASH_NEARDUP_CAPPED_SQL = """
WITH tokh AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
            t -> {'hi': ('0x' || substr(md5(t), 1, 8))::BIGINT,
                  'lo': ('0x' || substr(md5(t), 9, 8))::BIGINT}) AS hs
  FROM documents
),
fp AS (
  SELECT doc_id,
         array_to_string([
           CASE WHEN list_sum(list_transform(hs,
                  h -> CASE WHEN
                         ((CASE WHEN b < 32 THEN h.lo ELSE h.hi END
                           >> (b % 32)) & 1) = 1
                       THEN 1 ELSE -1 END)) > 0
                THEN '1' ELSE '0' END
           for b in range(0, 64)
         ], '') AS s
  FROM tokh
),
bands AS (
  SELECT doc_id,
         unnest(range(4)) AS b,
         unnest([list_sum([CASE WHEN s[16*b+i+1] = '1'
                           THEN (2^(15-i))::BIGINT ELSE 0 END
                           for i in range(16)])
                 for b in range(4)]) AS v
  FROM fp
),
cool AS (
  SELECT b, v FROM bands GROUP BY b, v HAVING COUNT(*) <= 200
),
kept AS (SELECT bb.doc_id, bb.b, bb.v FROM bands bb JOIN cool USING (b, v)),
cand AS (
  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
  FROM kept a JOIN kept bb
    ON a.b = bb.b AND a.v = bb.v AND a.doc_id < bb.doc_id
  GROUP BY ALL
),
ham AS (
  SELECT c.id_a, c.id_b,
         len(list_filter(range(64),
             i -> fa.s[i+1] <> fb.s[i+1])) AS hamming
  FROM cand c
  JOIN fp fa ON fa.doc_id = c.id_a
  JOIN fp fb ON fb.doc_id = c.id_b
)
SELECT id_a, id_b, hamming::BIGINT AS hamming
FROM ham WHERE hamming <= 3
"""


# ---- brute-force + LSH cosine top-k -----------------------------------

def embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return S.brute_force_topk(emb, queries, k=10)


EMBEDDING_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 5
),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qv, q.qv)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cos
  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
           AS rank
  FROM scored
)
SELECT q_id, n_id, rank, ROUND(cos, 4) AS cos_sim
FROM ranked WHERE rank <= 10
"""


# ---- IVF ANN (deterministic coarse quantizer, full oracle) ------------

def embedding_topk_ivf(spark, sf_dir):
    """IVF approximate top-k with a deterministic coarse quantizer.

    Production IVF builds the index offline (a KMeans batch job) and
    broadcasts the centroid table as index metadata; here the "offline"
    centroids are the 8 lowest-vec_id embeddings (deterministic seed
    vectors), so DuckDB can reproduce the exact cell assignment and the
    driver gets a full rows+schema+hash check.  The KMeans-fit path
    stays available (``centroids=None``) and is recall-tested in pytest.
    """
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8)
                    .select("vec_id", "embedding")
                    .orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return S.ivf_topk(emb, queries, k=10, n_probe=3, centroids=cents)



# ---- PQ: product-quantized ADC top-k (embedding compression tier) -----

def pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): the 64-dim corpus
    is encoded into 8 sub-codes against per-subspace codebooks (here
    the deterministic seed vectors vec_id<8 sliced per subspace — same
    offline-index shape as embedding_topk_ivf), then each query ranks
    candidates by asymmetric distance (exact query side vs quantized
    corpus side).  The scan reads 8 ints per vector instead of 64
    floats — the storage tier that keeps a 100 TB ANN index in memory.
    """
    emb = _t(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8)
                    .select("vec_id", "embedding")
                    .orderBy("vec_id").collect()
    ]
    m, dsub = 8, 8
    codebooks = [
        [s[j * dsub:(j + 1) * dsub] for s in seeds]
        for j in range(m)
    ]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return S.pq_adc_topk(emb, queries, codebooks, k=10)


PQ_ADC_TOPK_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (
  SELECT vec_id AS code, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 8
),
subs AS (SELECT j::INT AS j FROM range(8) t(j)),
dists AS (
  SELECT e.vec_id, s.j, cb.code,
         list_sum(list_transform(range(8), i ->
           (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1])
           * (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1]))) AS d
  FROM e CROSS JOIN subs s CROSS JOIN cb
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                 ORDER BY d, code) AS rn
    FROM dists)
  WHERE rn = 1
),
q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5
),
pair_j AS (
  SELECT q.q_id, c.vec_id AS n_id, c.j,
         list_sum(list_transform(range(8), i ->
           (q.qv[c.j*8 + i + 1] - cb.cv[c.j*8 + i + 1])
           * (q.qv[c.j*8 + i + 1] - cb.cv[c.j*8 + i + 1]))) AS dj
  FROM codes c
  JOIN cb ON cb.code = c.code
  CROSS JOIN q
  WHERE c.vec_id <> q.q_id
),
adc AS (
  SELECT q_id, n_id, list_sum(list(dj ORDER BY j)) AS adc
  FROM pair_j GROUP BY q_id, n_id
)
SELECT q_id, n_id, rank, ROUND(adc, 4) AS adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY adc, n_id) AS rank
      FROM adc)
WHERE rank <= 10
"""


# ---- IVF-PQ composed ANN (cell prune + ADC over codes) -----------------

# Session memo of already-built seed-index tags: the existence check is
# one os.stat once per process, the build itself once per (data, config).
_IVFPQ_BUILT: set[str] = set()


def _seed_codebooks(emb):
    """The deterministic seed index config every ANN query shares: the
    8 lowest-id vectors are the coarse centroids AND (sliced per
    subspace, m=8 x dsub=8) the PQ codebooks — offline metadata DuckDB
    reproduces exactly."""
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8)
                    .select("vec_id", "embedding")
                    .orderBy("vec_id").collect()
    ]
    m, dsub = 8, 8
    codebooks = [
        [s[j * dsub:(j + 1) * dsub] for s in seeds]
        for j in range(m)
    ]
    return seeds, codebooks


def _ivfpq_seed_index(spark, sf_dir) -> str:
    """Build-or-reuse the PERSISTED seed IVF-PQ index for ``sf_dir``
    (VERDICT r9 #1: the two most expensive headline queries were
    re-encoding the corpus inline per run; the production split —
    encode ONCE offline, search reads cell-partitioned codes — is
    :func:`similarity.build_ivfpq_index`).  The artifact lives under
    the repo's gitignored ``.ivfpq_index/<tag>``, keyed by the data
    path + the embeddings file fingerprint + the index config, so a
    regenerated corpus or a config change rebuilds instead of serving
    stale codes.  Encode cost is paid once per corpus snapshot (12.2s
    at sf0.1); every search after that reads only the probed cells'
    partitions."""
    import os

    from ..core import artifacts as _art

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        fp = "unknown"
    # ARTIFACT_VERSION folds into the tag (VERDICT r11 #3).
    tag = _art.artifact_tag(
        os.path.abspath(sf_dir), "seeds8-m8-dsub8", fp)
    repo = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(repo, ".ivfpq_index", tag)
    if tag not in _IVFPQ_BUILT:
        done = all(
            os.path.exists(os.path.join(path, part, "_SUCCESS"))
            for part in ("codes", "meta")) and _art.version_ok(path)
        if not done:
            emb = _t(spark, sf_dir, "embeddings")
            seeds, codebooks = _seed_codebooks(emb)
            S.build_ivfpq_index(emb, path, seeds, codebooks)
            _art.stamp_version(path)
        _IVFPQ_BUILT.add(tag)
    return path


def embedding_topk_ivfpq(spark, sf_dir):
    """IVF-PQ (IVFADC, Jegou et al. 2011 §V): the composed production
    ANN layout — coarse cells prune the candidate set (n_probe=3 of 8),
    then asymmetric distance ranks only the probed cells' PQ codes.
    Both index structures are the deterministic seed vectors (vec_id<8),
    so DuckDB reproduces cells, codes, and distances exactly.

    r10: reads the PERSISTED index (:func:`_ivfpq_seed_index`) instead
    of re-encoding the corpus inline — bit-identical results (pinned by
    test_ivfpq_index_roundtrip), per-run cost drops to the probed-cell
    ADC scan (isolation: 5.97s inline -> 2.29s indexed at sf0.1)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    path = _ivfpq_seed_index(spark, sf_dir)
    return S.ivf_pq_topk_indexed(spark, path, queries, k=10, n_probe=3)


EMBEDDING_TOPK_IVFPQ_SQL = """
WITH e AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS v FROM embeddings
),
c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_id) - 1 AS cell, v AS cv
  FROM e WHERE n_id < 8
),
assigned AS (
  SELECT n_id, cell FROM (
    SELECT e.n_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.n_id
             ORDER BY list_dot_product(e.v, c.cv) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM e CROSS JOIN c
  ) WHERE r = 1
),
cb AS (
  SELECT vec_id AS code, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 8
),
subs AS (SELECT j::INT AS j FROM range(8) t(j)),
dists AS (
  SELECT e.n_id AS vec_id, s.j, cb.code,
         list_sum(list_transform(range(8), i ->
           (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1])
           * (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1]))) AS d
  FROM e CROSS JOIN subs s CROSS JOIN cb
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                 ORDER BY d, code) AS rn
    FROM dists)
  WHERE rn = 1
),
q AS (SELECT n_id AS q_id, v AS qv FROM e WHERE n_id < 5),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT q.q_id, q.qv, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.q_id
             ORDER BY list_dot_product(q.qv, c.cv) /
                      (sqrt(list_dot_product(q.qv, q.qv)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM q CROSS JOIN c
  ) WHERE r <= 3
),
pair_j AS (
  SELECT p.q_id, cd.vec_id AS n_id, cd.j,
         list_sum(list_transform(range(8), i ->
           (p.qv[cd.j*8 + i + 1] - cb.cv[cd.j*8 + i + 1])
           * (p.qv[cd.j*8 + i + 1] - cb.cv[cd.j*8 + i + 1]))) AS dj
  FROM codes cd
  JOIN assigned a ON a.n_id = cd.vec_id
  JOIN probed p ON p.cell = a.cell
  JOIN cb ON cb.code = cd.code
  WHERE cd.vec_id <> p.q_id
),
adc AS (
  SELECT q_id, n_id, list_sum(list(dj ORDER BY j)) AS adc
  FROM pair_j GROUP BY q_id, n_id
)
SELECT q_id, n_id, rank, ROUND(adc, 4) AS adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY adc, n_id) AS rank
      FROM adc)
WHERE rank <= 10
"""


def ivfpq_indexed_search(spark, sf_dir):
    """The production ANN read path, driver-checked end-to-end (VERDICT
    r9 #1): search the PERSISTED cell-partitioned IVF-PQ index with the
    full IVFADC-R recipe — probe 3 of 8 cells, ADC-rank the probed
    cells' codes (read from the saved artifact, raw vectors never
    scanned), then exact-L2 rerank the per-query top-50 shortlist
    (raw vectors fetched ONLY for the Q x 50 shortlist pairs).

    Distinct from :func:`embedding_topk_ivfpq` (same index, no rerank,
    ADC distances) — this is the recall-recovering production config
    (Jegou et al. 2011 §V "with reranking"; measured raw-ADC recall@10
    ~0.2 on the near-uniform unit-sphere test embeddings, >=0.5 with
    rerank).  All arithmetic is double left-to-right on both engines;
    the oracle replays cells, codes, ADC shortlist, and the exact
    rerank."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    path = _ivfpq_seed_index(spark, sf_dir)
    return S.ivf_pq_topk_indexed(spark, path, queries, k=10, n_probe=3,
                                 rerank=50, emb=emb)


IVFPQ_INDEXED_SEARCH_SQL = """
WITH e AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS v FROM embeddings
),
c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_id) - 1 AS cell, v AS cv
  FROM e WHERE n_id < 8
),
assigned AS (
  SELECT n_id, cell FROM (
    SELECT e.n_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.n_id
             ORDER BY list_dot_product(e.v, c.cv) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM e CROSS JOIN c
  ) WHERE r = 1
),
cb AS (
  SELECT vec_id AS code, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 8
),
subs AS (SELECT j::INT AS j FROM range(8) t(j)),
dists AS (
  SELECT e.n_id AS vec_id, s.j, cb.code,
         list_sum(list_transform(range(8), i ->
           (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1])
           * (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1]))) AS d
  FROM e CROSS JOIN subs s CROSS JOIN cb
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                 ORDER BY d, code) AS rn
    FROM dists)
  WHERE rn = 1
),
q AS (SELECT n_id AS q_id, v AS qv FROM e WHERE n_id < 5),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT q.q_id, q.qv, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.q_id
             ORDER BY list_dot_product(q.qv, c.cv) /
                      (sqrt(list_dot_product(q.qv, q.qv)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM q CROSS JOIN c
  ) WHERE r <= 3
),
pair_j AS (
  SELECT p.q_id, cd.vec_id AS n_id, cd.j,
         list_sum(list_transform(range(8), i ->
           (p.qv[cd.j*8 + i + 1] - cb.cv[cd.j*8 + i + 1])
           * (p.qv[cd.j*8 + i + 1] - cb.cv[cd.j*8 + i + 1]))) AS dj
  FROM codes cd
  JOIN assigned a ON a.n_id = cd.vec_id
  JOIN probed p ON p.cell = a.cell
  JOIN cb ON cb.code = cd.code
  WHERE cd.vec_id <> p.q_id
),
adc AS (
  SELECT q_id, n_id, list_sum(list(dj ORDER BY j)) AS adc
  FROM pair_j GROUP BY q_id, n_id
),
short AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc, n_id) AS r
    FROM adc)
  WHERE r <= 50
),
exact AS (
  SELECT s.q_id, s.n_id,
         list_sum(list_transform(range(64), i ->
           (q.qv[i + 1] - e.v[i + 1]) * (q.qv[i + 1] - e.v[i + 1]))) AS d
  FROM short s JOIN e ON e.n_id = s.n_id JOIN q ON q.q_id = s.q_id
)
SELECT q_id, n_id, rank, ROUND(d, 4) AS adc_dist
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY d, n_id) AS rank
      FROM exact)
WHERE rank <= 10
"""


# ---- dedup-tier recall evaluation (planted clones) ---------------------

def dedup_recall_eval(spark, sf_dir):
    """Evaluation harness for the dedup tier: plant exact clones
    (doc_id % 37 == 1 duplicated at id + 100000 — the semdedup planting
    pattern), run MinHash-LSH candidate generation, and score it ->
    ONE row (n_planted, n_found, recall, n_extra).  Exact clones share
    every shingle, so their signatures agree on every band — recall
    must be 1.0; n_extra counts the corpus's organic near-dup pairs.
    The ops-tooling shape: every index/config change reruns this
    before it ships."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 37 == 1).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = d.unionByName(clones)
    pairs = D.minhash_lsh_pairs(corpus, n=3, num_hashes=12, bands=6)
    # a planted pair is (id, id + 100000); eligible = clone sources
    # with >= 3 tokens (shorter docs have no shingles/signature)
    planted = (
        d.filter((F.col("doc_id") % 37 == 1)
                 & (F.size(F.split("text", " ", -1)) >= 3))
        .select(F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 100000).alias("id_b"))
    )
    hits = pairs.join(planted, ["id_a", "id_b"], "left_semi")
    n_planted = planted.agg(F.count(F.lit(1)).alias("n")).select("n")
    return (
        n_planted.crossJoin(
            hits.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_pairs")))
        .select(
            F.col("n").cast("bigint").alias("n_planted"),
            F.col("n_found").cast("bigint").alias("n_found"),
            F.round(F.col("n_found") / F.col("n"), 4).alias("recall"),
            (F.col("n_pairs") - F.col("n_found")).cast("bigint")
            .alias("n_extra"),
        )
    )


DEDUP_RECALL_EVAL_SQL = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 37 = 1
),
{_MINHASH_SIG_SQL.replace("FROM documents", "FROM docs")},
banded AS (
  SELECT doc_id, sig,
         unnest([
           '0|' || sig[1] || '|' || sig[2],
           '1|' || sig[3] || '|' || sig[4],
           '2|' || sig[5] || '|' || sig[6],
           '3|' || sig[7] || '|' || sig[8],
           '4|' || sig[9] || '|' || sig[10],
           '5|' || sig[11] || '|' || sig[12]
         ]) AS bk
  FROM sigs
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
),
planted AS (
  SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents
  WHERE doc_id % 37 = 1 AND len(string_split(text, ' ')) >= 3
),
hits AS (SELECT p.* FROM pairs p SEMI JOIN planted USING (id_a, id_b))
SELECT (SELECT COUNT(*) FROM planted)::BIGINT AS n_planted,
       (SELECT COUNT(*) FROM hits)::BIGINT AS n_found,
       ROUND((SELECT COUNT(*) FROM hits)
             / (SELECT COUNT(*) FROM planted), 4) AS recall,
       ((SELECT COUNT(*) FROM pairs)
        - (SELECT COUNT(*) FROM hits))::BIGINT AS n_extra
"""


# ---- kNN label propagation (semi-supervised corpus labeling) -----------

@caching.leased
def knn_label_propagation_q(spark, sf_dir):
    """Pseudo-label the unlabeled TRAINED vectors (r13, VERDICT r12
    Next #4 — was the synthetic md5-embedding table through r12) by
    majority vote of their 5 nearest labeled seeds (the 40 lowest-id
    trained nodes, label = 'l' || vec_id % 4), confined to 3
    IVF-probed cells of the 8 lowest-id trained centroids.  The
    labeled index broadcasts; the corpus never shuffles.  The oracle
    replays the FULL training chain first (the semdedup/contrastive
    precedent)."""
    from ..operators.similarity import knn_label_propagation
    tv = caching.persist(_trained_vec_table(spark, sf_dir))
    cents = [
        [float(x) for x in r["embedding"]]
        for r in tv.select("vec_id", "embedding")
                   .orderBy("vec_id").limit(8).collect()
    ]
    seeds = tv.orderBy("vec_id").limit(40).select(
        "vec_id",
        F.concat(F.lit("l"), (F.col("vec_id") % 4).cast("string"))
        .alias("label"))
    return knn_label_propagation(tv, seeds, cents, k=5, n_probe=3)


_KNN_TRAINED_BODY = """,
kp_ev AS MATERIALIZED (
  SELECT node, list(q::DOUBLE ORDER BY j) AS v,
         SUM(q * q)::BIGINT AS nn
  FROM q1 GROUP BY node
),
kp_e AS MATERIALIZED (SELECT node AS vec_id, v FROM kp_ev WHERE nn > 0),
kp_c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
  FROM (SELECT vec_id, v FROM kp_e ORDER BY vec_id LIMIT 8)),
kp_seed_ids AS (SELECT vec_id FROM kp_e ORDER BY vec_id LIMIT 40),
kp_dist AS MATERIALIZED (
  SELECT kp_e.vec_id, kp_e.v, kp_c.cell,
         ROW_NUMBER() OVER (
           PARTITION BY kp_e.vec_id
           ORDER BY list_dot_product(kp_e.v, kp_c.cv) /
                    (sqrt(list_dot_product(kp_e.v, kp_e.v)) *
                     sqrt(list_dot_product(kp_c.cv, kp_c.cv))) DESC,
                    kp_c.cell
         ) AS r
  FROM kp_e CROSS JOIN kp_c
),
kp_sassign AS (
  SELECT d.vec_id AS s_id, 'l' || (d.vec_id % 4) AS label,
         d.v AS sv, d.cell
  FROM kp_dist d JOIN kp_seed_ids s ON s.vec_id = d.vec_id
  WHERE d.r = 1
),
kp_probed AS (
  SELECT vec_id AS n_id, v, cell FROM kp_dist
  WHERE r <= 3
    AND vec_id NOT IN (SELECT vec_id FROM kp_seed_ids)
),
kp_cand AS (
  SELECT p.n_id, s.s_id, s.label,
         ROUND(list_dot_product(p.v, s.sv) /
               (sqrt(list_dot_product(p.v, p.v)) *
                sqrt(list_dot_product(s.sv, s.sv))), 4) + 0.0 AS cos
  FROM kp_probed p JOIN kp_sassign s USING (cell)
),
kp_ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_id
                               ORDER BY cos DESC, s_id) AS r
  FROM kp_cand
),
kp_votes AS (
  SELECT n_id, label, COUNT(*) AS n_votes, MAX(cos) AS top_cos
  FROM kp_ranked WHERE r <= 5 GROUP BY n_id, label
),
kp_winner AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_id
                               ORDER BY n_votes DESC, label) AS rv
  FROM kp_votes
)
SELECT n_id AS vec_id, label, n_votes::BIGINT AS n_votes, top_cos
FROM kp_winner WHERE rv = 1"""


# ---- SemDeDup: semantic dedup for training corpora ---------------------

def _trained_vec_table(spark, sf_dir):
    """TRAINED vectors as (vec_id, embedding double[]) — the persisted
    graph-embedding artifact (_graph_emb_seed) filtered to nonzero
    norms.  The int64 components are small enough that every dot
    product is exactly representable in doubles, so downstream cosine
    comparisons are engine-portable without rounding tricks."""
    emb = spark.read.parquet(_graph_emb_seed(spark, sf_dir))
    nn = F.aggregate(F.transform("emb", lambda e: e * e),
                     F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (emb.select(F.col("node").alias("vec_id"),
                       F.transform("emb", lambda x: x.cast("double"))
                       .alias("embedding"),
                       nn.alias("nn"))
            .filter(F.col("nn") > 0).drop("nn"))


@caching.leased
def semdedup_embeddings(spark, sf_dir):
    """SemDeDup over TRAINED vectors (r12, VERDICT r11 #7 — was a
    synthetic md5-embedding table through r11) with planted exact
    clones (vec_id%37==1 duplicated at id+1000000): cluster via the 8
    lowest-id trained vectors as centroids, then drop the higher-id
    member of every in-cell pair with cosine >= 0.95.  Every planted
    clone scores exactly 1.0 against its source, so the clone set
    always falls (pinned in pytest); the oracle replays the FULL
    training chain (the trained_ann_topk precedent) before the
    assignment/drop joins."""
    tv = caching.persist(_trained_vec_table(spark, sf_dir))
    clones = tv.filter(F.col("vec_id") % 37 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    allv = tv.unionByName(clones)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in tv.select("vec_id", "embedding")
                   .orderBy("vec_id").limit(8).collect()
    ]
    return S.semdedup(allv, centroids=cents, threshold=0.95)


@caching.leased
def diversity_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling (D4-style) over TRAINED
    vectors (r13, VERDICT r12 Next #4 — was the synthetic
    md5-embedding table through r12): assign every trained vector to
    its nearest of the 8 lowest-id trained centroids, keep each
    cell's 5 most central members — coverage ACROSS semantic clusters
    instead of wherever the corpus is densest.  Full-replay oracle."""
    tv = caching.persist(_trained_vec_table(spark, sf_dir))
    cents = [
        [float(x) for x in r["embedding"]]
        for r in tv.select("vec_id", "embedding")
                   .orderBy("vec_id").limit(8).collect()
    ]
    return S.cluster_diverse_sample(tv, cents, n_per_cell=5)


_DIVERSITY_TRAINED_BODY = """,
ds_ev AS MATERIALIZED (
  SELECT node, list(q::DOUBLE ORDER BY j) AS v,
         SUM(q * q)::BIGINT AS nn
  FROM q1 GROUP BY node
),
ds_e AS MATERIALIZED (SELECT node AS vec_id, v FROM ds_ev WHERE nn > 0),
ds_c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
  FROM (SELECT vec_id, v FROM ds_e ORDER BY vec_id LIMIT 8)),
ds_assigned AS (
  SELECT vec_id, cell,
         ROUND(cos, 4) + 0.0 AS cos_sim FROM (
    SELECT ds_e.vec_id, ds_c.cell,
           list_dot_product(ds_e.v, ds_c.cv) /
           (sqrt(list_dot_product(ds_e.v, ds_e.v)) *
            sqrt(list_dot_product(ds_c.cv, ds_c.cv))) AS cos,
           ROW_NUMBER() OVER (
             PARTITION BY ds_e.vec_id
             ORDER BY list_dot_product(ds_e.v, ds_c.cv) /
                      (sqrt(list_dot_product(ds_e.v, ds_e.v)) *
                       sqrt(list_dot_product(ds_c.cv, ds_c.cv))) DESC,
                      ds_c.cell
           ) AS r
    FROM ds_e CROSS JOIN ds_c
  ) WHERE r = 1),
ds_ranked AS (
  SELECT vec_id, cell, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM ds_assigned)
SELECT vec_id, cell, cos_sim, rank::BIGINT AS rank
FROM ds_ranked WHERE rank <= 5"""


# r12: full-replay oracle — the training chain (walks -> pairs ->
# assoc -> sketch -> matvecs -> requant, via _GRAPH_EMB_CHAIN) runs
# first, then the SemDeDup assignment/drop joins over the trained
# vectors.  Defined after _GRAPH_EMB_CHAIN; see _SEMDEDUP_TRAINED_BODY
# composition below the graph section.
_SEMDEDUP_TRAINED_BODY = """,
sd_ev AS MATERIALIZED (
  SELECT node, list(q::DOUBLE ORDER BY j) AS v,
         SUM(q * q)::BIGINT AS nn
  FROM q1 GROUP BY node
),
sd_e0 AS MATERIALIZED (SELECT node AS vec_id, v FROM sd_ev WHERE nn > 0),
sd_e AS (
  SELECT vec_id, v FROM sd_e0
  UNION ALL
  SELECT vec_id + 1000000, v FROM sd_e0 WHERE vec_id % 37 = 1),
sd_c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
  FROM (SELECT vec_id, v FROM sd_e0 ORDER BY vec_id LIMIT 8)),
sd_assigned AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT sd_e.vec_id, sd_e.v, sd_c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY sd_e.vec_id
             ORDER BY list_dot_product(sd_e.v, sd_c.cv) /
                      (sqrt(list_dot_product(sd_e.v, sd_e.v)) *
                       sqrt(list_dot_product(sd_c.cv, sd_c.cv))) DESC,
                      sd_c.cell
           ) AS r
    FROM sd_e CROSS JOIN sd_c
  ) WHERE r = 1),
sd_dropped AS (
  SELECT DISTINCT b.vec_id
  FROM sd_assigned a JOIN sd_assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) *
         sqrt(list_dot_product(b.v, b.v))) >= 0.95)
SELECT a.vec_id, a.cell, d.vec_id IS NULL AS keep
FROM sd_assigned a LEFT JOIN sd_dropped d USING (vec_id)"""

EMBEDDING_TOPK_IVF_SQL = """
WITH e AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS v FROM embeddings
),
c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_id) - 1 AS cell, v AS cv
  FROM e WHERE n_id < 8
),
assigned AS (
  SELECT n_id, v, cell FROM (
    SELECT e.n_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.n_id
             ORDER BY list_dot_product(e.v, c.cv) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM e CROSS JOIN c
  ) WHERE r = 1
),
q AS (SELECT n_id AS q_id, v AS qv FROM e WHERE n_id < 5),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT q.q_id, q.qv, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.q_id
             ORDER BY list_dot_product(q.qv, c.cv) /
                      (sqrt(list_dot_product(q.qv, q.qv)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM q CROSS JOIN c
  ) WHERE r <= 3
),
scored AS (
  SELECT p.q_id, a.n_id,
         list_dot_product(p.qv, a.v) /
         (sqrt(list_dot_product(p.qv, p.qv)) *
          sqrt(list_dot_product(a.v, a.v))) AS cos
  FROM assigned a JOIN probed p ON a.cell = p.cell AND a.n_id <> p.q_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
           AS rank
  FROM scored
)
SELECT q_id, n_id, rank, ROUND(cos, 4) AS cos_sim
FROM ranked WHERE rank <= 10
"""


# ---- Hybrid retrieval: RRF fusion of BM25 + IVF-PQ (VERDICT r8 #6) -----

def hybrid_retrieval(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al. 2009) of the repo's two
    retrieval tiers in ONE plan — the standard production RAG
    retrieval shape.  Queries are the first 3 corpus items: their
    text's first 6 tokens feed the lexical tier (batch BM25, top-20),
    their embedding feeds the dense tier (IVF-PQ over the
    deterministic seed index, top-20); RRF (c=60) fuses rank positions
    into a final top-10.  The query item itself is excluded on both
    sides (the dense tier excludes self natively; the sparse tier
    filters AFTER ranking, keeping rank gaps — RRF honors tier ranks
    as-is).

    Scale shape: retrieval cost lives in the tiers (postings semi-join
    / probed-cell codes scan); fusion touches only Q x 40 rank rows —
    one union + one groupBy + one per-query window.  r10: the dense
    tier searches the PERSISTED IVF-PQ index (VERDICT r9 #1) instead
    of re-encoding the corpus inline — bit-identical ranks, and the
    per-run dense cost drops to the probed-cell ADC scan.
    """
    from ..operators.retrieval import bm25_topk_batch, rrf_fuse
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q_terms = d.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), " ", -1), 1, 6).alias("terms"))
    sparse = (
        bm25_topk_batch(d, q_terms, k=20)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", "rank")
    )
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    path = _ivfpq_seed_index(spark, sf_dir)
    dense = S.ivf_pq_topk_indexed(spark, path, qv, k=20, n_probe=3) \
        .select(F.col("q_id").alias("query_id"),
                F.col("n_id").alias("doc_id"), "rank")
    return rrf_fuse([sparse, dense], k=10, c=60)


HYBRID_RETRIEVAL_SQL = """
WITH q AS (
  SELECT DISTINCT doc_id AS query_id,
         unnest((string_split(lower(text), ' '))[1:6]) AS term
  FROM documents WHERE doc_id < 3
),
tokd AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
p AS (
  SELECT doc_id, dl, term, COUNT(*)::DOUBLE AS tf FROM (
    SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS term
    FROM tokd)
  GROUP BY doc_id, dl, term
),
stats AS (
  SELECT COUNT(*)::DOUBLE AS n_docs, SUM(len(toks))::DOUBLE AS sum_dl
  FROM tokd
),
tdf AS (SELECT term, COUNT(*)::DOUBLE AS df FROM p GROUP BY term),
bm25s AS (
  SELECT q.query_id, p.doc_id,
         SUM(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2
                / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl)))) AS s
  FROM q JOIN tdf USING (term) JOIN p USING (term) CROSS JOIN stats
  GROUP BY q.query_id, p.doc_id
),
sparse AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ROUND(s, 4) DESC, doc_id) AS rank
    FROM bm25s)
  WHERE rank <= 20 AND doc_id <> query_id
),
e AS (
  SELECT vec_id AS n_id, embedding::DOUBLE[] AS v FROM embeddings
),
c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_id) - 1 AS cell, v AS cv
  FROM e WHERE n_id < 8
),
assigned AS (
  SELECT n_id, cell FROM (
    SELECT e.n_id, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.n_id
             ORDER BY list_dot_product(e.v, c.cv) /
                      (sqrt(list_dot_product(e.v, e.v)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM e CROSS JOIN c
  ) WHERE r = 1
),
cb AS (
  SELECT vec_id AS code, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id < 8
),
subs AS (SELECT j::INT AS j FROM range(8) t(j)),
dists AS (
  SELECT e.n_id AS vec_id, s.j, cb.code,
         list_sum(list_transform(range(8), i ->
           (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1])
           * (e.v[s.j*8 + i + 1] - cb.cv[s.j*8 + i + 1]))) AS d
  FROM e CROSS JOIN subs s CROSS JOIN cb
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                 ORDER BY d, code) AS rn
    FROM dists)
  WHERE rn = 1
),
dq AS (SELECT n_id AS q_id, v AS qv FROM e WHERE n_id < 3),
probed AS (
  SELECT q_id, qv, cell FROM (
    SELECT dq.q_id, dq.qv, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY dq.q_id
             ORDER BY list_dot_product(dq.qv, c.cv) /
                      (sqrt(list_dot_product(dq.qv, dq.qv)) *
                       sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell
           ) AS r
    FROM dq CROSS JOIN c
  ) WHERE r <= 3
),
pair_j AS (
  SELECT pr.q_id, cd.vec_id AS n_id, cd.j,
         list_sum(list_transform(range(8), i ->
           (pr.qv[cd.j*8 + i + 1] - cb.cv[cd.j*8 + i + 1])
           * (pr.qv[cd.j*8 + i + 1] - cb.cv[cd.j*8 + i + 1]))) AS dj
  FROM codes cd
  JOIN assigned a ON a.n_id = cd.vec_id
  JOIN probed pr ON pr.cell = a.cell
  JOIN cb ON cb.code = cd.code
  WHERE cd.vec_id <> pr.q_id
),
adc AS (
  SELECT q_id, n_id, list_sum(list(dj ORDER BY j)) AS adc
  FROM pair_j GROUP BY q_id, n_id
),
dense AS (
  SELECT q_id AS query_id, n_id AS doc_id, rank FROM (
    SELECT q_id, n_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY adc, n_id) AS rank
    FROM adc)
  WHERE rank <= 20
),
fused AS (
  SELECT query_id, doc_id, SUM(1.0 / (60.0 + rank)) AS s,
         COUNT(*) AS n_tiers
  FROM (SELECT * FROM sparse UNION ALL SELECT * FROM dense)
  GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, n_tiers::BIGINT AS n_tiers,
       rank::BIGINT AS rank, ROUND(s, 6) AS rrf_score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ROUND(s, 6) DESC, doc_id)
               AS rank
      FROM fused)
WHERE rank <= 10
"""


# ---- Contrastive training-pair mining (hard negatives) -----------------

@caching.leased
def contrastive_pairs(spark, sf_dir):
    """Hard-negative triplet mining over TRAINED vectors (r12, VERDICT
    r11 #7 — was the synthetic md5-embedding table through r11): for
    each anchor (vec_id % 7 == 0), the positive is its most-similar
    SAME-CELL neighbor and the negative its least-similar same-cell
    neighbor — boundary-adjacent negatives, the standard contrastive
    batch-construction pass.  Cell assignment uses the 8 lowest-id
    trained vectors as centroids (shuffle-free projection over a
    broadcast literal); candidate pairs are cell-confined; election is
    one groupBy with rounded-cosine min/max structs (id tie-breaks).
    The oracle replays the full training chain first."""
    tv = caching.persist(_trained_vec_table(spark, sf_dir))
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in tv.select("vec_id", "embedding")
                   .orderBy("vec_id").limit(8).collect()
    ]
    anchors = tv.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    return S.hard_negative_triplets(tv, seeds, anchors)


# r12: full-replay oracle over TRAINED vectors (composition below the
# graph section, like SEMDEDUP)
_CONTRASTIVE_TRAINED_BODY = """,
ct_ev AS MATERIALIZED (
  SELECT node, list(q::DOUBLE ORDER BY j) AS v,
         SUM(q * q)::BIGINT AS nn
  FROM q1 GROUP BY node
),
ct_e0 AS MATERIALIZED (SELECT node AS n_id, v FROM ct_ev WHERE nn > 0),
ct_c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_id) - 1 AS cell, v AS cv
  FROM (SELECT n_id, v FROM ct_e0 ORDER BY n_id LIMIT 8)),
ct_assigned AS MATERIALIZED (
  SELECT n_id, v, cell FROM (
    SELECT ct_e0.n_id, ct_e0.v, ct_c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY ct_e0.n_id
             ORDER BY list_dot_product(ct_e0.v, ct_c.cv) /
                      (sqrt(list_dot_product(ct_e0.v, ct_e0.v)) *
                       sqrt(list_dot_product(ct_c.cv, ct_c.cv))) DESC,
                      ct_c.cell
           ) AS r
    FROM ct_e0 CROSS JOIN ct_c
  ) WHERE r = 1
),
ct_pairs AS (
  SELECT a.n_id AS a_id, b.n_id AS n_id,
         ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 AS cos
  FROM ct_assigned a JOIN ct_assigned b USING (cell)
  WHERE a.n_id % 7 = 0 AND a.n_id <> b.n_id
),
ct_pos AS (
  SELECT a_id, n_id AS pos_id, cos AS pos_cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                 ORDER BY cos DESC, n_id) AS rn
    FROM ct_pairs) WHERE rn = 1
),
ct_neg AS (
  SELECT a_id, n_id AS neg_id, cos AS neg_cos FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                 ORDER BY cos ASC, n_id) AS rn
    FROM ct_pairs) WHERE rn = 1
)
SELECT p.a_id AS anchor_id, p.pos_id, n.neg_id, p.pos_cos, n.neg_cos
FROM ct_pos p JOIN ct_neg n USING (a_id)
WHERE p.pos_id <> n.neg_id"""



def pagerank_copurchase(spark, sf_dir):
    """Integer-exact PageRank (operators/graph.py) over the part
    co-purchase graph: part u -> v iff u and v appear in some common
    order (degrees 42-206 at sf0.01 — real rank differentiation).  8
    iterations, rank int64-scaled by 1e6 — every update is int64-only
    (contribution = rank DIV deg, damping = 17*sum DIV 20) so the
    recursive-CTE oracle reproduces ranks bit-for-bit."""
    from ..operators.graph import pagerank
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    # single-scan edge build: per-order part sets, ordered pairs
    # generated IN-ROW (orders hold <= 7 lineitems), then one distinct
    # — no lineitem self-join (measured 5.0s -> ~1.5s at sf0.1)
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct())
    r = pagerank(edges, iterations=8)
    return r.select(F.col("node").alias("p_partkey"),
                    F.col("rank").alias("pagerank_q"))


PAGERANK_COPURCHASE_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') a
  JOIN (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') b
    ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
nodes AS (
  SELECT node, row_number() OVER (ORDER BY node) AS idx
  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
),
deg AS (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY src),
adjrow AS (
  SELECT nv.idx AS vidx,
         COALESCE(list(nu.idx ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inb,
         COALESCE(list(dg.d ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inbdeg
  FROM nodes nv
  LEFT JOIN e ON e.dst = nv.node
  LEFT JOIN nodes nu ON e.src = nu.node
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY nv.idx
),
g AS (
  SELECT (SELECT COUNT(*) FROM nodes) AS n,
         list(inb ORDER BY vidx) AS adj,
         list(inbdeg ORDER BY vidx) AS adjdeg
  FROM adjrow
),
pr AS (
  SELECT 0 AS it,
         list_transform(range(1, n + 1), x -> 1000000::BIGINT) AS r
  FROM g
  UNION ALL
  SELECT it + 1,
         list_transform(range(1, n + 1), v ->
           150000::BIGINT
           + (17 * COALESCE(list_sum(
               list_transform(range(1, len(adj[v]) + 1),
                              k -> r[adj[v][k]] // adjdeg[v][k])),
               0)) // 20)
  FROM pr, g WHERE it < 8
)
SELECT nodes.node AS p_partkey, pr.r[nodes.idx] AS pagerank_q
FROM nodes, pr WHERE pr.it = 8
"""



@caching.leased
def mmr_diversified_search(spark, sf_dir):
    """MMR-diversified top-10 (similarity.mmr_rerank) over TRAINED
    vectors (r13, VERDICT r12 Next #4 — was the synthetic
    md5-embedding table through r12): the 5 lowest-id trained nodes
    query the trained corpus — brute-force relevance tier ->
    20-candidate pairwise plane -> integer greedy (lam = 0.7, cosines
    rounded 4dp and scaled to 1e4 ints) inside one applyInPandas per
    bounded query group.  Oracle = the full training chain, then the
    same greedy as a recursive CTE with list accumulators."""
    tv = caching.persist(_trained_vec_table(spark, sf_dir))
    queries = tv.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return S.mmr_rerank(tv, queries, k=10, n_candidates=20)


_MMR_TRAINED_BODY = """,
mm_ev AS MATERIALIZED (
  SELECT node, list(q::DOUBLE ORDER BY j) AS v,
         SUM(q * q)::BIGINT AS nn
  FROM q1 GROUP BY node
),
mm_e AS MATERIALIZED (SELECT node AS vec_id, v FROM mm_ev WHERE nn > 0),
mm_q AS (
  SELECT vec_id AS q_id, v AS qv FROM mm_e ORDER BY vec_id LIMIT 5
),
mm_scored AS (
  SELECT mm_q.q_id, mm_e.vec_id AS n_id,
         list_dot_product(mm_q.qv, mm_e.v) /
         (sqrt(list_dot_product(mm_q.qv, mm_q.qv)) *
          sqrt(list_dot_product(mm_e.v, mm_e.v))) AS cos
  FROM mm_e JOIN mm_q ON mm_e.vec_id <> mm_q.q_id
),
mm_cand AS (
  SELECT q_id, n_id, ROUND(ROUND(cos, 4) * 10000, 0)::BIGINT AS rel
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, n_id) AS rank
        FROM mm_scored)
  WHERE rank <= 20
),
mm_cv AS (
  SELECT c.q_id, c.n_id, c.rel, e.v
  FROM mm_cand c JOIN mm_e e ON e.vec_id = c.n_id
),
mm_pw AS (
  SELECT a.q_id, a.n_id AS d1, a.rel AS rel1, b.n_id AS d2,
         ROUND(ROUND(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))), 4)
               * 10000, 0)::BIGINT AS s
  FROM mm_cv a JOIN mm_cv b USING (q_id)
),
mm_rows AS (
  SELECT q_id, d1, any_value(rel1) AS rel, list(s ORDER BY d2) AS srow
  FROM mm_pw GROUP BY q_id, d1
),
mm_g AS (
  SELECT q_id, list(d1 ORDER BY d1) AS ds,
         list(rel ORDER BY d1) AS rels,
         list(srow ORDER BY d1) AS sm
  FROM mm_rows GROUP BY q_id
),
mm_st AS (
  SELECT q_id, ds, rels, sm, 0 AS it,
         []::BIGINT[] AS sel, []::BIGINT[] AS picks,
         []::BIGINT[] AS scores
  FROM mm_g
  UNION ALL
  SELECT q_id, ds, rels, sm, it + 1,
         list_append(sel, best[3]),
         list_append(picks, ds[best[3]]),
         list_append(scores, best[1])
  FROM (
    SELECT q_id, ds, rels, sm, it, sel, picks, scores,
           list_max(list_transform(
             list_filter(range(1, len(ds) + 1),
                         i -> NOT list_contains(sel, i)),
             i -> [7 * rels[i]
                   - 3 * COALESCE(list_max(
                       list_transform(sel, j -> sm[i][j])), 0),
                   -ds[i], i])) AS best
    FROM mm_st WHERE it < 10 AND it < len(ds)
  )
)
SELECT q_id, unnest(picks) AS doc_id,
       unnest(range(1, len(picks) + 1)) AS mmr_rank,
       unnest(scores) AS mmr_score
FROM mm_st WHERE it = least(10, len(ds))"""



def clustering_coefficient(spark, sf_dir):
    """Per-part triangle counts + local clustering coefficient
    (graph.triangle_counts: degree-ordered orientation, each triangle
    found once from its min-rank vertex, forward-degree-bounded wedge
    work) over the same 1995 co-purchase graph as
    pagerank_copurchase."""
    from ..operators.graph import triangle_counts
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct())
    t = triangle_counts(edges)
    return t.select(F.col("node").alias("p_partkey"), "deg", "n_tri",
                    "clustering")


CLUSTERING_COEFFICIENT_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') a
  JOIN (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') b
    ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM e
  WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*)::BIGINT AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node
),
rk AS (SELECT node, deg * 8589934592 + node AS rk FROM deg),
o AS (
  SELECT CASE WHEN ru.rk < rv.rk THEN und.u ELSE und.v END AS a,
         CASE WHEN ru.rk < rv.rk THEN und.v ELSE und.u END AS b,
         greatest(ru.rk, rv.rk) AS rk_hi
  FROM und JOIN rk ru ON ru.node = und.u
           JOIN rk rv ON rv.node = und.v
),
tri AS (
  SELECT w1.a, w1.b, w2.b AS c
  FROM o w1 JOIN o w2 ON w1.a = w2.a AND w1.rk_hi < w2.rk_hi
  JOIN o cl ON cl.a = w1.b AND cl.b = w2.b
),
per_node AS (
  SELECT node, COUNT(*)::BIGINT AS n_tri FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY node
)
SELECT deg.node AS p_partkey, deg.deg,
       COALESCE(per_node.n_tri, 0)::BIGINT AS n_tri,
       CASE WHEN deg.deg >= 2 THEN
         ROUND(2.0 * COALESCE(per_node.n_tri, 0)::DOUBLE
               / (deg.deg * (deg.deg - 1))::DOUBLE, 4)
       ELSE 0.0 END AS clustering
FROM deg LEFT JOIN per_node USING (node)
"""



_PPR_SEEDS = [7, 500, 1333]


def related_parts_ppr(spark, sf_dir):
    """Personalized PageRank (graph.pagerank(seeds=...)) from a fixed
    3-part seed set over the 1995 co-purchase graph — the
    "related items" recommendation shape: teleport mass is confined to
    the seeds, so rank measures co-purchase proximity to them.  Same
    integer machinery as pagerank_copurchase; 6 iterations."""
    from ..operators.graph import pagerank
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct())
    r = pagerank(edges, iterations=6, seeds=_PPR_SEEDS)
    return (r.filter(F.col("rank") > 0)
            .select(F.col("node").alias("p_partkey"),
                    F.col("rank").alias("ppr_q")))


RELATED_PARTS_PPR_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') a
  JOIN (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') b
    ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
nodes AS (
  SELECT node, row_number() OVER (ORDER BY node) AS idx
  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
),
deg AS (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY src),
adjrow AS (
  SELECT nv.idx AS vidx,
         COALESCE(list(nu.idx ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inb,
         COALESCE(list(dg.d ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inbdeg
  FROM nodes nv
  LEFT JOIN e ON e.dst = nv.node
  LEFT JOIN nodes nu ON e.src = nu.node
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY nv.idx
),
g AS (
  SELECT (SELECT COUNT(*) FROM nodes) AS n,
         list(inb ORDER BY vidx) AS adj,
         list(inbdeg ORDER BY vidx) AS adjdeg,
         (SELECT list(CASE WHEN node IN (7, 500, 1333) THEN 1 ELSE 0 END
                      ORDER BY idx) FROM nodes) AS sd
  FROM adjrow
),
pr AS (
  SELECT 0 AS it,
         list_transform(range(1, n + 1),
                        v -> sd[v] * 1000000::BIGINT) AS r
  FROM g
  UNION ALL
  SELECT it + 1,
         list_transform(range(1, n + 1), v ->
           sd[v] * 150000::BIGINT
           + (17 * COALESCE(list_sum(
               list_transform(range(1, len(adj[v]) + 1),
                              k -> r[adj[v][k]] // adjdeg[v][k])),
               0)) // 20)
  FROM pr, g WHERE it < 6
)
SELECT nodes.node AS p_partkey, pr.r[nodes.idx] AS ppr_q
FROM nodes, pr WHERE pr.it = 6 AND pr.r[nodes.idx] > 0
"""



def graph_walks(spark, sf_dir):
    """Deterministic DeepWalk-style random-walk corpus
    (graph.random_walks: salted-md5 next-step over sorted neighbor
    lists, dead-end truncation) over the 1995 co-purchase graph — 2
    walks per part, 6 steps: the graph-embedding training-data
    generation step, reproducible enough for a full value oracle."""
    from ..operators.graph import random_walks
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct())
    return random_walks(edges, walks_per_node=2, walk_len=6,
                        assume_distinct=True)


GRAPH_WALKS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') a
  JOIN (SELECT * FROM lineitem WHERE l_shipdate >= '1995-01-01'
          AND l_shipdate < '1996-01-01') b
    ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
nodes AS (
  SELECT node, row_number() OVER (ORDER BY node) AS idx
  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
),
adjrow AS (
  SELECT n1.idx AS sidx, list(e.dst ORDER BY e.dst) AS nbrs
  FROM e JOIN nodes n1 ON e.src = n1.node GROUP BY n1.idx
),
g AS (
  SELECT list(COALESCE(nbrs, []) ORDER BY idx) AS adj
  FROM nodes LEFT JOIN adjrow ON adjrow.sidx = nodes.idx
),
st AS (
  SELECT node * 2 + k AS walk_key, node AS start_node, node AS cur,
         node::VARCHAR AS walk, 0::BIGINT AS steps, 0 AS it
  FROM nodes, unnest([0, 1]) AS t(k)
  UNION ALL
  SELECT walk_key, start_node, COALESCE(nxt, cur),
         CASE WHEN nxt IS NULL THEN walk
              ELSE walk || '-' || nxt::VARCHAR END,
         steps + CASE WHEN nxt IS NULL THEN 0 ELSE 1 END,
         it + 1
  FROM (
    SELECT st.walk_key, st.start_node, st.cur, st.walk, st.steps,
           st.it,
           CASE WHEN len(g.adj[n.idx]) > 0 THEN
             g.adj[n.idx][
               (('0x' || substr(md5(st.walk_key || ':' || st.it), 1, 8))
                  ::BIGINT % len(g.adj[n.idx])) + 1]
           ELSE NULL END AS nxt
    FROM st JOIN nodes n ON n.node = st.cur CROSS JOIN g
    WHERE st.it < 6
  )
)
SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6
"""



def walk_skipgram_pairs(spark, sf_dir):
    """The DeepWalk pipeline completed end-to-end: deterministic
    random walks over the 1995 co-purchase graph ->
    graph.skipgram_pairs (window 2, in-row pair generation) ->
    (center, context, n_pairs) co-occurrence counts — the
    embedding-training corpus, fully value-oracled."""
    from ..operators.graph import random_walks, skipgram_pairs
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct())
    walks = random_walks(edges, walks_per_node=2, walk_len=6,
                         assume_distinct=True)
    return skipgram_pairs(walks, window=2)


WALK_SKIPGRAM_PAIRS_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    """wk AS (SELECT walk FROM st WHERE it = 6),
sp AS (SELECT string_split(walk, '-') AS sp FROM wk)
SELECT sp[i]::BIGINT AS center, sp[i + o]::BIGINT AS context,
       COUNT(*)::BIGINT AS n_pairs
FROM sp, unnest(range(1, len(sp) + 1)) AS a(i),
     unnest([-2, -1, 1, 2]) AS b(o)
WHERE i + o >= 1 AND i + o <= len(sp)
GROUP BY center, context""").replace(
    ")\nwk AS", "),\nwk AS")


def _copurchase_edges_1995(spark, sf_dir):
    """Distinct co-purchase edges among parts shipped in 1995 — the
    shared graph input of the walks/embedding queries (single-scan
    in-row pair build, no lineitem self-join)."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    return (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct())


def graph_embeddings(spark, sf_dir):
    """The DeepWalk loop CLOSED (VERDICT r10 #3): deterministic walks
    over the 1995 co-purchase graph -> skip-gram pair counts ->
    graph.train_graph_embeddings — a REAL trained 8-dim node
    embedding (shifted-PMI-ratio association + md5 {-1,+1} sketch +
    one integer power refinement, Levy & Goldberg 2014 / Halko et al.
    2011), retrained per run and FULLY value-oracled: the DuckDB
    oracle replays walks, pairs, association, sketch and both
    matrix-vector rounds in exact int64 arithmetic, so a hash
    mismatch catches drift anywhere in the training pipeline."""
    from ..operators.graph import (random_walks, skipgram_pairs,
                                   train_graph_embeddings)
    edges = _copurchase_edges_1995(spark, sf_dir)
    walks = random_walks(edges, walks_per_node=2, walk_len=6,
                         assume_distinct=True)
    pairs = skipgram_pairs(walks, window=2)
    emb = train_graph_embeddings(pairs, dim=8, iters=1)
    return emb.select(
        "node", F.posexplode("emb").alias("j", "q")
    ).select("node", F.col("j").cast("bigint").alias("j"), "q")


def _requant_sql(src: str, out: str) -> str:
    """One per-dimension integer requantization CTE pair (the oracle
    twin of graph.train_graph_embeddings._requant).  MATERIALIZED:
    DuckDB inlines plain CTEs per reference, and the downstream
    matvec/ANN CTEs reference each quantized plane 2-4x — inlined,
    the whole recursive walk chain re-executed per reference (the ANN
    oracle measured 277s vs 16s materialized)."""
    return f"""
{out} AS MATERIALIZED (SELECT node, {src}.j,
              (CASE WHEN s = 0 THEN 0
                    WHEN v >= 0 THEN (v * 4096) // s
                    ELSE -((-v * 4096) // s) END)::BIGINT AS q
       FROM {src} JOIN (SELECT j, MAX(ABS(v)) AS s FROM {src}
                        GROUP BY j) s_{src}
         ON {src}.j = s_{src}.j)"""


_GRAPH_EMB_CHAIN = """wk AS (SELECT walk FROM st WHERE it = 6),
sp AS (SELECT string_split(walk, '-') AS sp FROM wk),
pairs AS (
  SELECT sp[i]::BIGINT AS c, sp[i + o]::BIGINT AS x,
         COUNT(*)::BIGINT AS n
  FROM sp, unnest(range(1, len(sp) + 1)) AS a(i),
       unnest([-2, -1, 1, 2]) AS b(o)
  WHERE i + o >= 1 AND i + o <= len(sp)
  GROUP BY c, x
),
tot AS (SELECT SUM(n)::BIGINT AS D FROM pairs),
ncs AS (SELECT c, SUM(n)::BIGINT AS nc FROM pairs GROUP BY c),
nxs AS (SELECT x, SUM(n)::BIGINT AS nx FROM pairs GROUP BY x),
assoc AS MATERIALIZED (
  SELECT c, x, a FROM (
    SELECT pairs.c AS c, pairs.x AS x,
           GREATEST(0, LEAST(1048576, (pairs.n * 64 * tot.D)
                                      // (ncs.nc * nxs.nx)) - 64) AS a
    FROM pairs JOIN ncs ON pairs.c = ncs.c
               JOIN nxs ON pairs.x = nxs.x CROSS JOIN tot)
  WHERE a > 0
),
rj AS (
  SELECT x, j,
         CASE WHEN ('0x' || substr(md5(x::VARCHAR || ':' || j::VARCHAR),
                                   1, 8))::BIGINT % 2 = 0
              THEN 1::BIGINT ELSE (-1)::BIGINT END AS r
  FROM (SELECT DISTINCT x FROM assoc) xs,
       (SELECT unnest(range(0, 8)) AS j) dims
),
e0 AS (SELECT c AS node, j, SUM(a * r)::BIGINT AS v
       FROM assoc JOIN rj USING (x) GROUP BY c, j),""" + \
    _requant_sql("e0", "q0") + """,
y1 AS (SELECT assoc.x AS node, q0.j, SUM(assoc.a * q0.q)::BIGINT AS v
       FROM assoc JOIN q0 ON assoc.c = q0.node GROUP BY assoc.x, q0.j),""" + \
    _requant_sql("y1", "qy") + """,
e1 AS (SELECT assoc.c AS node, qy.j, SUM(assoc.a * qy.q)::BIGINT AS v
       FROM assoc JOIN qy ON assoc.x = qy.node GROUP BY assoc.c, qy.j),""" + \
    _requant_sql("e1", "q1")


GRAPH_EMBEDDINGS_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + """
SELECT node, j::BIGINT AS j, q FROM q1""").replace(
    ")\nwk AS", "),\nwk AS")


_GRAPH_EMB_BUILT: set = set()


def _graph_emb_seed(spark, sf_dir) -> str:
    """Build-or-reuse the PERSISTED trained-embedding artifact for
    ``sf_dir`` (the seed-index pattern of _ivfpq_seed_index /
    _text_seed_index): train_graph_embeddings output parquet under the
    gitignored ``.graph_emb/<tag>``, keyed by the lineitem fingerprint
    + embedding config.  Training is deterministic, so the artifact's
    values equal a fresh retrain (what graph_embeddings verifies
    per run against the full-replay oracle) — consumers read trained
    vectors at index-read cost instead of re-running the walk/train
    pipeline inline."""
    import os

    from ..core import artifacts as _art
    from ..operators.graph import (random_walks, skipgram_pairs,
                                   train_graph_embeddings)

    src = os.path.join(sf_dir, "lineitem.parquet")
    try:
        st = os.stat(src)
        fp = f"{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        fp = "unknown"
    # ARTIFACT_VERSION folds into the tag (VERDICT r11 #3): a
    # train_graph_embeddings behavior change = one central bump.
    tag = _art.artifact_tag(
        os.path.abspath(sf_dir), "gemb-d8-i1-w2x6", fp)
    repo = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    path = os.path.join(repo, ".graph_emb", tag)
    if tag not in _GRAPH_EMB_BUILT:
        done = (os.path.exists(os.path.join(path, "_SUCCESS"))
                and _art.version_ok(path))
        if not done:
            edges = _copurchase_edges_1995(spark, sf_dir)
            walks = random_walks(edges, walks_per_node=2, walk_len=6,
                                 assume_distinct=True)
            pairs = skipgram_pairs(walks, window=2)
            emb = train_graph_embeddings(pairs, dim=8, iters=1)
            emb.write.mode("overwrite").parquet(path)
            _art.stamp_version(path)
        _GRAPH_EMB_BUILT.add(tag)
    return path


@caching.leased
def trained_ann_topk(spark, sf_dir):
    """ANN over TRAINED vectors (VERDICT r10 #3 'done' condition): the
    8 lowest-id nodes with a nonzero trained embedding probe the full
    embedding table for cosine top-5 (integer dot products + norms;
    ordering by the ROUNDED score so engine float noise cannot flip
    ranks — the mmr/contrastive recipe).  The probes x candidates
    plane is 8 x vocab, bounded.  The trained vectors come from the
    PERSISTED artifact (_graph_emb_seed): training is paid once per
    corpus snapshot, the search is an artifact read — and because
    training is deterministic, the full-replay oracle still verifies
    every value the artifact serves."""
    from pyspark.sql import Window as W
    emb = spark.read.parquet(_graph_emb_seed(spark, sf_dir))
    nn = F.aggregate(F.transform("emb", lambda e: e * e),
                     F.lit(0).cast("long"), lambda acc, v: acc + v)
    emb = caching.persist(
        emb.select("node", "emb", nn.alias("nn"))
        .filter(F.col("nn") > 0))
    probes = (emb.orderBy("node").limit(8)
              .select(F.col("node").alias("probe"),
                      F.col("emb").alias("p_emb"),
                      F.col("nn").alias("p_nn")))
    dot = F.aggregate(F.zip_with("p_emb", "emb", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    score = F.round(dot.cast("double")
                    / (F.sqrt(F.col("p_nn").cast("double"))
                       * F.sqrt(F.col("nn").cast("double"))), 4) + 0.0
    cand = (emb.crossJoin(F.broadcast(probes))
            .filter(F.col("node") != F.col("probe"))
            .select("probe", "node", score.alias("score")))
    w = W.partitionBy("probe").orderBy(F.col("score").desc(),
                                       F.col("node"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("probe", "node", F.col("rank").cast("bigint")
                    .alias("rank"), "score"))


TRAINED_ANN_TOPK_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + """,
nn AS (SELECT node, SUM(q * q)::BIGINT AS nn FROM q1 GROUP BY node),
pv AS (SELECT node AS probe, nn AS p_nn FROM nn WHERE nn > 0
       ORDER BY node LIMIT 8),
dots AS (
  SELECT pv.probe, b.node, pv.p_nn, c.nn,
         SUM(a.q * b.q)::BIGINT AS dot
  FROM pv JOIN q1 a ON a.node = pv.probe
       JOIN q1 b ON b.j = a.j AND b.node <> pv.probe
       JOIN nn c ON c.node = b.node AND c.nn > 0
  GROUP BY pv.probe, b.node, pv.p_nn, c.nn
),
scored AS (
  SELECT probe, node,
         ROUND(dot / (sqrt(p_nn) * sqrt(nn)), 4) + 0.0 AS score
  FROM dots
),
r AS (
  SELECT probe, node, score,
         ROW_NUMBER() OVER (PARTITION BY probe
                            ORDER BY score DESC, node) AS rank
  FROM scored
)
SELECT probe, node, rank::BIGINT AS rank, score FROM r
WHERE rank <= 5""").replace(
    ")\nwk AS", "),\nwk AS")


# r12 (VERDICT r11 #7): the migrated similarity-tier oracles replay
# the full training chain before their own joins (bodies defined next
# to their queries above)
SEMDEDUP_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + _SEMDEDUP_TRAINED_BODY).replace(
    ")\nwk AS", "),\nwk AS")

CONTRASTIVE_PAIRS_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + _CONTRASTIVE_TRAINED_BODY).replace(
    ")\nwk AS", "),\nwk AS")

# r13 (VERDICT r12 Next #4): the remaining similarity-tier queries
# migrate to trained vectors with the same full-replay composition
DIVERSITY_SAMPLE_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + _DIVERSITY_TRAINED_BODY).replace(
    ")\nwk AS", "),\nwk AS")

KNN_LABEL_PROPAGATION_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + _KNN_TRAINED_BODY).replace(
    ")\nwk AS", "),\nwk AS")

MMR_DIVERSIFIED_SEARCH_SQL = GRAPH_WALKS_SQL.replace(
    "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
    _GRAPH_EMB_CHAIN + _MMR_TRAINED_BODY).replace(
    ")\nwk AS", "),\nwk AS")


def _semantic_planes(n_planes: int = 6, dim: int = 8) -> list[list[int]]:
    """Deterministic {-1,+1} hyperplanes for the semantic-cluster LSH
    tier — md5-derived config constants (computed once here, embedded
    as literals in BOTH engines, like the MINHASH_A table)."""
    import hashlib
    return [[1 if int(hashlib.md5(f"pl:{p}:{j}".encode())
                      .hexdigest()[:8], 16) % 2 == 0 else -1
             for j in range(dim)]
            for p in range(n_planes)]


_SEM_PLANES = _semantic_planes(16)

# LSH sizing: buckets target ~_SEM_TARGET_OCC vectors each; the
# effective signature LENGTH grows with the corpus (VERDICT r11 #2 —
# a fixed 64-bucket scheme is quadratic in bucket occupancy at scale).
_SEM_TARGET_OCC = 256
_SEM_SIG_LO, _SEM_SIG_HI = 6, 16


def _sem_sig_len(n: int, target: int = _SEM_TARGET_OCC,
                 lo: int = _SEM_SIG_LO, hi: int = _SEM_SIG_HI) -> int:
    """Smallest L in [lo, hi] with 2^L buckets holding <= target
    vectors on average — pure integer doublings (no libm log2), so
    Spark/DuckDB/Python agree exactly."""
    sig_len, cap = lo, target << lo
    while sig_len < hi and n > cap:
        sig_len += 1
        cap <<= 1
    return sig_len


@caching.leased
def semantic_clusters_over(emb, target_occ: int = _SEM_TARGET_OCC,
                           max_bucket: int = 2048):
    """Core of :func:`semantic_clusters` over any (node, emb) table —
    factored so the hot-bucket guard is unit-testable on planted
    clone-heavy vectors without the persisted artifact."""
    from ..operators.dedup import connected_components
    nn = F.aggregate(F.transform("emb", lambda e: e * e),
                     F.lit(0).cast("long"), lambda acc, v: acc + v)
    sig = F.concat_ws("", *[
        F.when(
            F.aggregate(
                F.zip_with("emb",
                           F.array(*[F.lit(v) for v in plane]),
                           lambda a, b: a * b),
                F.lit(0).cast("long"), lambda acc, v: acc + v) >= 0,
            F.lit("1")).otherwise(F.lit("0"))
        for plane in _SEM_PLANES])
    base = caching.persist(
        emb.select("node", "emb", nn.alias("nn"), sig.alias("sig"))
        .filter(F.col("nn") > 0))
    # plane count derives from the corpus (1-value driver collect):
    # 2^L buckets sized for ~target_occ vectors each
    sig_len = _sem_sig_len(base.count(), target=target_occ)
    bkt = F.substring("sig", 1, sig_len)
    keyed = base.select("node", "emb", "nn", bkt.alias("bkt"))
    # hot-bucket guard (VERDICT r11 #2, the dedup-tier convention):
    # clone-heavy / low-variance vectors concentrate in ONE bucket at
    # ANY plane count — in-bucket pairs are quadratic in occupancy, so
    # a bucket past max_bucket raises IN the data path (the when/
    # otherwise feeds the join key, so Catalyst cannot prune it)
    # instead of silently going quadratic; route such corpora through
    # the dedup tier (exact/MinHash) first.
    cnt = keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("__occ"))
    guarded = F.when(
        F.col("__occ") <= max_bucket, F.col("bkt")
    ).otherwise(F.raise_error(F.concat(
        F.lit("semantic_clusters: hot LSH bucket ("),
        F.col("__occ").cast("string"),
        F.lit(f" > max_bucket={max_bucket} vectors) — clone-heavy "
              "input; dedup first or raise max_bucket"))))
    a = keyed.join(cnt, "bkt").select(
        guarded.alias("k"), F.col("node").alias("na"),
        F.col("emb").alias("ea"), F.col("nn").alias("nna"))
    b = keyed.select(F.col("bkt").alias("k"),
                     F.col("node").alias("nb"),
                     F.col("emb").alias("eb"), F.col("nn").alias("nnb"))
    dot = F.aggregate(F.zip_with("ea", "eb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    cos = F.round(dot.cast("double")
                  / (F.sqrt(F.col("nna").cast("double"))
                     * F.sqrt(F.col("nnb").cast("double"))), 4)
    pairs = (a.join(b, "k")
             .filter(F.col("na") < F.col("nb"))
             .select("na", "nb", cos.alias("cos"))
             .filter(F.col("cos") >= 0.95))
    comps = connected_components(pairs, id_a="na", id_b="nb")
    return (
        emb.select("node")
        .join(comps.withColumnRenamed("id", "node")
              .withColumnRenamed("comp", "__c"), "node", "left")
        .select(
            "node",
            F.coalesce("__c", F.col("node")).cast("bigint")
            .alias("cluster"),
            (F.coalesce("__c", F.col("node")) == F.col("node"))
            .alias("is_canonical")))


def semantic_clusters(spark, sf_dir):
    """TRAINED vectors feeding the dedup/clustering tier end-to-end:
    the persisted graph embeddings (_graph_emb_seed) are bucketed by
    an LSH signature whose LENGTH derives from the corpus size
    (:func:`_sem_sig_len`: 2^L buckets targeting ~256 vectors each,
    L in [6, 16] — integer dots against the literal {-1,+1} planes, so
    sign decisions are exact), candidate pairs within a bucket verify
    at ROUNDED cosine >= 0.95 (integer dots + norms, the
    mmr/contrastive recipe), and connected components resolve the
    verified pairs into semantic clusters -> (node, cluster,
    is_canonical).

    Scale shape (VERDICT r11 #2): signatures are one in-row
    projection; the candidate self-join is bucket-confined with
    occupancy ~target regardless of corpus size; buckets past
    max_bucket (clone-heavy data no plane count can split) raise in
    the data path instead of going quadratic; CC runs on the verified
    pair set only.  The oracle replays the WHOLE chain — embedding
    training, the integer sig-length derivation included — plus the
    signature/verify joins and a reachability CTE."""
    return semantic_clusters_over(
        spark.read.parquet(_graph_emb_seed(spark, sf_dir)))


def _semantic_clusters_sql() -> str:
    flat = ", ".join(
        f"({p}, {j}, {v})"
        for p, plane in enumerate(_SEM_PLANES)
        for j, v in enumerate(plane))
    # integer sig-length derivation (mirror of _sem_sig_len): smallest
    # L in [6, 16] with n <= 256 * 2^L — a CASE chain over exact
    # power-of-two thresholds, no libm log2
    thresholds = "\n    ".join(
        f"WHEN n <= {_SEM_TARGET_OCC << sig_len} THEN {sig_len}"
        for sig_len in range(_SEM_SIG_LO, _SEM_SIG_HI))
    chain = _GRAPH_EMB_CHAIN + f""",
rp(p, j, r) AS (VALUES {flat}),
nnq AS MATERIALIZED (
  SELECT node, SUM(q * q)::BIGINT AS nn FROM q1 GROUP BY node
),
slen AS MATERIALIZED (
  SELECT CASE
    {thresholds}
    ELSE {_SEM_SIG_HI} END AS L
  FROM (SELECT COUNT(*)::BIGINT AS n FROM nnq WHERE nn > 0)
),
sigs AS MATERIALIZED (
  SELECT sq.node,
         substr(string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY p), 1, (SELECT L FROM slen)) AS sig
  FROM (
    SELECT q1.node, rp.p, SUM(q1.q * rp.r)::BIGINT AS s
    FROM q1 JOIN rp ON rp.j = q1.j
    GROUP BY q1.node, rp.p) sq
  GROUP BY sq.node
),
prs AS (
  SELECT a.node AS na, b.node AS nb
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.node < b.node
  JOIN nnq x ON x.node = a.node AND x.nn > 0
  JOIN nnq y ON y.node = b.node AND y.nn > 0
  JOIN q1 p ON p.node = a.node
  JOIN q1 c ON c.node = b.node AND c.j = p.j
  GROUP BY a.node, b.node, x.nn, y.nn
  HAVING ROUND(SUM(p.q * c.q) / (sqrt(x.nn) * sqrt(y.nn)), 4) >= 0.95
),
edges2 AS (
  SELECT na AS src, nb AS dst FROM prs
  UNION SELECT nb, na FROM prs
),
reach(node2, comp) AS (
  SELECT src, src FROM edges2
  UNION
  SELECT e.src, r.comp FROM edges2 e JOIN reach r ON e.dst = r.node2
),
comps AS (SELECT node2, MIN(comp) AS comp FROM reach GROUP BY node2)
SELECT q.node,
       COALESCE(c.comp, q.node) AS cluster,
       COALESCE(c.comp, q.node) = q.node AS is_canonical
FROM (SELECT DISTINCT node FROM q1) q
LEFT JOIN comps c ON c.node2 = q.node"""
    return GRAPH_WALKS_SQL.replace(
        "SELECT walk_key, start_node, steps, walk FROM st WHERE it = 6",
        chain).replace(")\nwk AS", "),\nwk AS")


SEMANTIC_CLUSTERS_SQL = _semantic_clusters_sql()


def weighted_pagerank_copurchase(spark, sf_dir):
    """WEIGHTED PageRank (graph.pagerank(weight_col=...)): edge weight
    = number of 1995 orders the two parts co-occur in, so mass flows
    proportionally to co-purchase strength — contribution =
    (rank * w) DIV W with W the part's total out-weight, still
    int64-only."""
    from ..operators.graph import pagerank
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1996-01-01"))
          .select("l_orderkey", "l_partkey"))
    pairs = F.expr(
        "flatten(transform(ps, x -> transform("
        "filter(ps, y -> y != x), y -> struct(x AS src, y AS dst))))")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w")))
    r = pagerank(edges, iterations=6, weight_col="w")
    return r.select(F.col("node").alias("p_partkey"),
                    F.col("rank").alias("wpr_q"))


WEIGHTED_PAGERANK_SQL = """
WITH RECURSIVE e AS (
  SELECT src, dst, COUNT(*)::BIGINT AS w FROM (
    SELECT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_shipdate >= '1995-01-01'
            AND l_shipdate < '1996-01-01') a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          WHERE l_shipdate >= '1995-01-01'
            AND l_shipdate < '1996-01-01') b
      ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey <> b.l_partkey)
  GROUP BY src, dst
),
nodes AS (
  SELECT node, row_number() OVER (ORDER BY node) AS idx
  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
),
wdeg AS (SELECT src, SUM(w)::BIGINT AS wd FROM e GROUP BY src),
adjrow AS (
  SELECT nv.idx AS vidx,
         COALESCE(list(nu.idx ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inb,
         COALESCE(list(dg.wd ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inbdeg,
         COALESCE(list(e.w ORDER BY nu.idx)
                    FILTER (WHERE nu.idx IS NOT NULL), []) AS inbw
  FROM nodes nv
  LEFT JOIN e ON e.dst = nv.node
  LEFT JOIN nodes nu ON e.src = nu.node
  LEFT JOIN wdeg dg ON dg.src = e.src
  GROUP BY nv.idx
),
g AS (
  SELECT (SELECT COUNT(*) FROM nodes) AS n,
         list(inb ORDER BY vidx) AS adj,
         list(inbdeg ORDER BY vidx) AS adjdeg,
         list(inbw ORDER BY vidx) AS adjw
  FROM adjrow
),
pr AS (
  SELECT 0 AS it,
         list_transform(range(1, n + 1), x -> 1000000::BIGINT) AS r
  FROM g
  UNION ALL
  SELECT it + 1,
         list_transform(range(1, n + 1), v ->
           150000::BIGINT
           + (17 * COALESCE(list_sum(
               list_transform(range(1, len(adj[v]) + 1),
                              k -> (r[adj[v][k]] * adjw[v][k])
                                   // adjdeg[v][k])),
               0)) // 20)
  FROM pr, g WHERE it < 6
)
SELECT nodes.node AS p_partkey, pr.r[nodes.idx] AS wpr_q
FROM nodes, pr WHERE pr.it = 6
"""


QUERIES = {
    "minhash_lsh_dedup": (minhash_lsh_dedup, MINHASH_LSH_DEDUP_SQL),
    # NEW r10 session-2: integer-exact PageRank over the co-supplier graph
    "pagerank_copurchase": (pagerank_copurchase,
                            PAGERANK_COPURCHASE_SQL),
    # NEW r10 session-2: weighted PageRank over co-purchase counts
    "weighted_pagerank": (weighted_pagerank_copurchase,
                          WEIGHTED_PAGERANK_SQL),
    # NEW r10 session-2: skip-gram pairs from the walk corpus
    "walk_skipgram_pairs": (walk_skipgram_pairs,
                            WALK_SKIPGRAM_PAIRS_SQL),
    # NEW r11: trained graph embeddings (DeepWalk loop closed) with a
    # FULL-REPLAY oracle of the whole training pipeline
    "graph_embeddings": (graph_embeddings, GRAPH_EMBEDDINGS_SQL),
    # NEW r11: cosine ANN over the TRAINED vectors
    "trained_ann_topk": (trained_ann_topk, TRAINED_ANN_TOPK_SQL),
    # NEW r11: trained vectors -> LSH buckets -> verified pairs -> CC
    "semantic_clusters": (semantic_clusters, SEMANTIC_CLUSTERS_SQL),
    # NEW r10 session-2: deterministic random-walk corpus
    "graph_walks": (graph_walks, GRAPH_WALKS_SQL),
    # NEW r10 session-2: personalized PageRank (related-parts recs)
    "related_parts_ppr": (related_parts_ppr, RELATED_PARTS_PPR_SQL),
    # NEW r10 session-2: triangle counts / clustering coefficient
    "clustering_coefficient": (clustering_coefficient,
                               CLUSTERING_COEFFICIENT_SQL),
    # NEW r10 session-2: MMR result diversification
    "mmr_diversified_search": (mmr_diversified_search,
                               MMR_DIVERSIFIED_SEARCH_SQL),
    # NEW r10: incremental fuzzy dedup against the persisted band index
    "cross_minhash_dedup": (cross_minhash_dedup,
                            CROSS_MINHASH_DEDUP_SQL),
    "ngram_jaccard": (ngram_jaccard, NGRAM_JACCARD_SQL),
    "ngram_jaccard_capped": (ngram_jaccard_capped, NGRAM_JACCARD_CAPPED_SQL),
    "dedup_components": (dedup_components, DEDUP_COMPONENTS_SQL),
    "dedup_components_star": (dedup_components_star, DEDUP_COMPONENTS_SQL),
    # r11 (VERDICT r10 #6), r12 ingest-shaped (VERDICT r11 #4):
    # persisted postings + label index probed by the batch, index
    # updated in place; oracle replays the full recompute over the
    # band-collision ∩ Jaccard-verified pair universe
    "dedup_components_incremental": (dedup_components_incremental,
                                     DEDUP_COMPONENTS_INCREMENTAL_SQL),
    # NEW r13: ingest-shaped keeper election — touched-cluster-only
    # re-election over the persisted keeper index (VERDICT r12 #6)
    "dedup_keeper_incremental": (dedup_keeper_incremental,
                                 DEDUP_KEEPER_INCREMENTAL_SQL),
    # NEW r12: quality-aware keeper election over near-dup clusters
    # (keep the most informative member, not the smallest id)
    "dedup_keeper_election": (dedup_keeper_election,
                              DEDUP_KEEPER_ELECTION_SQL),
    "simhash_fingerprints": (simhash_fingerprints, SIMHASH_FINGERPRINTS_SQL),
    "simhash_neardup": (simhash_neardup, SIMHASH_NEARDUP_SQL),
    # NEW r8: the Manku-config scale path with the hot-block cap
    "simhash_neardup_capped": (simhash_neardup_capped,
                               SIMHASH_NEARDUP_CAPPED_SQL),
    "diversity_sample": (diversity_sample, DIVERSITY_SAMPLE_SQL),
    "embedding_topk": (embedding_topk, EMBEDDING_TOPK_SQL),
    "embedding_topk_ivf": (embedding_topk_ivf, EMBEDDING_TOPK_IVF_SQL),
    "pq_adc_topk": (pq_adc_topk, PQ_ADC_TOPK_SQL),
    "embedding_topk_ivfpq": (embedding_topk_ivfpq, EMBEDDING_TOPK_IVFPQ_SQL),
    # NEW r10: the persisted-index read path, driver-checked end-to-end
    # (IVFADC-R: saved cell-partitioned codes + exact rerank)
    "ivfpq_indexed_search": (ivfpq_indexed_search,
                             IVFPQ_INDEXED_SEARCH_SQL),
    "semdedup_embeddings": (semdedup_embeddings, SEMDEDUP_SQL),
    # NEW r8: semi-supervised labeling composed from the ANN machinery
    "knn_label_propagation": (knn_label_propagation_q,
                              KNN_LABEL_PROPAGATION_SQL),
    # NEW r8: dedup-tier evaluation harness (planted-clone recall)
    "dedup_recall_eval": (dedup_recall_eval, DEDUP_RECALL_EVAL_SQL),
    # NEW r9: RRF hybrid retrieval composing both index tiers
    "hybrid_retrieval": (hybrid_retrieval, HYBRID_RETRIEVAL_SQL),
    # NEW r9: contrastive hard-negative mining over the IVF cells
    "contrastive_pairs": (contrastive_pairs, CONTRASTIVE_PAIRS_SQL),
}
