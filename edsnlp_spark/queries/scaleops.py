"""Scale-path queries: MinHash and n-gram dedup, SimHash.

The north-star LLM-data-pipeline operators (BASELINE.json) as
oracle-checked queries.  Hashing is md5-based everywhere so DuckDB can
reproduce signatures exactly; Jaccard scores are rounded to 4 decimals
on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t
from ..core import caching
from ..operators import dedup as D


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


# ---- dedup-tier recall evaluation (planted clones) ---------------------

def dedup_recall_eval(spark, sf_dir):
    """Evaluation harness for the dedup tier: plant exact clones
    (doc_id % 37 == 1 duplicated at id + 100000), run MinHash-LSH
    candidate generation, and score it ->
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


QUERIES = {
    "minhash_lsh_dedup": (minhash_lsh_dedup, MINHASH_LSH_DEDUP_SQL),
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
    # NEW r8: dedup-tier evaluation harness (planted-clone recall)
    "dedup_recall_eval": (dedup_recall_eval, DEDUP_RECALL_EVAL_SQL),
}
