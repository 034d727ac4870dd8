"""Token-offset proof, LSH ANN and embedding near-dup queries."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t
from .textops import _notes
from ..core.base import Pipeline
from ..operators.tokenizer import Tokenizer
from ..operators.similarity import lsh_topk


# ---- tokenizer offsets vs independent SQL prefix sums -----------------

def token_offsets(spark, sf_dir):
    """The engine's offset-bearing tokens checked against an oracle that
    derives offsets from first principles (prefix sums over token
    lengths on pretokenized text)."""
    notes = Pipeline([Tokenizer(mode="pretokenized")])(_notes(spark, sf_dir))
    return notes.select(
        F.col("note_id").alias("doc_id"), F.explode("tokens").alias("t")
    ).select(
        "doc_id",
        (F.col("t.i") + 1).cast("bigint").alias("pos"),
        F.col("t.text").alias("token"),
        F.col("t.start").cast("bigint").alias("start_char"),
        F.col("t.end").cast("bigint").alias("end_char"),
    )


TOKEN_OFFSETS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
)
SELECT doc_id, pos, ts[pos] AS token,
       CAST(COALESCE(list_sum([len(x) for x in ts[1:pos-1]]), 0) + pos - 1
         AS BIGINT) AS start_char,
       CAST(COALESCE(list_sum([len(x) for x in ts[1:pos-1]]), 0) + pos - 1
         + len(ts[pos]) AS BIGINT) AS end_char
FROM toks, unnest(range(1, len(ts) + 1)) AS u(pos)
"""


# ---- LSH-bucketed approximate nearest neighbors -----------------------

# Fixed hyperplanes (deterministic, engine-portable).  8 planes over the
# first 8 dims -> 256 buckets; remaining dims weighted zero.
_PLANES = [
    [1.0 if j == i else (-1.0 if j == i + 1 else 0.0) for j in range(64)]
    for i in range(8)
]


def embedding_topk_lsh(spark, sf_dir):
    """Approximate top-k: candidates restricted to the query's
    random-hyperplane bucket — the scale path of similarity search
    (bucket join instead of full cross product)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return lsh_topk(emb, queries, _PLANES, k=5)


def _plane_sql(p):
    terms = " + ".join(
        f"({w} * v[{i + 1}])" for i, w in enumerate(p) if w != 0.0)
    return f"CASE WHEN {terms} >= 0 THEN '1' ELSE '0' END"


_BUCKET_SQL = " || ".join(_plane_sql(p) for p in _PLANES)

EMBEDDING_TOPK_LSH_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         list_dot_product(q.qv, e.v) /
         (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
           AS cos
  FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.q_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
           AS rank
  FROM scored
)
SELECT q_id, n_id, rank, ROUND(cos, 4) AS cos_sim
FROM ranked WHERE rank <= 5
"""


# ---- embedding-cosine near-dup (dedup variant of similarity) ----------

def embedding_neardup(spark, sf_dir):
    """Near-duplicate embedding PAIRS: identical hyperplane signature as
    candidate generation, exact cosine verify in-bucket (no all-pairs).
    The LLM-data-pipeline dedup op for embedding columns.

    Threshold 0.3 (not the production-typical 0.9) because the synthetic
    embeddings are near-orthogonal random vectors — 0.3 yields a real,
    discriminating pair set on this data instead of an empty result."""
    from ..operators.similarity import cosine_neardup
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_neardup(emb, _PLANES, threshold=0.3)


EMBEDDING_NEARDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_dot_product(a.v, b.v) /
         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
         4) AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
      4) >= 0.3
"""


QUERIES = {
    "token_offsets": (token_offsets, TOKEN_OFFSETS_SQL),
    "embedding_topk_lsh": (embedding_topk_lsh, EMBEDDING_TOPK_LSH_SQL),
    "embedding_neardup": (embedding_neardup, EMBEDDING_NEARDUP_SQL),
}
