"""Lexicon-matching driver queries: the real terminology dictionaries
(reference drugs.json / cim10.csv.gz, converted to resources/*.parquet)
matched by the LexiconMatcher anchor+verify join, with a DuckDB oracle
that re-derives the same matching from the precomputed NORM keys.

Corpus construction: the synthetic ``documents`` table is English text
with no French drug mentions, so each document is deterministically
paired with one dictionary surface form (doc_id mod |lexicon|) and the
form's normalized key is appended to the text.  Matching then exercises
both the injected mention (guaranteed hit, incl. multi-token forms) and
any incidental collisions between English tokens and lexicon anchors —
and the oracle reproduces the full n-gram semantics, not just the
injection, so sub-term hits (e.g. 'paracetamol' inside
'paracetamol codeine') are checked too.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from . import _t
from ..core import caching
from ..core.base import Pipeline
from ..operators.tokenizer import Tokenizer
from ..operators.terminology import LexiconMatcher
from ..resources import resource_path


def _lexicon_notes(spark, sf_dir, resource: str):
    """documents × one-lexicon-form-per-doc, key appended to the text."""
    from ..resources import load_resource
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lex = load_resource(spark, resource)
    n = lex.count()
    # Global (partition-less) window: intentionally serial — it numbers
    # the RESOURCE lexicon (5.8k-200k rows, bounded by the dictionary,
    # never by corpus size) to give every doc a deterministic form.
    # Test scaffolding only; the corpus side never passes through it.
    ranked = lex.select("kb_id", "key").withColumn(
        "rn", F.row_number().over(Window.orderBy("kb_id", "key")))
    return (
        docs.withColumn("rn", (F.col("doc_id") % F.lit(n)) + 1)
        .join(F.broadcast(ranked), "rn")
        .select(
            F.col("doc_id").alias("note_id"),
            F.concat_ws(" ", "text", "key").alias("note_text"),
        )
        # documents.parquet is a single split at test SFs and the
        # broadcast join preserves it — spread the downstream
        # tokenization across cores (no-op shape at cluster scale)
        .repartition(spark.sparkContext.defaultParallelism)
    )


@caching.leased
def drugs_lexicon_match(spark, sf_dir):
    """Full ATC drug dictionary (5 789 forms) via LexiconMatcher.

    notes is persisted: LexiconMatcher references it twice (anchor
    explode + verify join-back) and the tokenized subtree would rebuild
    per reference otherwise (CLAUDE.md lazy-plan gotcha)."""
    notes = caching.persist(Pipeline([Tokenizer(mode="pretokenized")])(
        _lexicon_notes(spark, sf_dir, "drugs")))
    ents = LexiconMatcher("drug", "drugs").entities(notes)
    return ents.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        "kb_id",
        F.col("lexical_variant").alias("term"),
    )


DRUGS_LEXICON_MATCH_SQL = f"""
WITH lex AS (
  SELECT kb_id, key, n FROM read_parquet('{resource_path("drugs")}')
),
ranked AS (
  SELECT kb_id, key, ROW_NUMBER() OVER (ORDER BY kb_id, key) AS rn FROM lex
),
notes AS (
  SELECT d.doc_id, d.text || ' ' || r.key AS note_text
  FROM documents d
  JOIN ranked r ON (d.doc_id % (SELECT COUNT(*) FROM lex)) + 1 = r.rn
),
toklist AS (SELECT doc_id, string_split(note_text, ' ') AS toks FROM notes),
tok AS (
  SELECT doc_id, unnest(toks) AS token,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM toklist
),
terms AS (
  SELECT kb_id, key, n, string_split(key, ' ') AS ktoks,
         string_split(key, ' ')[1] AS anchor
  FROM lex
),
cand AS (
  SELECT t.doc_id, t.pos, m.kb_id, m.n, m.ktoks
  FROM tok t JOIN terms m ON lower(t.token) = m.anchor
),
hit AS (
  SELECT c.doc_id, CAST(c.pos AS BIGINT) AS pos, c.kb_id,
         array_to_string(list_slice(l.toks, c.pos, c.pos + c.n - 1), ' ')
           AS term
  FROM cand c JOIN toklist l USING (doc_id)
  WHERE c.pos + c.n - 1 <= len(l.toks)
    AND list_transform(list_slice(l.toks, c.pos, c.pos + c.n - 1),
                       x -> lower(x)) = c.ktoks
)
SELECT doc_id, pos, kb_id, term FROM hit
"""


# ---- UMLS-scale tier: 200k-form synthetic lexicon ---------------------
# UMLS concept data itself is license-gated (reference
# pipes/ner/umls/factory.py:23), so the SCALE PATH is demonstrated with a
# deterministic 200k-form synthetic lexicon whose SHAPE matches a real
# terminology: ~50k distinct anchor (first) tokens with ~4 terms each and
# term lengths 1..3 — anchor selectivity is what keeps the anchor+verify
# plan's candidate set proportional to true mentions (a 31-word anchor
# vocabulary would expand every anchored token into ~30k candidates: the
# degenerate case measured and rejected while building this query).
# Each document gets one injected mention (term doc_id % 200k appended),
# so hits include every injection plus incidental sub-term collisions.
# At this size the terms table must not broadcast: the matcher runs with
# broadcast_terms=False and the anchor join is a shuffle-hash join keyed
# by anchor token (asserted in tests/test_plans.py).

SCALE_N_TERMS = 200_000


def _scale_key(i):
    """key + n for synthetic term ``i`` (Column, 0-based)."""
    t1 = F.concat(F.lit("u"), (i % 49999).cast("string"))
    t2 = F.concat(F.lit("u"), ((i * 3 + 1) % 49999).cast("string"))
    t3 = F.concat(F.lit("u"), ((i * 7 + 2) % 49999).cast("string"))
    n = (i % 3 + 1).cast("int")
    key = (
        F.when(n == 1, t1)
        .when(n == 2, F.concat_ws(" ", t1, t2))
        .otherwise(F.concat_ws(" ", t1, t2, t3))
    )
    return key, n


def scale_terms(spark):
    """(kb_id, term, key, n) — the synthetic 200k-form lexicon."""
    i = F.col("id")
    key, n = _scale_key(i)
    return spark.range(SCALE_N_TERMS).select(
        F.concat(F.lit("C"), i).alias("kb_id"),
        key.alias("term"), key.alias("key"), n.alias("n"),
    )


@caching.leased
def umls_scale_match(spark, sf_dir):
    """200k-form lexicon through the non-broadcast LexiconMatcher path."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    key, _ = _scale_key(F.col("doc_id") % SCALE_N_TERMS)
    notes = docs.select(
        F.col("doc_id").alias("note_id"),
        F.concat_ws(" ", "text", key).alias("note_text"),
    ).repartition(spark.sparkContext.defaultParallelism)
    # persisted: two references from the anchor+verify join (see above)
    notes = caching.persist(
        Pipeline([Tokenizer(mode="pretokenized")])(notes))
    ents = LexiconMatcher(
        "umls", resource="", terms_df=scale_terms(spark),
        broadcast_terms=False,
    ).entities(notes)
    return ents.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        "kb_id",
        F.col("lexical_variant").alias("term"),
    )


_SCALE_KEY_SQL = """
  CASE ({i}) % 3
    WHEN 0 THEN 'u' || (({i}) % 49999)
    WHEN 1 THEN 'u' || (({i}) % 49999) || ' u' || ((({i}) * 3 + 1) % 49999)
    ELSE 'u' || (({i}) % 49999) || ' u' || ((({i}) * 3 + 1) % 49999)
         || ' u' || ((({i}) * 7 + 2) % 49999)
  END
"""
UMLS_SCALE_MATCH_SQL = f"""
WITH terms AS (
  SELECT 'C' || i AS kb_id,
         {_SCALE_KEY_SQL.format(i='i')} AS key,
         i % 3 + 1 AS n
  FROM range({SCALE_N_TERMS}) t(i)
),
notes AS (
  SELECT doc_id,
         text || ' ' || {_SCALE_KEY_SQL.format(i=f'doc_id % {SCALE_N_TERMS}')}
           AS note_text
  FROM documents
),
toklist AS (SELECT doc_id, string_split(note_text, ' ') AS toks FROM notes),
tok AS (
  SELECT doc_id, unnest(toks) AS token,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM toklist
),
grams AS (
  SELECT doc_id, pos, 1 AS n, token AS g FROM tok
  UNION ALL
  SELECT doc_id, pos, 2, token || ' ' || LEAD(token, 1) OVER w
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  UNION ALL
  SELECT doc_id, pos, 3, token || ' ' || LEAD(token, 1) OVER w2 || ' ' ||
         LEAD(token, 2) OVER w2
  FROM tok WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, t.kb_id, g.g AS term
FROM grams g JOIN terms t ON g.n = t.n AND g.g = t.key
"""


QUERIES = {
    "drugs_lexicon_match": (drugs_lexicon_match, DRUGS_LEXICON_MATCH_SQL),
    "umls_scale_match": (umls_scale_match, UMLS_SCALE_MATCH_SQL),
}
