"""Domain-pipe driver queries: structured-extraction and qualifier
engines that so far only had pytest goldens, each exercised end-to-end
on driver testdata with a DuckDB oracle.

Query texts are CONSTRUCTED deterministically from table keys (the same
style as durations_extraction) so every reference-semantics field is
independently re-derivable in ANSI SQL, while the Spark side runs the
REAL operators (TNMExtractor grammar, AdicapDecoder dictionary joins,
QualifierEngine quotation/boundary classes, HistoryQualifier's
three-evidence combine, the reference-exact sentence machine,
ScoreMatcher).

Parity targets cited per query; engines themselves are golden-tested
against the reference suites in tests/.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t
from ..core.base import Pipeline
from ..core import caching
from ..operators.tokenizer import Tokenizer
from ..operators.sentences import SentenceSegmenter
from ..operators.matcher import PhraseMatcher
from ..operators.qualifiers import QualifierEngine
from ..operators.sections import SectionSegmenter
from ..operators.history import HistoryQualifier
from ..operators.scores import ScoreMatcher, TNMExtractor, AdicapDecoder
from ..resources import resource_path


def _par(df):
    # constructed notes come from ONE parquet file -> one input split;
    # the per-row NLP work (tokenize, sentence machine, regex scans) is
    # compute-bound, so spread it (same rationale as textops._notes —
    # at real scale file splits provide this and the repartition is a
    # no-op cost relative to the scan)
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)


def _pipe(df):
    return Pipeline([Tokenizer(mode="pretokenized"),
                     SentenceSegmenter()])(_par(df))


# ---- eds.tnm: full grammar over constructed mentions -------------------

_TNM_T = ["1", "2a", "3b", "is", "x", "4"]


def tnm_mentions(spark, sf_dir):
    """TNM grammar (pipes/ner/tnm/: prefixes, letter suffixes, optional
    N/M/R components, UICC versions with 2-digit-year expansion) on one
    constructed mention per order; parse_tnm recovers every field."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    pre = F.element_at(F.array(F.lit(""), F.lit("c"), F.lit("p"), F.lit("y")),
                       (k % 4 + 1).cast("int"))
    t = F.element_at(F.array(*[F.lit(x) for x in _TNM_T]),
                     (k % 6 + 1).cast("int"))
    n = F.when(k % 5 > 0, (k % 5 - 1).cast("string"))
    m = F.when(k % 3 == 1, F.lit("0")).when(k % 3 == 2, F.lit("1"))
    r = F.when(k % 2 == 1, F.lit("1"))
    ver = F.when(k % 7 == 0, F.lit(" (UICC 18)")).otherwise(F.lit(""))
    text = F.concat(
        F.lit("bilan "), pre, F.lit("T"), t,
        F.when(n.isNotNull(), F.concat(F.lit(" N"), n)).otherwise(F.lit("")),
        F.when(m.isNotNull(), F.concat(F.lit(" M"), m)).otherwise(F.lit("")),
        F.when(r.isNotNull(), F.concat(F.lit(" R"), r)).otherwise(F.lit("")),
        ver,
    )
    notes = _par(o.select(k.alias("note_id"), text.alias("note_text")))
    out = TNMExtractor().transform(notes)
    s = F.col("tnm")
    return out.select(
        F.col("note_id").alias("o_orderkey"),
        s["prefix"].alias("prefix"), s["t"].alias("t"), s["n"].alias("n"),
        s["m"].alias("m"), s["r"].alias("r"),
        s["version"].alias("version"), s["norm"].alias("norm"),
    )


TNM_MENTIONS_SQL = """
WITH b AS (
  SELECT o_orderkey AS k,
         (['', 'c', 'p', 'y'])[o_orderkey % 4 + 1] AS pre,
         (['1', '2a', '3b', 'is', 'x', '4'])[o_orderkey % 6 + 1] AS t,
         CASE WHEN o_orderkey % 5 > 0
              THEN CAST(o_orderkey % 5 - 1 AS VARCHAR) END AS n,
         CASE o_orderkey % 3 WHEN 1 THEN '0' WHEN 2 THEN '1' END AS m,
         CASE WHEN o_orderkey % 2 = 1 THEN '1' END AS r,
         o_orderkey % 7 = 0 AS has_ver
  FROM orders
)
SELECT k AS o_orderkey,
       CASE WHEN pre = '' THEN NULL ELSE pre END AS prefix,
       t, n, m, r,
       CASE WHEN has_ver THEN 'UICC 2018' END AS version,
       pre || 'T' || t
         || COALESCE('N' || n, '') || COALESCE('M' || m, '')
         || COALESCE('R' || r, '')
         || CASE WHEN has_ver THEN ' (UICC 2018)' ELSE '' END AS norm
FROM b
"""


# ---- eds.adicap: dictionary decode with a read_parquet oracle ----------

# Real full codes assembled from resources/adicap.parquet dims (two in
# the reference's dotted spelling — patterns.py base_code strips dots).
_ADICAP_CODES = [
    "CAAZ0000", "BAAZ0020", "BBAA0000", "AAAC0010", "AAAA0000",
    "ECAZ0030", "ABAZ0030", "ABAA0010", "C.A.AZ.0000", "B.B.AA.0020",
]


def adicap_decode(spark, sf_dir):
    """AdicapDecoder (pipes/ner/adicap/adicap.py:185-214): D1/D2/D3
    structure decode + last-matching-pathology-dim rule, via broadcast
    joins against resources/adicap.parquet; the oracle re-derives the
    same decode from the SAME parquet in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    code = F.element_at(
        F.array(*[F.lit(c) for c in _ADICAP_CODES]),
        (F.col("doc_id") % 10 + 1).cast("int"))
    notes = _par(d.select(
        F.col("doc_id").alias("note_id"),
        F.concat(F.col("text"), F.lit(" code adicap : "), code)
        .alias("note_text"),
    ))
    out = AdicapDecoder().entities(notes)
    return out.select(
        F.col("note_id").alias("doc_id"), "code", "sampling_mode",
        "technic", "organ", "pathology", "pathology_type", "behaviour_type",
    )


_ADICAP_SQL_CODES = ", ".join(f"'{c}'" for c in _ADICAP_CODES)

ADICAP_DECODE_SQL = f"""
WITH a AS (SELECT * FROM read_parquet('{resource_path("adicap")}')),
lab AS (SELECT dim, label FROM a WHERE code = ''),
c AS (
  SELECT doc_id,
         replace(([{_ADICAP_SQL_CODES}])[doc_id % 10 + 1], '.', '') AS code
  FROM documents
),
dec AS (
  SELECT c.doc_id, c.code,
    (SELECT label FROM a WHERE dim='D1' AND a.code = substr(c.code, 1, 1))
      AS sampling_mode,
    (SELECT label FROM a WHERE dim='D2' AND a.code = substr(c.code, 2, 1))
      AS technic,
    (SELECT label FROM a WHERE dim='D3' AND a.code = substr(c.code, 3, 2))
      AS organ,
    {", ".join(
        f'''(SELECT label FROM a WHERE dim='{d}' AND a.code <> ''
             AND a.code = substr(c.code, 5, 4)) AS {d}_short,
            (SELECT label FROM a WHERE dim='{d}' AND a.code <> ''
             AND a.code = substr(c.code, 3, 6)) AS {d}_long,
            (SELECT label FROM a WHERE dim='{d}' AND a.code <> ''
             AND a.code = substr(c.code, 6, 1)) AS {d}_beh'''
        for d in ("D4", "D5", "D6", "D7"))}
  FROM c
)
SELECT doc_id, code, sampling_mode, technic, organ,
  CASE
    WHEN D7_short IS NOT NULL OR D7_long IS NOT NULL
      THEN (SELECT label FROM lab WHERE dim='D7')
    WHEN D6_short IS NOT NULL OR D6_long IS NOT NULL
      THEN (SELECT label FROM lab WHERE dim='D6')
    WHEN D5_short IS NOT NULL OR D5_long IS NOT NULL
      THEN (SELECT label FROM lab WHERE dim='D5')
    WHEN D4_short IS NOT NULL OR D4_long IS NOT NULL
      THEN (SELECT label FROM lab WHERE dim='D4')
  END AS pathology,
  CASE
    WHEN D7_short IS NOT NULL OR D7_long IS NOT NULL
      THEN COALESCE(D7_short, D7_long)
    WHEN D6_short IS NOT NULL OR D6_long IS NOT NULL
      THEN COALESCE(D6_short, D6_long)
    WHEN D5_short IS NOT NULL OR D5_long IS NOT NULL
      THEN COALESCE(D5_short, D5_long)
    WHEN D4_short IS NOT NULL OR D4_long IS NOT NULL
      THEN COALESCE(D4_short, D4_long)
  END AS pathology_type,
  CASE
    WHEN D7_short IS NOT NULL OR D7_long IS NOT NULL THEN D7_beh
    WHEN D6_short IS NOT NULL OR D6_long IS NOT NULL THEN D6_beh
    WHEN D5_short IS NOT NULL OR D5_long IS NOT NULL THEN D5_beh
    WHEN D4_short IS NOT NULL OR D4_long IS NOT NULL THEN D4_beh
  END AS behaviour_type
FROM dec
"""


# ---- reported speech: quotation strict containment ---------------------

@caching.leased
def reported_speech_tokens(spark, sf_dir):
    """QualifierEngine quotation class (reported_speech.py:288-292): an
    entity is reported iff a quote span strictly contains it.  Quotes
    are injected after the document text, so in-quote occurrences of the
    targets qualify and body occurrences do not."""
    d = _t(spark, sf_dir, "documents")
    notes = caching.persist(_pipe(d.select(
        F.col("doc_id").alias("note_id"),
        F.concat(F.col("text"), F.lit(' " spark merge " spark'))
        .alias("note_text"),
    )))
    ents = PhraseMatcher({"target": ["spark", "merge"]},
                         attr="TEXT").entities(notes)
    q = QualifierEngine("reported", {"quotation": [r'"[^"]*"']}, attr="TEXT")
    out = q.qualify(notes, ents)
    return out.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        F.col("lexical_variant").alias("term"),
        "reported",
    )


REPORTED_SPEECH_TOKENS_SQL = """
WITH notes AS (
  SELECT doc_id, text || ' " spark merge " spark' AS note_text
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(string_split(note_text, ' ')) AS token,
         unnest(range(1, len(string_split(note_text, ' ')) + 1)) AS pos
  FROM notes
),
q AS (
  SELECT doc_id, pos, token,
         COUNT(*) FILTER (token = '"') OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS q_before,
         COUNT(*) FILTER (token = '"') OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS q_after
  FROM tok
)
SELECT doc_id, pos, token AS term,
       (q_before % 2 = 1 AND q_after >= 1) AS reported
FROM q WHERE token IN ('spark', 'merge')
"""


# ---- family: boundary-scoped cue class ---------------------------------

@caching.leased
def family_tokens(spark, sf_dir):
    """QualifierEngine boundary class (family.py:229-233): the entity is
    family iff ANY cue shares its boundary (boundaries cut at
    termination starts), not just a preceding/following cue."""
    d = _t(spark, sf_dir, "documents")
    notes = caching.persist(_pipe(d.select(
        F.col("doc_id").alias("note_id"), F.col("text").alias("note_text"))))
    ents = PhraseMatcher({"member": ["table", "row"]},
                         attr="TEXT").entities(notes)
    q = QualifierEngine("family", {"boundary": ["fast"],
                                   "termination": ["filter"]}, attr="TEXT")
    out = q.qualify(notes, ents)
    return out.select(
        F.col("note_id").alias("doc_id"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        F.col("lexical_variant").alias("term"),
        "family",
    )


FAMILY_TOKENS_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
),
bid AS (
  SELECT doc_id, pos, token,
         COUNT(*) FILTER (token = 'filter') OVER (
           PARTITION BY doc_id ORDER BY pos) AS boundary
  FROM tok
)
SELECT e.doc_id, e.pos, e.token AS term,
       EXISTS (SELECT 1 FROM bid c
               WHERE c.doc_id = e.doc_id AND c.boundary = e.boundary
                 AND c.token = 'fast') AS family
FROM bid e WHERE e.token IN ('table', 'row')
"""


# ---- eds.history: three-evidence combine -------------------------------

@caching.leased
def history_qualifier(spark, sf_dir):
    """HistoryQualifier (qualifiers/history/history.py:56): history =
    preceding cue OR antecedents-section containment OR nearest
    preceding date older than 365 days vs note_datetime.  One branch of
    constructed text per evidence source (k%4==3 exercises none)."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old_days = ((k % 40 + 1) * 30).cast("int")
    date_txt = F.date_format(F.date_sub(F.col("o_orderdate"), old_days),
                             "dd/MM/yyyy")
    text = (
        F.when(k % 4 == 0, F.lit("atcd diabete suivi"))
        .when(k % 4 == 1, F.lit("antecedents : diabete actuellement rien"))
        .when(k % 4 == 2,
              F.concat(F.lit("vu le "), date_txt, F.lit(" diabete present")))
        .otherwise(F.lit("suivi diabete encore"))
    )
    notes = caching.persist(_pipe(o.select(
        k.alias("note_id"), text.alias("note_text"),
        F.col("o_orderdate").cast("timestamp").alias("note_datetime"),
    )))
    ents = PhraseMatcher({"disease": ["diabete"]}, attr="TEXT").entities(notes)
    h = HistoryQualifier(
        history_limit_days=365,
        cues={"preceding": ["atcd"], "termination": ["actuellement"]},
        sections=SectionSegmenter({"antecedents": ["antecedents"]}),
    )
    out = h.qualify(notes, ents)
    return out.select(
        F.col("note_id").alias("o_orderkey"),
        (F.col("tok_start") + 1).cast("bigint").alias("pos"),
        F.col("lexical_variant").alias("term"),
        "history",
    )


HISTORY_QUALIFIER_SQL = """
SELECT o_orderkey,
       CAST(CASE o_orderkey % 4 WHEN 0 THEN 2 WHEN 1 THEN 3
            WHEN 2 THEN 4 ELSE 2 END AS BIGINT) AS pos,
       'diabete' AS term,
       CASE o_orderkey % 4
         WHEN 0 THEN TRUE
         WHEN 1 THEN TRUE
         WHEN 2 THEN (o_orderkey % 40 + 1) * 30 > 365
         ELSE FALSE END AS history
FROM orders
"""


# ---- eds.sentences: reference-exact machine on constructed text --------

@caching.leased
def sentence_boundaries(spark, sf_dir):
    """SentenceSegmenter (fast_sentences.pyx state machine): two
    sentences per order separated by '. '+capitalized word, with
    key-dependent filler counts; emits (sent_id, token range, char
    range) per sentence."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    a = (k % 4).cast("int")
    b = (k % 3).cast("int")
    s1 = F.concat(F.lit("Il va "), F.repeat(F.lit("tres "), a),
                  F.lit("bien ."))
    s2 = F.concat(F.lit("Elle revient "), F.repeat(F.lit("vite "), b),
                  F.lit("demain"))
    # persist BEFORE explode: Generate over the fold-built sentences
    # expression blows the codegen method limit and falls back to
    # interpreted eval of the whole machine per row (r6 re-measure at
    # sf0.1: direct 94s, repartition barrier 125s — the map side hits
    # the same interpreted stage — DISK_ONLY persist 2.2s cold / 0.25s
    # warm); materializing the array column first keeps the fold in its
    # own codegen'd stage.  DISK_ONLY (VERDICT r5 #3): this cache
    # exists only as a codegen barrier, so at 100 TB it must be a
    # sequential disk spill of one derived column, not a corpus-sized
    # executor-memory cache; it is leased to this query like any other.
    from pyspark import StorageLevel

    notes = caching.persist(
        _pipe(o.select(
            k.alias("note_id"),
            F.concat(s1, F.lit(" "), s2).alias("note_text"),
        )).select("note_id", "sentences"),
        StorageLevel.DISK_ONLY)
    s = F.explode("sentences").alias("s")
    out = notes.select("note_id", s)
    return out.select(
        F.col("note_id").alias("o_orderkey"),
        F.col("s.sent_id").cast("bigint").alias("sent_id"),
        F.col("s.tok_start").cast("bigint").alias("tok_start"),
        F.col("s.tok_end").cast("bigint").alias("tok_until"),
        F.col("s.start").cast("bigint").alias("start_char"),
        F.col("s.end").cast("bigint").alias("end_char"),
    )


SENTENCE_BOUNDARIES_SQL = """
WITH b AS (
  SELECT o_orderkey AS k, o_orderkey % 4 AS a, o_orderkey % 3 AS bb
  FROM orders
),
l AS (
  SELECT k, a, bb,
         12 + 5 * a AS len1,   -- 'Il va ' + 'tres '*a + 'bien .'
         19 + 5 * bb AS len2,  -- 'Elle revient ' + 'vite '*bb + 'demain'
         4 + a AS ntok1, 3 + bb AS ntok2
  FROM b
)
SELECT k AS o_orderkey, 0 AS sent_id,
       0 AS tok_start, ntok1 AS tok_until,
       0 AS start_char, len1 AS end_char
FROM l
UNION ALL
SELECT k, 1, ntok1, ntok1 + ntok2, len1 + 1, len1 + 1 + len2
FROM l
"""


# ---- eds.score (charlson): value extraction + max_value gate -----------

def charlson_scores(spark, sf_dir):
    """ScoreMatcher (scores/charlson): name+separator+value regex with
    the factory's max_value=40 gate — constructed values k%50 so the
    gate actually filters (values 41..49 are dropped)."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    notes = o.select(
        k.alias("note_id"),
        F.concat(F.lit("patient score charlson : "),
                 (k % 50).cast("string")).alias("note_text"),
    )
    m = ScoreMatcher("charlson", ["charlson"], max_value=40)
    return m.entities(notes).select(
        F.col("note_id").alias("o_orderkey"), "label", "value",
    )


CHARLSON_SCORES_SQL = """
SELECT o_orderkey, 'charlson' AS label,
       CAST(o_orderkey % 50 AS DOUBLE) AS value
FROM orders
WHERE o_orderkey % 50 <= 40
"""


QUERIES = {
    "tnm_mentions": (tnm_mentions, TNM_MENTIONS_SQL),
    "adicap_decode": (adicap_decode, ADICAP_DECODE_SQL),
    "reported_speech_tokens": (reported_speech_tokens,
                               REPORTED_SPEECH_TOKENS_SQL),
    "family_tokens": (family_tokens, FAMILY_TOKENS_SQL),
    "history_qualifier": (history_qualifier, HISTORY_QUALIFIER_SQL),
    "sentence_boundaries": (sentence_boundaries, SENTENCE_BOUNDARIES_SQL),
    "charlson_scores": (charlson_scores, CHARLSON_SCORES_SQL),
}
