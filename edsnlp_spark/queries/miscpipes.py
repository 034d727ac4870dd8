"""Driver queries for the last pytest-only §2 misc pipes (VERDICT r12
Next #2): eds.tables, eds.reason + eds.consultation_dates (composed),
and eds.suicide_attempt composed with the eds.pollution strip.

The documents table is synthetic single-spaced word salad, so each
query SYNTHESIZES the clinical surface the operator needs from the doc
tokens / doc_id deterministically, runs the REAL operator, and the
oracle replays the expected output in SQL.  Construction parameters
vary per doc (doc_id modulus) so every code path is exercised in one
run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .textops import _notes
from ..core.base import Pipeline
from ..core import caching
from ..operators.tokenizer import Tokenizer
from ..operators.tables import TablesExtractor
from ..operators.misc_pipes import reason_spans, consultation_dates
from ..operators.pollution import PollutionTagger, strip_pollution
from ..operators.disorders import SUICIDE_ATTEMPT_PATTERNS
from ..operators.matcher import RegexMatcher


# ---- eds.tables ---------------------------------------------------------

def table_cells(spark, sf_dir):
    """eds.tables (reference misc/tables/tables.py:15-243): build
    pipe-delimited table blocks from each doc's tokens — 4 tokens per
    line, every 3rd line space-joined (a non-table line, so runs of
    consecutive table lines exercise the run-id sessionization) — and
    run the REAL TablesExtractor (posexplode lines -> run grouping ->
    cell split + trim)."""
    notes = _notes(spark, sf_dir)

    def _mk_line(i):
        seg = F.slice(F.col("__toks"), i * 4 + 1, 4)
        return F.when(i % 3 == 2, F.array_join(seg, " ")) \
                .otherwise(F.array_join(seg, "|"))

    prepared = notes.select(
        "note_id", F.split("note_text", " ", -1).alias("__toks"),
    ).select(
        "note_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    (F.ceil(F.size("__toks") / F.lit(4.0)) - 1).cast("int")),
                _mk_line),
            "\n").alias("note_text"),
    )
    cells = TablesExtractor(min_cells=2).tables(prepared)
    return cells.select(
        F.col("note_id").alias("doc_id"),
        F.col("table_id").cast("bigint").alias("table_id"),
        F.col("row_id").cast("bigint").alias("row_id"),
        F.col("col_id").cast("bigint").alias("col_id"),
        "cell",
    )


# Replays the construction: line index li = pos0 // 4, col = pos0 % 4;
# a line is a TABLE line iff it is pipe-joined (li % 3 <> 2) AND has
# >= 3 cells (TablesExtractor's min_cells=2 keeps lines with MORE than
# 2 cells); consecutive table lines share (li - row_number) — the same
# run-id sessionization the operator performs on the parsed text.
TABLE_CELLS_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(0, len(string_split(text, ' ')))) AS p0
  FROM documents
),
lines AS (
  SELECT doc_id, p0 // 4 AS li, p0 % 4 AS col_id, token,
         COUNT(*) OVER (PARTITION BY doc_id, p0 // 4) AS k
  FROM tok
),
tl AS (
  SELECT DISTINCT doc_id, li FROM lines WHERE li % 3 <> 2 AND k >= 3
),
runs AS (
  SELECT doc_id, li,
         li - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY li) AS run
  FROM tl
),
tids AS (
  SELECT doc_id, li,
         DENSE_RANK() OVER (PARTITION BY doc_id ORDER BY run) AS table_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id, run ORDER BY li) AS row_id
  FROM runs
)
SELECT l.doc_id,
       CAST(t.table_id AS BIGINT) AS table_id,
       CAST(t.row_id AS BIGINT) AS row_id,
       CAST(l.col_id AS BIGINT) AS col_id,
       l.token AS cell
FROM lines l JOIN tids t USING (doc_id, li)
"""


# ---- eds.reason + eds.consultation_dates (composed) ---------------------

_PAD = "x" * 80  # > the 60-char cue window: parts cannot cross-gate


def _fmt_date(day, month, year):
    return F.format_string("%02d/%02d/%04d", day, month, year)


@caching.leased
def note_dates(spark, sf_dir):
    """eds.reason (misc/reason/reason.py:13) + eds.consultation_dates
    (misc/consultation_dates/consultation_dates.py:14) over one
    synthesized note per doc:

      ``motif : bilan <t1 t2 t3>. PAD consultation du D1. PAD
        [vu a paris le D2. PAD]   (doc_id % 2 == 0 -> town cue)
        [signe le D3.]            (doc_id % 3 == 0 -> document_date cue)``

    with D1/D2/D3 dd/mm/yyyy derived from doc_id.  Emits one row per
    extraction: the pattern reason, the 'motif' section hit, and each
    cue-gated consultation date (all three cue families enabled)."""
    doc_id = F.col("note_id")
    toks3 = F.array_join(
        F.slice(F.split("note_text", " ", -1), 1, 3), " ")
    reason_val = F.concat(
        F.lit("bilan"),
        F.when(toks3 == "", F.lit("")).otherwise(F.concat(F.lit(" "), toks3)))
    d1 = _fmt_date(doc_id % 28 + 1, doc_id % 12 + 1, doc_id % 4 + 2019)
    d2 = _fmt_date((doc_id * 7) % 28 + 1, (doc_id * 5) % 12 + 1,
                   (doc_id * 3) % 4 + 2019)
    d3 = _fmt_date((doc_id * 11) % 28 + 1, (doc_id * 7) % 12 + 1,
                   (doc_id + 2) % 4 + 2019)
    txt = F.concat(
        F.lit("motif : "), reason_val, F.lit(". " + _PAD),
        F.lit(" consultation du "), d1, F.lit(". " + _PAD),
        F.when(doc_id % 2 == 0,
               F.concat(F.lit(" vu a paris le "), d2, F.lit(". " + _PAD)))
        .otherwise(F.lit("")),
        F.when(doc_id % 3 == 0,
               F.concat(F.lit(" signe le "), d3, F.lit(".")))
        .otherwise(F.lit("")),
    )
    notes = caching.persist(
        Pipeline([Tokenizer(mode="pretokenized")])(
            _notes(spark, sf_dir).select("note_id",
                                         txt.alias("note_text"))))
    reasons = reason_spans(notes, use_sections=True).select(
        F.col("note_id").alias("doc_id"),
        F.when(F.col("source") == "pattern", F.lit("reason"))
        .otherwise(F.lit("reason_section")).alias("kind"),
        F.coalesce("reason_text", F.lit("")).alias("value"),
    )
    cdates = consultation_dates(
        notes, consultation_mention=True, town_mention=True,
        document_date_mention=True,
    ).select(
        F.col("note_id").alias("doc_id"),
        F.col("cue_kind").alias("kind"),
        F.col("consultation_date").alias("value"),
    )
    return reasons.unionByName(cdates)


NOTE_DATES_SQL = """
WITH r AS (
  SELECT doc_id,
         'bilan' || CASE
             WHEN array_to_string(string_split(text, ' ')[1:3], ' ') = ''
             THEN ''
             ELSE ' ' || array_to_string(string_split(text, ' ')[1:3], ' ')
         END AS reason_val
  FROM documents
)
SELECT doc_id, 'reason' AS kind, reason_val AS value FROM r
UNION ALL
SELECT doc_id, 'reason_section', '' FROM documents
UNION ALL
SELECT doc_id, 'consultation',
       printf('%04d-%02d-%02d', doc_id % 4 + 2019, doc_id % 12 + 1,
              doc_id % 28 + 1)
FROM documents
UNION ALL
SELECT doc_id, 'town',
       printf('%04d-%02d-%02d', (doc_id * 3) % 4 + 2019,
              (doc_id * 5) % 12 + 1, (doc_id * 7) % 28 + 1)
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, 'document_date',
       printf('%04d-%02d-%02d', (doc_id + 2) % 4 + 2019,
              (doc_id * 7) % 12 + 1, (doc_id * 11) % 28 + 1)
FROM documents WHERE doc_id % 3 = 0
"""


# ---- eds.pollution strip -> eds.suicide_attempt (composed) ---------------

# doc_id % 5 picks the modality; the injected mention is SPLIT by
# pollution: bars noise mid-phrase for the multi-word mention,
# an intraword line-break ("auto-\\nlyse") for single words — the
# matcher can only fire on the STRIPPED text, so the row existing at
# all certifies the strip.  doc_id % 7 == 6 docs get bars only (no
# mention: certifies no false positives on stripped docs).
_SUICIDE_CASES = [
    # (modality label, clean mention, polluted injection)
    ("suicide_attempt_unspecific", "tentative de suicide",
     " tentative de nbnbnbnbnb suicide"),
    ("autolysis", "autolyse", " auto-\nlyse"),
    ("strangling", "pendaison", " pendai-\nson"),
    ("cuts", "phlebotomie", " phlebo-\ntomie"),
    ("self_destructive_behavior", "autodestruction", " autodes-\ntruction"),
]


@caching.leased
def suicide_pollution(spark, sf_dir):
    """eds.suicide_attempt (ner/suicide_attempt/suicide_attempt.py:15,
    full reference modality patterns) over pollution-STRIPPED text
    (normalizer/pollution/pollution.py:15 + the get_text
    ignore_excluded strip): inject a modality mention split by
    pollution, tag + strip with the real PollutionTagger, match on the
    clean text.  ``clean_len`` pins the strip's exact output length."""
    doc_id = F.col("note_id")
    inj = F.lit(None).cast("string")
    for i, (_, _, injected) in enumerate(_SUICIDE_CASES):
        inj = F.when(doc_id % 5 == i, F.lit(injected)).otherwise(inj)
    txt = F.concat(
        F.col("note_text"),
        F.when(doc_id % 7 == 6, F.lit(" nbnbnbnbnb")).otherwise(inj))
    notes = caching.persist(
        _notes(spark, sf_dir).select("note_id", txt.alias("note_text")))
    clean = caching.persist(strip_pollution(PollutionTagger()(notes)))
    matcher = RegexMatcher(SUICIDE_ATTEMPT_PATTERNS, attr="TEXT",
                           text_col="excluded_text")
    ents = matcher.entities(clean).select(
        F.col("note_id"), F.col("label").alias("modality"),
        F.col("lexical_variant").alias("mention"))
    return ents.join(
        clean.select("note_id",
                     F.length("excluded_text").cast("bigint")
                     .alias("clean_len")),
        "note_id",
    ).select(F.col("note_id").alias("doc_id"), "modality", "mention",
             "clean_len")


SUICIDE_POLLUTION_SQL = """
SELECT doc_id,
       CASE doc_id % 5
         WHEN 0 THEN 'suicide_attempt_unspecific'
         WHEN 1 THEN 'autolysis'
         WHEN 2 THEN 'strangling'
         WHEN 3 THEN 'cuts'
         ELSE 'self_destructive_behavior' END AS modality,
       CASE doc_id % 5
         WHEN 0 THEN 'tentative de suicide'
         WHEN 1 THEN 'autolyse'
         WHEN 2 THEN 'pendaison'
         WHEN 3 THEN 'phlebotomie'
         ELSE 'autodestruction' END AS mention,
       CAST(length(text) + 1 + length(CASE doc_id % 5
         WHEN 0 THEN 'tentative de suicide'
         WHEN 1 THEN 'autolyse'
         WHEN 2 THEN 'pendaison'
         WHEN 3 THEN 'phlebotomie'
         ELSE 'autodestruction' END) AS BIGINT) AS clean_len
FROM documents WHERE doc_id % 7 <> 6
"""


QUERIES = {
    "table_cells": (table_cells, TABLE_CELLS_SQL),
    "note_dates": (note_dates, NOTE_DATES_SQL),
    "suicide_pollution": (suicide_pollution, SUICIDE_POLLUTION_SQL),
}
