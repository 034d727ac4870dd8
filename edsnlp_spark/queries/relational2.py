"""Token-offset proof query."""

from __future__ import annotations

from pyspark.sql import functions as F

from .textops import _notes
from ..core.base import Pipeline
from ..operators.tokenizer import Tokenizer


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


QUERIES = {
    "token_offsets": (token_offsets, TOKEN_OFFSETS_SQL),
}
