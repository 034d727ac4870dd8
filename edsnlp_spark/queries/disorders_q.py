"""Full-breadth disorder pipe as a driver-checked query.

The engine's output on the reference's own diabetes golden texts
(tests/pipelines/ner/disorders/diabetes.py) — the oracle re-derives the
expected (source, status, insulin-assign) rows per branch from the
reference's documented semantics, independently of the engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import _t
from ..core import caching

# reference golden texts (diabetes.py golden set); branch k%9
_TEXTS = [
    "Présence d'un DT2",
    "Présence d'un DNID",
    "Patient diabétique",
    "Un diabète insipide",
    "Atteinte neurologique d'origine diabétique",
    "Une rétinopathie diabétique",
    "Il y a un mal perforant plantaire",
    "Le patient a un diabète non insulino-dépendant",
    "Il est diabétique sans insulino dépendance",
]
# independently-stated expectations: (source, status, insulin assign)
_EXPECT = [
    ("main", 1, None), ("main", 1, None), ("main", 1, None),
    None,
    ("main", 2, None), ("main", 2, None), ("complicated", 2, None),
    ("main", 1, "non insulino-dépendant"),
    ("main", 1, "sans insulino dépendance"),
]


@caching.leased
def disorders_full_diabetes(spark, sf_dir):
    """Run the FULL reference diabetes bundle (regex anchors + windowed
    excludes/assigns + process() status rules) over golden texts fanned
    out across orders; one row per kept span."""
    from ..core.base import Pipeline
    from ..operators.tokenizer import Tokenizer
    from ..operators.sentences import SentenceSegmenter
    from ..operators.disorders import ReferenceDisorderMatcher
    o = _t(spark, sf_dir, "orders")
    texts = F.array(*[F.lit(t) for t in _TEXTS])
    notes = o.select(
        F.col("o_orderkey").alias("note_id"),
        F.element_at(texts, (F.col("o_orderkey") % 9 + 1).cast("int"))
        .alias("note_text"),
    )
    notes = caching.persist(
        Pipeline([Tokenizer(), SentenceSegmenter()])(notes))
    out = ReferenceDisorderMatcher("diabetes").entities(notes)
    return out.select(
        F.col("note_id").alias("o_orderkey"),
        (F.col("note_id") % 9).cast("bigint").alias("branch"),
        "source",
        F.col("status").cast("bigint").alias("status"),
        F.element_at(F.col("assigned"), "insulin").alias("insulin"),
    )


_CASES = " ".join(
    f"SELECT {i} AS branch, '{src}' AS source, {st} AS status, "
    + (f"'{ins}' AS insulin" if ins else "CAST(NULL AS VARCHAR) AS insulin")
    + " UNION ALL "
    for i, exp in enumerate(_EXPECT) if exp
    for (src, st, ins) in [exp]
).rstrip().rsplit(" UNION ALL", 1)[0]

DISORDERS_FULL_DIABETES_SQL = f"""
WITH expect AS ({_CASES})
SELECT o.o_orderkey, o.o_orderkey % 9 AS branch,
       e.source, e.status, e.insulin
FROM orders o JOIN expect e ON e.branch = o.o_orderkey % 9
"""

QUERIES = {
    "disorders_full_diabetes": (disorders_full_diabetes,
                                DISORDERS_FULL_DIABETES_SQL),
}
