"""eds.endlines: real end-of-line vs PDF-extraction artifact.

Parity target: edsnlp/pipes/core/endlines/endlines.py:16 and
model.py:15-660 — the reference trains an UNSUPERVISED classifier pair:
M1 (space vs newline from the typographic classes of the surrounding
tokens, learned from how natural spaces look) and M2 (doc-normalized
line-length bins, trained on M1's own predictions), combined as an odds
product; a newline whose combined odds of being a space exceed 1 is an
extraction artifact (model.py:126-162).

Two paths with one output contract:
* rule fallback (native expressions): sentence-terminal punctuation /
  blank line / uppercase-or-enumeration next line => true end;
* EndlinesModel: the reference's features re-derived natively and the
  two classifiers as distributed Spark ML logistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..core import caching
from ..core.base import Transformer
from .. import registry

# Typographic classes of _compute_a3 (model.py:329-384).  Deviation,
# documented: the reference sees spaCy tokens where punctuation stands
# alone; on whitespace tokens a word carrying terminal strong
# punctuation ("bilan.") is classed STRONG_PUNCT so the sentence-end
# signal survives the coarser tokenization.
_STRONG = r"[.;!?]"


def _typo_class(tok):
    return (
        F.when(tok.isNull() | (tok == ""), F.lit("OTHER"))
        .when(tok.rlike(rf"^{_STRONG}+$") | tok.rlike(rf"{_STRONG}$"),
              F.lit("STRONG_PUNCT"))
        .when(tok.rlike(r"^[[:punct:]]+$"), F.lit("SOFT_PUNCT"))
        .when(tok.rlike(r"^\d+$"), F.lit("DIGIT"))
        .when((tok == F.upper(tok)) & tok.rlike(r"[A-ZÀ-Ý]"), F.lit("UPPER"))
        .when(tok.rlike(r"^[A-ZÀ-Ý]"), F.lit("S_UPPER"))
        .when(tok.rlike(r"^[a-zà-ÿ]"), F.lit("LOWER"))
        .otherwise(F.lit("OTHER"))
    )


class EndlinesModel:
    """Unsupervised endline classifier, Spark-ML-native.

    fit(): from the corpus itself (no labels) —
    1. natural in-line token bigrams are SPACE=1 examples, newline
       boundaries SPACE=0 candidates (model.py:73 "SPACE is the class
       to predict");
    2. M1 = logistic on one-hot (A1, A2) typographic classes;
    3. M2 = logistic on (B1, B2) line-length deciles over newline rows,
       pseudo-labeled by M1 (model.py:140-145);
    predict(): combined odds (p2/(1-p2))*(p1/(1-p1)) > 1 => the newline
    behaves like a space => artifact (model.py:152-162); blank lines
    are forced to real ends.
    """

    _MAX_BIGRAMS = 30  # per line, bounds the SPACE=1 sample linearly

    def __init__(self, max_iter: int = 20):
        self.max_iter = max_iter
        self.m1 = None
        self.m2 = None
        self._b1_rng = self._b2_rng = (0.0, 1.0)

    # ---- native feature planes -------------------------------------

    def _lines(self, notes: DataFrame, text_col: str) -> DataFrame:
        w = Window.partitionBy("note_id").orderBy("line_no")
        lines = notes.select(
            "note_id",
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
            ).alias("line_no", "line"),
        )
        toks = F.split(F.trim("line"), r"\s+")
        return lines.select(
            "note_id", "line_no", "line",
            toks.alias("toks"),
            F.length("line").alias("l"),
            (F.trim(F.col("line")) == "").alias("blank"),
        ).withColumn("next_first", F.lead(F.element_at("toks", 1)).over(w)
        ).withColumn("has_next", F.lead("line_no").over(w).isNotNull())

    def _newline_rows(self, lines: DataFrame) -> DataFrame:
        """One row per '\\n' (line with a successor): A1/A2 typographic
        classes + doc-normalized length features (model.py:620-656)."""
        nl = lines.filter("has_next").select(
            "note_id", "line_no", "l", "blank",
            _typo_class(F.element_at("toks", -1)).alias("a1"),
            _typo_class(F.col("next_first")).alias("a2"),
        )
        # Per-note mu/sigma as window aggregates over the SAME lineage:
        # one hash-partition by note_id, no join, and crucially no
        # broadcast of an unbounded one-row-per-document table (a
        # broadcast-hinted stats join would ship the whole corpus'
        # stats to every executor at scale).
        wn = Window.partitionBy("note_id")
        mu = F.avg("l").over(wn)
        sigma = F.coalesce(
            F.nullif(F.stddev("l").over(wn), F.lit(0.0)), F.lit(1.0)
        )
        return nl.select(
            "note_id", "line_no", "blank", "a1", "a2",
            ((F.col("l") - mu) / sigma).alias("l_norm"),
            (sigma / mu).alias("cv"),
        )

    @staticmethod
    def _bin10(col, rng):
        lo, hi = rng
        span = (hi - lo) or 1.0
        return F.least(
            F.greatest(F.floor((col - lo) / span * 10).cast("int"), F.lit(0)),
            F.lit(9),
        ).cast("double")

    # ---- fit / predict ----------------------------------------------

    @caching.leased
    def fit(self, notes: DataFrame, text_col: str = "note_text"):
        from pyspark.ml import Pipeline as MLPipeline
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import (
            OneHotEncoder, StringIndexer, VectorAssembler,
        )

        lines = caching.persist(self._lines(notes, text_col))
        # SPACE=1: adjacent in-line token pairs (capped per line)
        pairs = lines.filter(F.size("toks") >= 2).select(
            F.explode(
                F.slice(
                    F.zip_with(
                        F.slice("toks", 1, self._MAX_BIGRAMS),
                        F.slice("toks", 2, self._MAX_BIGRAMS),
                        lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                    ),
                    1, self._MAX_BIGRAMS - 1,
                )
            ).alias("p")
        ).select(
            _typo_class(F.col("p.x")).alias("a1"),
            _typo_class(F.col("p.y")).alias("a2"),
            F.lit(1.0).alias("space"),
        )
        nl = caching.persist(self._newline_rows(lines))
        if nl.limit(1).count() == 0:
            lines.unpersist()
            nl.unpersist()
            raise ValueError(
                "EndlinesModel.fit: corpus contains no newlines — nothing "
                "to learn. Train on raw (pre-extraction) text."
            )
        train = pairs.unionByName(
            nl.select("a1", "a2", F.lit(0.0).alias("space")))
        m1_pipe = MLPipeline(stages=[
            StringIndexer(inputCol="a1", outputCol="a1i",
                          handleInvalid="keep"),
            StringIndexer(inputCol="a2", outputCol="a2i",
                          handleInvalid="keep"),
            OneHotEncoder(inputCols=["a1i", "a2i"],
                          outputCols=["a1v", "a2v"]),
            VectorAssembler(inputCols=["a1v", "a2v"], outputCol="feat"),
            LogisticRegression(featuresCol="feat", labelCol="space",
                               maxIter=self.max_iter),
        ])
        self.m1 = m1_pipe.fit(train)

        # B deciles binned over the train distribution (pd.cut analog)
        rng = nl.agg(F.min("l_norm"), F.max("l_norm"),
                     F.min("cv"), F.max("cv")).first()
        self._b1_rng = (rng[0] or 0.0, rng[1] or 1.0)
        self._b2_rng = (rng[2] or 0.0, rng[3] or 1.0)
        nl_m1 = self.m1.transform(
            nl.withColumn("b1", self._bin10(F.col("l_norm"), self._b1_rng))
              .withColumn("b2", self._bin10(F.col("cv"), self._b2_rng))
        ).withColumn("m1_label", F.col("prediction"))
        m2_pipe = MLPipeline(stages=[
            VectorAssembler(inputCols=["b1", "b2"], outputCol="bfeat"),
            LogisticRegression(featuresCol="bfeat", labelCol="m1_label",
                               maxIter=self.max_iter),
        ])
        self.m2 = m2_pipe.fit(
            nl_m1.select("b1", "b2", "m1_label"))
        lines.unpersist()
        nl.unpersist()
        return self

    def predict(self, notes: DataFrame,
                text_col: str = "note_text") -> DataFrame:
        """(note_id, line_no, true_end): True when the newline after
        line_no is a REAL end of line."""
        from pyspark.ml.functions import vector_to_array

        nl = self._newline_rows(self._lines(notes, text_col))
        nl = nl.withColumn(
            "b1", self._bin10(F.col("l_norm"), self._b1_rng)
        ).withColumn("b2", self._bin10(F.col("cv"), self._b2_rng))
        p1 = self.m1.transform(nl).withColumnRenamed(
            "probability", "prob1")
        p1 = p1.select(
            "note_id", "line_no", "blank", "b1", "b2",
            F.element_at(vector_to_array("prob1"), 2).alias("p1"),
        )
        p2 = self.m2.transform(p1).select(
            "note_id", "line_no", "blank", "p1",
            F.element_at(vector_to_array("probability"), 2).alias("p2"),
        )
        clamp = lambda c: F.least(F.greatest(c, F.lit(1e-6)),
                                  F.lit(1 - 1e-6))
        c1, c2 = clamp(F.col("p1")), clamp(F.col("p2"))
        lr = (c2 / (1 - c2)) * (c1 / (1 - c1))
        return p2.select(
            "note_id", "line_no",
            # odds > 1 => behaves like a space => artifact; blank lines
            # forced to real ends (model.py:157-160).
            (F.col("blank") | (lr <= 1)).alias("true_end"),
        )


class EndLinesClassifier(Transformer):
    requires = ("note_id", "note_text")
    provides = ("endlines",)
    name = "eds.endlines"

    def __init__(self, text_col: str = "note_text",
                 model: EndlinesModel | None = None):
        self.text_col = text_col
        self.model = model
        self.requires = ("note_id", text_col)

    def endlines_table(self, notes: DataFrame) -> DataFrame:
        """(note_id, line_no, line, true_end) per line.  Uses the
        trained EndlinesModel when one was provided, else the rule."""
        lines = notes.select(
            "note_id",
            F.posexplode(
                F.split(F.coalesce(F.col(self.text_col), F.lit("")), "\n")
            ).alias("line_no", "line"),
        )
        if self.model is not None:
            pred = self.model.predict(notes, self.text_col)
            return lines.join(
                pred.withColumnRenamed("note_id", "p_note_id")
                    .withColumnRenamed("line_no", "p_line_no"),
                (F.col("note_id") == F.col("p_note_id"))
                & (F.col("line_no") == F.col("p_line_no")),
                "left",
            ).select(
                "note_id", "line_no", "line",
                # the last line has no newline after it: real end
                F.coalesce(F.col("true_end"), F.lit(True)).alias("true_end"),
            )
        w = Window.partitionBy("note_id").orderBy("line_no")
        nxt = F.lead("line").over(w)
        ends_sentence = F.trim("line").rlike(r"[.!?:;]\s*$")
        blank = F.trim("line") == ""
        next_upper = F.coalesce(
            nxt.rlike(r"^\s*(?:[A-ZÀ-Ý]|\d+[.)]|[-•*])"), F.lit(True))
        return lines.withColumn(
            "true_end",
            blank | ends_sentence | next_upper,
        )

    def transform(self, df: DataFrame) -> DataFrame:
        """Adds ``clean_text`` with artifact newlines replaced by spaces."""
        t = self.endlines_table(df)
        merged = t.groupBy("note_id").agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("line_no", "line",
                                                     "true_end"))),
                F.lit(""),
                lambda acc, x: F.concat(
                    acc,
                    x["line"],
                    F.when(x["true_end"], F.lit("\n")).otherwise(F.lit(" ")),
                ),
            ).alias("clean_raw"),
        ).select(
            "note_id",
            F.regexp_replace("clean_raw", r"[ \n]$", "").alias("clean_text"),
        )
        return df.join(merged, "note_id", "left")


@registry.register("eds.endlines")
def _make_endlines(**kw):
    return EndLinesClassifier(**kw)
