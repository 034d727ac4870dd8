"""Score pipes (eds.charlson / eds.sofa / emergency scores), eds.tnm,
eds.adicap — §2.6 "config, not code".

Score parity: SimpleScoreMatcher (edsnlp/pipes/ner/scores/base_score.py:
13-170): match the score name, extract the numeric value after it within
a window, apply a normalization.  Spark: one native regex with a value
capture group + cast — whole-stage codegen.

TNM parity: edsnlp/pipes/ner/tnm/tnm.py:18 — regex parse of TNM staging
strings ("pT2 N1 M0") into a typed struct + normalized string.

ADICAP parity: edsnlp/pipes/ner/adicap/adicap.py:18 — code regex +
field decode via a broadcast dictionary join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..core import caching
from ..core.base import Transformer
from .. import registry


class ScoreMatcher(Transformer):
    """Named score + value extraction: one entity row per mention."""

    requires = ("note_id",)
    name = "eds.score"

    def __init__(self, score_name: str, name_patterns: list[str],
                 value_rx: str = r"(\d+(?:[.,]\d+)?)",
                 max_value: float | None = None,
                 text_col: str = "note_text"):
        self.score_name = score_name
        alt = "|".join(name_patterns)
        # name, optional separator (:, =, à, de), then the value
        self.rx = rf"(?i)\b(?:{alt})\s*(?:[:=]|a|à|de)?\s*{value_rx}"
        self.max_value = max_value
        self.text_col = text_col
        self.requires = ("note_id", text_col)

    def entities(self, df: DataFrame) -> DataFrame:
        matches = F.regexp_extract_all(
            F.coalesce(F.col(self.text_col), F.lit("")), F.lit(self.rx), F.lit(1)
        )
        out = df.select(
            "note_id", F.explode(matches).alias("raw")
        ).select(
            "note_id",
            F.lit(self.score_name).alias("label"),
            F.replace(F.col("raw"), F.lit(","), F.lit("."))
            .cast("double").alias("value"),
        )
        if self.max_value is not None:
            out = out.filter(F.col("value") <= self.max_value)
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        agg = self.entities(df).groupBy("note_id").agg(
            F.collect_list("value").alias(f"{self.score_name}_values")
        )
        return df.join(agg, "note_id", "left")


SCORE_CONFIGS = {
    # factories: scores/charlson/factory.py:23, sofa, emergency.*
    "eds.charlson": {"score_name": "charlson",
                     "name_patterns": ["charlson"], "max_value": 40},
    "eds.sofa": {"score_name": "sofa", "name_patterns": ["sofa"],
                 "max_value": 24},
    "eds.emergency_ccmu": {"score_name": "ccmu",
                           "name_patterns": ["ccmu"], "max_value": 5},
    "eds.emergency_gemsa": {"score_name": "gemsa",
                            "name_patterns": ["gemsa"], "max_value": 6},
    # scores/emergency/priority/patterns.py: range(0, 6)
    "eds.emergency_priority": {"score_name": "emergency_priority",
                               "name_patterns": ["priorite"],
                               "max_value": 5},
    "eds.elston_ellis": {"score_name": "elston_ellis",
                         "name_patterns": ["elston[- ]ellis", "ee"],
                         "max_value": 9},
}

for _name, _cfg in SCORE_CONFIGS.items():
    registry.register(_name)(lambda cfg=_cfg, **kw: ScoreMatcher(**{**cfg, **kw}))


# ---- TNM ---------------------------------------------------------------

TNM_RX = (
    r"(?i)\b(?:(?<prefix>[cpyraum]) ?)?"
    r"T ?(?<t>[0-4x]|is)"
    r"(?: ?N ?(?<n>[0-3x]))?"
    r"(?: ?M ?(?<m>[01x]))?"
)


def parse_tnm(text: Column) -> Column:
    """First TNM mention -> struct<prefix,t,n,m,r,version,norm>.

    Full reference grammar (tnm/tnm.py + model; golden set
    tests/pipelines/ner/test_tnm.py): letter suffixes T2c/T1b,
    micro-modifiers (m)/(mi)/(sn) on T and N, residual-tumor R,
    repeated prefixes 'pT1 pN1', space//-separated components, and
    UICC/TNM/AJCC versions with 2-digit year expansion (20 -> 2020,
    68 -> 1968 — the same <25 century rule as dates)."""
    rx = (r"(?i)\b(?:([cpyraum])\s?)?T\s?([0-4][a-d]?|is|x)"
          r"(?:\(?(mi?|sn)\)?)?"
          r"(?:[\s/]*(?:[cpyraum]\s*)?N\s?([0-3x])(?:\(?(mi|sn)\)?)?)?"
          r"(?:[\s/]*M\s?([01x]))?"
          r"(?:[\s/]*R\s?([0-2x]))?"
          r"(?:\s*\(?\s*(UICC|TNM|AJCC)\s*(\d{2,4})\s*\)?)?")
    pre = F.lower(F.regexp_extract(text, rx, 1))
    t = F.lower(F.regexp_extract(text, rx, 2))
    tsuf = F.lower(F.regexp_extract(text, rx, 3))
    n = F.lower(F.regexp_extract(text, rx, 4))
    nsuf = F.lower(F.regexp_extract(text, rx, 5))
    m = F.lower(F.regexp_extract(text, rx, 6))
    r_ = F.lower(F.regexp_extract(text, rx, 7))
    vlabel = F.upper(F.regexp_extract(text, rx, 8))
    vyear = F.regexp_extract(text, rx, 9)
    year = F.when(
        F.length(vyear) == 2,
        F.when(vyear.cast("int") < 25, vyear.cast("int") + 2000)
        .otherwise(vyear.cast("int") + 1900),
    ).otherwise(vyear.cast("int"))
    version = F.when(
        vlabel != "", F.concat(vlabel, F.lit(" "), year.cast("string")))
    norm = F.concat(
        pre,
        F.lit("T"), t, tsuf,
        F.when(n != "", F.concat(F.lit("N"), n, nsuf)).otherwise(F.lit("")),
        F.when(m != "", F.concat(F.lit("M"), m)).otherwise(F.lit("")),
        F.when(r_ != "", F.concat(F.lit("R"), r_)).otherwise(F.lit("")),
        F.when(vlabel != "", F.concat(F.lit(" ("), version, F.lit(")")))
        .otherwise(F.lit("")),
    )
    return F.when(
        t != "",
        F.struct(
            F.nullif(pre, F.lit("")).alias("prefix"),
            F.concat(t, tsuf).alias("t"),
            F.nullif(F.concat(n, nsuf), F.lit("")).alias("n"),
            F.nullif(m, F.lit("")).alias("m"),
            F.nullif(r_, F.lit("")).alias("r"),
            version.alias("version"),
            norm.alias("norm"),
        ),
    )


class TNMExtractor(Transformer):
    requires = ("note_id", "note_text")
    provides = ("tnm",)
    name = "eds.tnm"

    def __init__(self, text_col: str = "note_text"):
        self.text_col = text_col
        self.requires = ("note_id", text_col)

    def transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn("tnm", parse_tnm(F.col(self.text_col)))


# ---- ADICAP ------------------------------------------------------------


class AdicapDecoder(Transformer):
    """ADICAP code scan + full structure decode via broadcast dim joins.

    Parity: edsnlp/pipes/ner/adicap/adicap.py:185-214 decode() over the
    real resources/adicap.json.gz dictionary (7 623 codes, loaded into
    resources/adicap.parquet as (dim, code, label) rows; dim labels are
    the code='' rows):

    * sampling_mode = D1[char 1], technic = D2[char 2],
      organ = D3[chars 3-4];
    * for each dim D4..D7 (in order), if D[chars 5-8] ("short") or
      D[chars 3-8] ("long") decodes, set pathology = the dim's label,
      pathology_type = short-else-long, behaviour_type = D[char 6] —
      later dims OVERWRITE earlier ones (reference adicap.py:200-213
      loop), i.e. the last matching dimension wins.
    * code regex = reference patterns.py base_code: dotted D1-4 forms
      and the four 4-char suffix variants; dots are stripped before
      decoding (adicap.py:186).

    Spark design: one regexp scan + 11 broadcast joins against slices of
    the 7.6k-row decode table — all map-side, single stage, no UDF.
    """

    requires = ("note_id", "note_text")
    name = "eds.adicap"

    # patterns.py:7-27 (base_code), minus the outer capture group.
    CODE_RX = (
        r"[A-Z]\.?[A-Z]\.?[A-Z]{2}\.?"
        r"(?:\d{4}|[A-Z][0-9A-Z][A-Z][0-9]|[0-9A-Z][0-9][09A-Z][0-9]"
        r"|0[A-Z][0-9]{2})"
    )

    def __init__(self, text_col: str = "note_text"):
        self.text_col = text_col
        self.requires = ("note_id", text_col)

    @caching.leased
    def entities(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        raw = F.regexp_extract_all(
            F.coalesce(F.col(self.text_col), F.lit("")),
            F.lit(self.CODE_RX), F.lit(0),
        )
        ex = df.select(
            "note_id", F.explode(raw).alias("raw_code")
        ).withColumn("code", F.regexp_replace("raw_code", r"[^A-Za-z0-9 ]+", ""))

        from ..resources import load_resource
        dims = caching.persist(load_resource(spark, "adicap"))

        def dim_lookup(dim: str, out: str):
            adicap_dim = (
                dims.filter((F.col("dim") == dim) & (F.col("code") != ""))
                .select(F.col("code").alias(f"{out}_k"),
                        F.col("label").alias(out))
            )
            return F.broadcast(adicap_dim)

        out = (
            ex
            .join(dim_lookup("D1", "sampling_mode"),
                  F.substring("code", 1, 1) == F.col("sampling_mode_k"), "left")
            .join(dim_lookup("D2", "technic"),
                  F.substring("code", 2, 1) == F.col("technic_k"), "left")
            .join(dim_lookup("D3", "organ"),
                  F.substring("code", 3, 2) == F.col("organ_k"), "left")
        )
        # Pathology dims: short (chars 5-8) / long (chars 3-8) lookups +
        # behaviour (char 6), per dim; last matching dim wins.
        dim_labels = {
            r["dim"]: r["label"]
            for r in dims.filter(F.col("code") == "").collect()
        }
        path_cols = []
        for d in ("D4", "D5", "D6", "D7"):
            out = (
                out
                .join(dim_lookup(d, f"{d}_short"),
                      F.substring("code", 5, 4) == F.col(f"{d}_short_k"), "left")
                .join(dim_lookup(d, f"{d}_long"),
                      F.substring("code", 3, 6) == F.col(f"{d}_long_k"), "left")
                .join(dim_lookup(d, f"{d}_beh"),
                      F.substring("code", 6, 1) == F.col(f"{d}_beh_k"), "left")
            )
            hit = F.col(f"{d}_short").isNotNull() | F.col(f"{d}_long").isNotNull()
            path_cols.append(F.when(hit, F.struct(
                F.lit(dim_labels[d]).alias("pathology"),
                F.coalesce(f"{d}_short", f"{d}_long").alias("pathology_type"),
                F.col(f"{d}_beh").alias("behaviour_type"),
            )))
        # element_at(-1) of the non-null hits = last matching dim.
        hits = F.filter(F.array(*path_cols), lambda x: x.isNotNull())
        picked = F.when(F.size(hits) > 0, F.element_at(hits, -1))
        return out.select(
            "note_id", "code",
            F.col("raw_code").alias("lexical_variant"),
            "sampling_mode", "technic", "organ",
            picked["pathology"].alias("pathology"),
            picked["pathology_type"].alias("pathology_type"),
            picked["behaviour_type"].alias("behaviour_type"),
        )

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError("use .entities(notes)")


registry.register("eds.tnm")(lambda **kw: TNMExtractor(**kw))
registry.register("eds.adicap")(lambda **kw: AdicapDecoder(**kw))


def parse_elston_ellis(text: Column) -> Column:
    """Elston-Ellis computed grade (scores/elston_ellis/patterns.py):
    the '(architecture : 3 + noyaux : 3 + mitoses : 1)' component form
    sums its three 0-3 digits and maps <=5 -> 1, 6-7 -> 2, 8-9 -> 3.
    Returns struct<components array<int>, total int, grade int>."""
    p1 = r"[^\d()]*([0-3])"
    rx = rf"\({p1}.{{0,2}}[+,]{p1}.{{0,2}}[+,]{p1}\)"
    a = F.regexp_extract(text, rx, 1)
    b = F.regexp_extract(text, rx, 2)
    c = F.regexp_extract(text, rx, 3)
    total = a.cast("int") + b.cast("int") + c.cast("int")
    grade = (F.when(total <= 5, 1).when(total <= 7, 2)
             .when(total <= 9, 3))
    return F.when(
        a != "",
        F.struct(
            F.array(a.cast("int"), b.cast("int"), c.cast("int"))
            .alias("components"),
            total.alias("total"), grade.alias("grade"),
        ),
    )


# SOFA method qualifiers (scores/sofa/sofa.py:30-40: Maximum / 24H /
# A l'admission markers near the score mention).
def parse_sofa_method(text: Column) -> Column:
    low = F.lower(text)
    rx = r"sofa\s*(maximum|max|24h|a l'admission|admission)?"
    raw = F.regexp_extract(low, rx, 1)
    return (
        F.when(raw.isin("maximum", "max"), "Maximum")
        .when(raw == "24h", "24H")
        .when(raw.isin("a l'admission", "admission"), "A l'admission")
    )
