"""Golden-example operator tests, modeled on the reference's inline-markup
test style (tests/pipelines/qualifiers/test_negation.py:10-95): each case
is a French clinical sentence with expected entity attributes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import edsnlp_spark as es
from edsnlp_spark.operators.tokenizer import Tokenizer, Normalizer
from edsnlp_spark.operators.sentences import SentenceSegmenter
from edsnlp_spark.operators.matcher import PhraseMatcher, RegexMatcher
from edsnlp_spark.operators.qualifiers import make_qualifier
from edsnlp_spark.operators.dates import (
    parse_verbose_date, parse_numeric_date, parse_relative_days,
)
from edsnlp_spark.operators.quantities import extract_quantity, convert_to
from edsnlp_spark.operators.dedup import simhash64, token_shingles
from edsnlp_spark.functions.text import tokenize, norm_text


def notes_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "note_id long, note_text string"
    )


def run_pipeline(spark, texts):
    return es.Pipeline([Tokenizer(), Normalizer(), SentenceSegmenter()])(
        notes_df(spark, texts)
    )


# ---- tokenizer offsets are exact --------------------------------------

def test_tokenizer_offsets_exact(spark):
    texts = [
        "Le patient n'a pas de métastases. Poids : 65 kg.",
        "ligne 1\nLigne 2 !  Des espaces   multiples.",
        "",
    ]
    rows = notes_df(spark, texts).select(
        "note_id", "note_text", tokenize(F.col("note_text")).alias("toks")
    ).collect()
    for r in rows:
        for t in r.toks:
            assert r.note_text[t.start:t.end] == t.text


# ---- negation golden examples (reference test_negation.py style) ------

NEG_CASES = [
    ("Le patient n'a pas de métastases.", "metastases", True),
    ("Pas de métastases détectées.", "metastases", True),
    ("Absence de métastases.", "metastases", True),
    ("Le patient présente des métastases.", "metastases", False),
    # termination cue resets the negation scope
    ("Pas de fièvre mais des métastases.", "metastases", False),
    # conjugated negation verbs from the FULL table (reference
    # test_negation.py:31 'Le résultat exclut un SMD' and :28
    # 'maladie écartée'; conjugations via negation.py:247-272 filters)
    ("Le résultat exclut un SMD.", "smd", True),
    ("On écarte une pneumopathie.", "pneumopathie", True),
    ("Maladie écartée.", "maladie", True),
    ("Diagnostic infirmé par le scanner.", "diagnostic", True),
]


@pytest.mark.parametrize("text,term,expected", NEG_CASES)
def test_negation_golden(spark, text, term, expected):
    ndf = run_pipeline(spark, [text]).persist()
    ents = PhraseMatcher({"dis": [term]}).entities(ndf)
    out = make_qualifier("negation").qualify(ndf, ents).collect()
    assert len(out) == 1, f"expected 1 entity in {text!r}"
    assert out[0]["negation"] is expected, text


FAMILY_CASES = [
    ("Antécédents familiaux : diabète.", "diabete", True),
    ("Sa mère a un diabète.", "diabete", True),
    ("Le patient a un diabète.", "diabete", False),
]


@pytest.mark.parametrize("text,term,expected", FAMILY_CASES)
def test_family_golden(spark, text, term, expected):
    ndf = run_pipeline(spark, [text]).persist()
    ents = PhraseMatcher({"dis": [term]}).entities(ndf)
    out = make_qualifier("family").qualify(ndf, ents).collect()
    assert len(out) == 1 and out[0]["family"] is expected, text


HYPOTHESIS_CASES = [
    ("Suspicion de pneumopathie.", "pneumopathie", True),
    ("Pneumopathie possible.", "pneumopathie", True),
    ("Pneumopathie confirmée ce jour.", "pneumopathie", False),
    # conjugated hypothesis verbs (reference test_hypothesis.py:12
    # 'Plusieurs diagnostics sont envisagés'; hypothesis.py:230-263)
    ("Plusieurs diagnostics sont envisagés.", "diagnostics", True),
    ("On suspecte une pneumopathie.", "pneumopathie", True),
    # verbs_eds Conditionnel (hypothesis.py:250-252)
    ("Cela evoquerait une pneumopathie.", "pneumopathie", True),
]


@pytest.mark.parametrize("text,term,expected", HYPOTHESIS_CASES)
def test_hypothesis_golden(spark, text, term, expected):
    ndf = run_pipeline(spark, [text]).persist()
    ents = PhraseMatcher({"dis": [term]}).entities(ndf)
    out = make_qualifier("hypothesis").qualify(ndf, ents).collect()
    assert len(out) == 1 and out[0]["hypothesis"] is expected, text


# ---- pseudo-negation suppression --------------------------------------

def test_pseudo_negation_not_negated(spark):
    # "sans doute" is a pseudo cue: must NOT negate.
    ndf = run_pipeline(spark, ["Sans doute une pneumopathie."]).persist()
    ents = PhraseMatcher({"dis": ["pneumopathie"]}).entities(ndf)
    out = make_qualifier("negation").qualify(ndf, ents).collect()
    assert out[0]["negation"] is False


# ---- sentence split across newline + uppercase ------------------------

def test_sentence_boundaries(spark):
    df = run_pipeline(spark, ["Premiere phrase. Deuxieme phrase !\nTroisieme"])
    sents = df.select(F.size("sentences").alias("n")).collect()[0]["n"]
    assert sents == 3


# ---- dates -------------------------------------------------------------

def test_dates_parsing(spark):
    df = spark.createDataFrame(
        [("le 25 septembre 2021",), ("vu le 03/02/1999",),
         ("le 1er mars 1998",), ("il y a 3 jours",), ("aucune date",)],
        "t string",
    )
    out = df.select(
        F.date_format(parse_verbose_date(F.col("t")), "yyyy-MM-dd").alias("v"),
        F.date_format(parse_numeric_date(F.col("t")), "yyyy-MM-dd").alias("n"),
        parse_relative_days(F.col("t")).alias("rel"),
    ).collect()
    assert out[0]["v"] == "2021-09-25"
    assert out[1]["n"] == "1999-02-03"
    assert out[2]["v"] == "1998-03-01"
    assert out[3]["rel"] == -3
    assert out[4]["v"] is None and out[4]["n"] is None


def test_temporal_mentions(spark):
    """Golden cases mirroring tests/pipelines/misc/test_dates.py in the
    reference: durations, signed relatives, specifics, current, bounds,
    str(timedelta) norm strings (models.py:317-372)."""
    from edsnlp_spark.operators.dates import temporal_mentions
    rows = [
        (1, "hospitalise depuis le 25/09/2021 pour bilan."),
        (2, "Traitement pendant trois jours puis arret."),
        (3, "Il y a 3 semaines, chute de sa hauteur."),
        (4, "Controle dans 6 mois a prevoir."),
        (5, "Operation l'annee derniere sans complication."),
        (6, "Vu hier, reviendra apres-demain."),
        (7, "Cette annee, amelioration. Ce jour, examen normal."),
        (8, "Hospitalisation du 12/01/2020 jusqu'au 15/01/2020."),
        (9, "pendant 36 heures de surveillance"),
        (10, "vu il y a 36 heures en consultation"),
    ]
    out = temporal_mentions(
        spark.createDataFrame(rows, ["note_id", "note_text"])
    ).orderBy("note_id", "start_char").collect()
    got = [(r["note_id"], r["kind"], r["direction"], r["bound"],
            r["offset_seconds"], r["norm"]) for r in out]
    assert got == [
        (1, "absolute", None, "from", None, "2021-09-25"),
        (2, "duration", None, None, 259200, "during 3 days"),
        (3, "relative", "past", None, -1814400, "-21 days"),
        (4, "relative", "future", None, 15552000, "+180 days"),
        (5, "relative", "past", None, -31536000, "-365 days"),
        (6, "relative", "past", None, -86400, "-1 day"),
        (6, "relative", "future", None, 172800, "+2 days"),
        (7, "relative", "current", None, 0, "~0 year"),
        (7, "relative", "current", None, 0, "~0 day"),
        (8, "absolute", None, "from", None, "2020-01-12"),
        (8, "absolute", None, "until", None, "2020-01-15"),
        (9, "duration", None, None, 129600, "during 1 day, 12:00:00"),
        (10, "relative", "past", None, -129600, "-2 days, 12:00:00"),
    ]


# ---- quantities --------------------------------------------------------

def test_quantities(spark):
    df = spark.createDataFrame(
        [("poids : 65 kg",), ("dose de 37,5 mg",), ("taille 1.75 m",),
         ("rien ici",)],
        "t string",
    )
    out = df.select(extract_quantity(F.col("t")).alias("q")).collect()
    assert out[0]["q"]["value"] == 65.0 and out[0]["q"]["unit"] == "kg"
    assert out[0]["q"]["value_si"] == 65000.0
    assert out[1]["q"]["value"] == 37.5 and out[1]["q"]["unit"] == "mg"
    assert out[2]["q"]["dimension"] == "length"
    assert out[3]["q"] is None


def test_composed_quantities(spark):
    """Composed units per reference UnitRegistry.parse_unit
    (quantities.py:142-167): slash/par composition, powers, per-only,
    same-dim cancellation, canonical sorted-dict dimension strings."""
    from edsnlp_spark.operators.quantities import extract_composed_quantity
    rows = [("creatinine a 12 mg/l",), ("glycemie 5,5 mmol/l",),
            ("surface 2 cm2",), ("debit 30 ml/min",), ("dose 5 mg/kg",),
            ("prises : 3/j",), ("volume 2 cm³",), ("sat 98 %",),
            ("rien",)]
    df = spark.createDataFrame(rows, "t string")
    out = df.select(
        extract_composed_quantity(F.lower(F.col("t"))).alias("q")).collect()
    got = [(r["q"]["unit"], r["q"]["dimension"],
            round(r["q"]["value_si"], 9)) if r["q"] else None for r in out]
    assert got == [
        ("mg/l", "{'mass': 1, 'volume': -1}", 0.012),
        ("mmol/l", "{'substance': 1, 'volume': -1}", 0.0055),
        ("cm2", "{'length': 2}", 0.0002),
        ("ml/min", "{'time': -1, 'volume': 1}", 0.0005),
        ("mg/kg", "{}", 5e-06),
        ("/j", "{'time': -1}", 3.4722e-05),
        ("cm3", "{'length': 3}", 2e-06),
        ("%", "{'ratio': 1}", 0.98),
        None,
    ]


def test_unit_conversion(spark):
    df = spark.range(1)
    out = df.select(
        convert_to(F.lit(2.5), F.lit("kg"), F.lit("mg")).alias("a"),
        convert_to(F.lit(1.0), F.lit("kg"), F.lit("m")).alias("bad"),
    ).collect()[0]
    assert out["a"] == 2.5e6
    assert out["bad"] is None


# ---- regex matcher NORM space -----------------------------------------

def test_regex_matcher_norm_offsets(spark):
    # Match on accent-folded NORM, spans must index the ORIGINAL text.
    df = notes_df(spark, ["Présence de Métastases évoquée."])
    ents = RegexMatcher({"dis": [r"metastases"]}, attr="NORM").entities(df)
    r = ents.collect()[0]
    assert r["lexical_variant"] == "Métastases"


# ---- simhash similarity property --------------------------------------

def test_simhash_similarity(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different words entirely unrelated text here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.h for r in
            df.select("doc_id", simhash64(F.col("text")).alias("h")).collect()}
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


def test_simhash_neardup_max_df_caps_hot_blocks(spark):
    """VERDICT r7 #3: a planted exact-duplicate cluster makes every one
    of its (block, value) keys hot — quadratic candidates per block.
    With max_df set, cluster blocks are dropped from candidate
    generation (LeftAnti in the plan) and the output stays bounded,
    while small clusters below the cap are still found."""
    from edsnlp_spark.operators.dedup import simhash_neardup_pairs

    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(60)]
    rows += [(100, "foo bar baz qux quux corge"),
             (101, "foo bar baz qux quux corge")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    full = {(r.id_a, r.id_b)
            for r in simhash_neardup_pairs(df, max_hamming=3,
                                           bands=4).collect()}
    # uncapped: the 60-clique (1770 pairs) plus the planted 2-cluster
    assert (100, 101) in full
    assert sum(1 for a, b in full if a < 100 and b < 100) == 1770

    capped = simhash_neardup_pairs(df, max_hamming=3, bands=4, max_df=50)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # every block of the 60-cluster exceeds the cap -> no quadratic
    # candidate generation for it (exact dups belong to exact dedup);
    # the 2-cluster's blocks (2 members) survive.
    assert got == {(100, 101)}


def test_simhash_neardup_max_df_validation(spark):
    from edsnlp_spark.operators.dedup import simhash_neardup_pairs
    import pytest as _pytest
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="max_df"):
        simhash_neardup_pairs(df, max_df=1)


def test_token_shingles_edges(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d")], "doc_id long, text string")
    rows = {r.doc_id: r.sh for r in
            df.select("doc_id", token_shingles(F.col("text"), 3).alias("sh"))
            .collect()}
    assert rows[1] == []
    assert rows[2] == ["a b c"]
    assert rows[3] == ["a b c", "b c d"]


# ---- facade (reference composition API) --------------------------------

def test_facade_blank_pipe(spark):
    import edsnlp_spark as es2
    nlp = es2.blank()
    nlp.add_pipe("eds.matcher", terms={"covid": ["covid", "coronavirus"],
                                       "dis": ["metastases"]})
    nlp.add_pipe("eds.negation")
    notes = notes_df(spark, ["Le patient n'a pas de métastases.",
                             "Il a le coronavirus."])
    ents = nlp.pipe(notes).collect()
    got = {(r["lexical_variant"], r["negation"]) for r in ents}
    assert got == {("métastases", True), ("coronavirus", False)}
    # eager single-doc path
    doc = nlp("Pas de covid aujourd'hui.", spark=spark)
    assert [(r["lexical_variant"], r["negation"]) for r in doc] == [("covid", True)]


def test_facade_config_roundtrip(spark, tmp_path):
    """to_disk/load (reference Pipeline.to_disk + edsnlp.load,
    core/pipeline.py:550-614): the reloaded pipeline is behaviorally
    identical, and object-added pipes are rejected as non-declarable."""
    import pytest as _pytest
    import edsnlp_spark as es2
    nlp = es2.blank()
    nlp.add_pipe("eds.matcher", terms={"covid": ["covid", "coronavirus"]})
    nlp.add_pipe("eds.negation")
    nlp.to_disk(str(tmp_path / "model"))
    nlp2 = es2.load(str(tmp_path / "model"))
    assert nlp2.pipe_names == nlp.pipe_names
    notes = notes_df(spark, ["Le patient n'a pas le covid.",
                             "Il a le coronavirus."])
    got = {(r["lexical_variant"], r["negation"])
           for r in nlp2.pipe(notes).collect()}
    assert got == {("covid", True), ("coronavirus", False)}
    # live-object pipes have no declaration -> to_disk refuses
    from edsnlp_spark.operators.matcher import PhraseMatcher
    nlp3 = es2.blank()
    nlp3.add_pipe(PhraseMatcher({"t": ["x"]}))
    with _pytest.raises(ValueError, match="added as objects"):
        nlp3.to_disk(str(tmp_path / "model3"))


def test_quantity_range(spark):
    from edsnlp_spark.operators.quantities import extract_range
    df = spark.createDataFrame(
        [("dose de 10 - 20 mg",), ("entre rien",)], "t string")
    out = df.select(extract_range(F.col("t")).alias("r")).collect()
    r = out[0]["r"]
    assert (r["low"], r["high"], r["unit"]) == (10.0, 20.0, "mg")
    assert abs(r["high_si"] - 0.02) < 1e-9
    assert out[1]["r"] is None


def test_date_period(spark):
    from edsnlp_spark.operators.dates import parse_period
    df = spark.createDataFrame(
        [("hospitalise du 3 mars 2020 au 15/03/2020, sortie ok",),
         ("du debut au 15/03/2020.",)], "t string")
    out = df.select(parse_period(F.lower(F.col("t"))).alias("p")).collect()
    p = out[0]["p"]
    assert str(p["start"]) == "2020-03-03" and str(p["end"]) == "2020-03-15"
    assert out[1]["p"] is None  # left bound is not a date


def test_regex_span_from_group(spark):
    df = notes_df(spark, ["Poids : 65 kg mesure ce jour."])
    m = RegexMatcher({"weight": [r"Poids\s*:\s*(\d+)"]}, span_from_group=True)
    r = m.entities(df).collect()[0]
    assert r["lexical_variant"] == "65"
    assert "Poids : 65 kg mesure ce jour."[r["start_char"]:r["end_char"]] == "65"


RSPEECH_CASES = [
    ("Le patient dit avoir une douleur thoracique.", "douleur", True),
    ("Le patient rapporte des vertiges.", "vertiges", True),
    ("À l'examen une douleur thoracique.", "douleur", False),
]


@pytest.mark.parametrize("text,term,expected", RSPEECH_CASES)
def test_reported_speech_golden(spark, text, term, expected):
    ndf = run_pipeline(spark, [text]).persist()
    ents = PhraseMatcher({"sym": [term]}).entities(ndf)
    out = make_qualifier("reported_speech").qualify(ndf, ents).collect()
    assert len(out) == 1 and out[0]["reported_speech"] is expected, text


def test_within_ents_flag(spark):
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    # entity "absence de douleur" CONTAINS the cue "absence de"
    ndf = run_pipeline(spark, ["Conclusion : absence de douleur."]).persist()
    ents = PhraseMatcher({"sym": ["absence de douleur"]}).entities(ndf)
    cues = {"preceding": ["absence de"], "termination": ["mais"]}
    off = QualifierEngine("negation", cues, within_ents=False)
    on = QualifierEngine("negation", cues, within_ents=True)
    assert off.qualify(ndf, ents).collect()[0]["negation"] is False
    assert on.qualify(ndf, ents).collect()[0]["negation"] is True


def test_partial_date_inference(spark):
    from edsnlp_spark.operators.dates import parse_partial_date
    import datetime as dt
    df = spark.createDataFrame(
        [("hospitalise en mars", dt.datetime(2021, 9, 15)),
         ("vu le 25", dt.datetime(2021, 9, 15)),
         ("opere en 2019", dt.datetime(2021, 9, 15)),
         ("vu le 25", None),           # no anchor -> null
         ("rien", dt.datetime(2021, 9, 15))],
        "t string, nd timestamp")
    out = [str(r["d"]) for r in df.select(
        parse_partial_date(F.lower(F.col("t")), F.col("nd")).alias("d")).collect()]
    assert out == ["2021-03-01", "2021-09-25", "2019-01-01", "None", "None"]
    # full dates are NOT captured by the partial patterns
    df2 = spark.createDataFrame(
        [("le 25 septembre 2021", dt.datetime(2020, 1, 1))], "t string, nd timestamp")
    assert df2.select(parse_partial_date(
        F.col("t"), F.col("nd")).alias("d")).collect()[0]["d"] is None


def test_contextual_unitless_quantity(spark):
    from edsnlp_spark.operators.quantities import extract_contextual_quantity
    df = spark.createDataFrame(
        [("poids : 65 ce jour",), ("poids : 65 kg",), ("taille 1,75",),
         ("valeur 65",)], "t string")
    out = df.select(extract_contextual_quantity(F.lower(F.col("t"))).alias("q")).collect()
    assert (out[0]["q"]["value"], out[0]["q"]["unit"]) == (65.0, "kg")
    assert out[1]["q"] is None          # explicit unit -> handled by extract_quantity
    assert (out[2]["q"]["value"], out[2]["q"]["unit"]) == (1.75, "m")
    assert out[3]["q"] is None          # unknown context word


def test_negation_verb_cues(spark):
    ndf = run_pipeline(spark, ["Le scanner ne montre pas de métastases.",
                               "Le patient nie toute douleur."]).persist()
    ents = PhraseMatcher({"x": ["metastases", "douleur"]}).entities(ndf)
    out = {r["lexical_variant"]: r["negation"]
           for r in make_qualifier("negation").qualify(ndf, ents).collect()}
    assert out == {"métastases": True, "douleur": True}


def test_month_year_partial_date(spark):
    from edsnlp_spark.operators.dates import parse_partial_date
    import datetime as dt
    df = spark.createDataFrame(
        [("opere en mars 2019", dt.datetime(2022, 1, 1)),
         ("opere en mars 2019", None)], "t string, nd timestamp")
    out = [str(r["d"]) for r in df.select(
        parse_partial_date(F.col("t"), F.col("nd")).alias("d")).collect()]
    # month+year needs no anchor: resolves even with null note_datetime
    assert out == ["2019-03-01", "2019-03-01"]


# ---- round-2 ADVICE regression tests ----------------------------------

def test_elision_negation(spark):
    """'pas d'anomalie' is negated: the tokenizer splits elisions like the
    reference EDSTokenizer (language.py:63-66), so apostrophe-bearing cues
    build n-gram keys that actually occur in the corpus."""
    ndf = run_pipeline(spark, [
        "Pas d'anomalie décelée.",
        "Le scanner n'objective pas d'anomalie.",
    ]).persist()
    ents = PhraseMatcher({"dis": ["anomalie"]}).entities(ndf)
    out = make_qualifier("negation").qualify(ndf, ents).collect()
    assert len(out) == 2
    assert all(r["negation"] for r in out)


def test_elision_tokenization(spark):
    toks = notes_df(spark, ["pas d'anomalie à l'examen"]).select(
        tokenize(F.col("note_text")).alias("t")).collect()[0]["t"]
    assert [t.text for t in toks] == ["pas", "d'", "anomalie", "à", "l'", "examen"]
    # offsets still exact (partition property survives the elision split)
    text = "pas d'anomalie à l'examen"
    assert all(text[t.start:t.end] == t.text for t in toks)


def test_percent_quantity(spark):
    df = notes_df(spark, ["Saturation à 98 %.", "FEVG 45%. Stable."])
    rows = df.orderBy("note_id").select(
        extract_quantity(F.lower(F.col("note_text"))).alias("q")).collect()
    assert (rows[0]["q"]["value"], rows[0]["q"]["unit"]) == (98.0, "%")
    assert rows[0]["q"]["dimension"] == "ratio"
    assert abs(rows[0]["q"]["value_si"] - 0.98) < 1e-9
    assert (rows[1]["q"]["value"], rows[1]["q"]["unit"]) == (45.0, "%")


def test_accented_month_dates(spark):
    from edsnlp_spark.operators.dates import DatesExtractor
    df = notes_df(spark, ["Consultation du 25 décembre 2021.",
                          "Hospitalisé le 1er août 2019."])
    out = {r["note_id"]: str(r["parsed_date"])
           for r in DatesExtractor().transform(df).collect()}
    assert out == {0: "2021-12-25", 1: "2019-08-01"}


def test_norm_unified_typographic_apostrophe(spark):
    """Typographic apostrophes in the corpus fold to ASCII in ONE shared
    normalization (driver-side terms, UDF path, and norm_text agree)."""
    ndf = run_pipeline(spark, ["Le patient n’a pas d’anomalie."]).persist()
    ents = PhraseMatcher({"dis": ["anomalie"]}).entities(ndf)
    out = make_qualifier("negation").qualify(ndf, ents).collect()
    assert len(out) == 1 and out[0]["negation"] is True


def test_regex_native_zero_width_guard(spark):
    """An identical date string embedded earlier in a longer digit run is
    rejected by \\b but found by locate — the guard must route such
    patterns to the exact path so offsets stay true."""
    from edsnlp_spark.operators.dates import NUMERIC_DATE_RX
    text = "ref 125/09/2021 puis le 25/09/2021."
    m = RegexMatcher({"date": [NUMERIC_DATE_RX]}, attr="NORM",
                     span_type="date", native=True)
    rows = m.entities(notes_df(spark, [text])).collect()
    assert len(rows) == 1
    s, e = rows[0]["start_char"], rows[0]["end_char"]
    assert text[s:e] == "25/09/2021"
    assert s == text.index("le 25/09") + 3


def test_dates_false_positives(spark):
    """The reference's counter-examples (tests/pipelines/misc/
    test_dates.py test_false_positives): pagination, phone numbers,
    lab-value ranges, bare floats must yield NO date mention."""
    from edsnlp_spark.operators.dates import date_mentions
    fps = ["page 1/1", "40 00", "06 12 34 56 78", "bien mais", "thierry",
           "436", "12.0-16", "27.0-33", "7.0-11", "03-0.70", "4.09-11",
           "2/2CR Urgences PSL", "Dextro : 5.7 mmol/l", "2.5"]
    notes = spark.createDataFrame(
        [(i, t.lower()) for i, t in enumerate(fps)],
        ["note_id", "note_text"])
    assert date_mentions(notes).count() == 0


def test_dates_illegal_and_formats(spark):
    """Illegal calendar dates keep the span with a null parse
    (test_illegal_dates); 2-digit years use the <25 -> 2000+ century
    rule (models.py:213-220); ISO, dash, space-delimited and numeric
    month/year forms all parse."""
    from edsnlp_spark.operators.dates import date_mentions
    rows = [
        (0, " le 31/06/17, la derniere dose."),
        (1, " le 30/02/18 n'est pas une vraie date"),
        (2, "consultation du 03 07 19"),
        (3, "le (2021-08-09)."),
        (4, "cs le 11-01-2017 1/3"),
        (5, "preleve le : 22/04/2016 \n78 rue du general leclerc"),
        (6, "en 11/2017 stabilite sur..."),
    ]
    notes = spark.createDataFrame(rows, ["note_id", "note_text"])
    got = {r["note_id"]: (r["lexical_variant"],
                          str(r["parsed_date"]) if r["parsed_date"] else None)
           for r in date_mentions(notes).collect()}
    assert got == {
        0: ("31/06/17", None),
        1: ("30/02/18", None),
        2: ("03 07 19", "2019-07-03"),
        3: ("2021-08-09", "2021-08-09"),
        4: ("11-01-2017", "2017-01-11"),
        5: ("22/04/2016", "2016-04-22"),
        6: ("11/2017", "2017-11-01"),
    }


def test_quantity_operators_ranges_letters(spark):
    """Reference test_operator / test_ranges / test_numbers
    (tests/pipelines/misc/test_quantities.py:289-341): comparison
    operators, entre..et ranges, letter-number values."""
    from edsnlp_spark.operators.quantities import (
        extract_operator_quantity, extract_range, extract_letter_quantity)
    df = spark.createDataFrame(
        [("< 5 µl et plus",), ("superieur a 8 ui",), ("poids : 65 kg",),
         ("le patient fait entre 1 et 2m",), ("on mesure de 2 a 2.5 dl",),
         ("deux m de long",), ("vingt-cinq kg",), ("rien",)],
        "t string")
    out = df.select(
        extract_operator_quantity(F.col("t")).alias("op"),
        extract_range(F.col("t")).alias("rg"),
        extract_letter_quantity(F.col("t")).alias("lt"),
    ).collect()
    assert (out[0]["op"]["operator"], out[0]["op"]["value"],
            out[0]["op"]["unit"]) == ("<", 5.0, "µl")
    assert (out[1]["op"]["operator"], out[1]["op"]["value"],
            out[1]["op"]["unit"]) == (">", 8.0, "ui")
    assert (out[2]["op"]["operator"], out[2]["op"]["value"]) == ("=", 65.0)
    assert (out[3]["rg"]["low"], out[3]["rg"]["high"],
            out[3]["rg"]["unit"]) == (1.0, 2.0, "m")
    assert (out[4]["rg"]["low"], out[4]["rg"]["high"],
            out[4]["rg"]["unit"]) == (2.0, 2.5, "dl")
    assert (out[5]["lt"]["value"], out[5]["lt"]["unit"]) == (2.0, "m")
    assert (out[6]["lt"]["value"], out[6]["lt"]["unit"]) == (25.0, "kg")
    assert out[7]["op"] is None and out[7]["rg"] is None \
        and out[7]["lt"] is None


def test_split_regex_and_filter(spark):
    """Reference eds.split regex mode (tests/pipelines/misc/
    test_split.py): cut after each match, separator stays with the
    preceding fragment; filter_expr drops fragments."""
    from edsnlp_spark.operators.split_explode import SplitDocs
    txt = "This is a test. Another test.\n\nA third test!"
    df = spark.createDataFrame([(1, txt)], "note_id long, note_text string")
    frags = SplitDocs(regex=r"\n\n").transform(df).orderBy("frag_id").collect()
    assert [f["frag_text"] for f in frags] == [
        "This is a test. Another test.\n\n", "A third test!"]
    assert [f["frag_start_char"] for f in frags] == [0, 31]
    assert txt[frags[1]["frag_start_char"]:frags[1]["frag_end_char"]] \
        == "A third test!"
    # filter_expr (reference test_filter): keep 'Another' fragments
    kept = SplitDocs(regex=r"[.!?]\s+",
                     filter_expr="frag_text LIKE '%Another%'") \
        .transform(df).collect()
    assert len(kept) == 1 and kept[0]["frag_text"].startswith("Another")


def test_history_excludes_birthdate(spark):
    """history.py:224/271/359: a date equal to birth_datetime is not
    recency evidence; any other old date still is."""
    import datetime
    from edsnlp_spark.operators.history import HistoryQualifier
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.core.base import Pipeline
    rows = [
        (1, "nee le 23/11/1978, vue pour asthme persistant",
         datetime.datetime(2024, 5, 1), datetime.datetime(1978, 11, 23)),
        (2, "hospitalise le 10/01/2010 pour asthme aigu",
         datetime.datetime(2024, 5, 1), datetime.datetime(1978, 11, 23)),
    ]
    notes = Pipeline([Tokenizer(), SentenceSegmenter()])(
        spark.createDataFrame(
            rows, "note_id long, note_text string, "
                  "note_datetime timestamp, birth_datetime timestamp")
    ).persist()
    from edsnlp_spark.operators.matcher import PhraseMatcher
    ents = PhraseMatcher({"resp": ["asthme"]}, attr="NORM").entities(notes)
    hq = HistoryQualifier()
    out = {r["note_id"]: r["history"]
           for r in hq.qualify(notes, ents).collect()}
    assert out[1] is False   # only the birth date precedes -> excluded
    assert out[2] is True    # a real old date -> history
    # with exclusion off, the birth date counts as an old date again
    hq2 = HistoryQualifier(exclude_birthdate=False)
    out2 = {r["note_id"]: r["history"]
            for r in hq2.qualify(notes, ents).collect()}
    assert out2[1] is True


def test_history_sec_prefix_guard(spark):
    """r6 (ADVICE r4): the merged cue+section scan reserves the
    '__sec__' label prefix.  (a) QualifierEngine rejects unknown cue
    classes outright, so a colliding class cannot exist today; (b) if
    one ever bypasses validation, the merge is SKIPPED (two-scan
    fallback) and the qualifier output is unchanged — never a cue
    mislabeled as a section header."""
    import pytest as _pytest

    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.history import HistoryQualifier
    from edsnlp_spark.operators.matcher import PhraseMatcher
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    from edsnlp_spark.operators.sections import SectionSegmenter
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.operators.tokenizer import Tokenizer

    with _pytest.raises(ValueError, match="unknown cue classes"):
        QualifierEngine("negation", {"__sec__preceding": ["pas de"]})

    notes = Pipeline([Tokenizer(), SentenceSegmenter()])(
        spark.createDataFrame(
            [(1, "antecedents : asthme connu. actuellement asthme aigu")],
            "note_id long, note_text string")).persist()
    ents = PhraseMatcher({"resp": ["asthme"]}, attr="NORM").entities(notes)

    def build():
        return HistoryQualifier(
            cues={"preceding": ["atcd"], "termination": ["actuellement"]},
            use_dates=False,
            sections=SectionSegmenter({"antecedents": ["antecedents"]}),
        )

    hq = build()
    merged = sorted((r["start_char"], r["history"])
                    for r in hq.qualify(notes, ents).collect())
    hq2 = build()
    # simulate a validation bypass: inject a colliding class directly
    hq2.engine.cues["__sec__fake"] = ["zzz"]
    fallback = sorted((r["start_char"], r["history"])
                      for r in hq2.qualify(notes, ents).collect())
    assert merged == fallback
    # the antecedents section opens at the start and never closes, so
    # both mentions are section-flagged history (the 'actuellement'
    # termination only cuts the CUE scope, not section membership)
    assert [h for _, h in merged] == [True, True]
    notes.unpersist()


def test_dates_detect_time(spark):
    """Reference test_time (tests/pipelines/misc/test_dates.py:175-201):
    with detect_time, '11/01/2012 à 11h34' norms to
    '2012-01-11 11h34m'; without, the bare date."""
    from edsnlp_spark.operators.dates import date_mentions
    notes = spark.createDataFrame(
        [(1, "vu le 11/01/2012 a 11h34 pour radio."),
         (2, "vu le 11/01/2012 pour radio.")],
        "note_id long, note_text string")
    with_t = {r["note_id"]: r["norm"]
              for r in date_mentions(notes, detect_time=True).collect()}
    assert with_t == {1: "2012-01-11 11h34m", 2: "2012-01-11"}
    without = date_mentions(notes).collect()
    assert "norm" not in without[0].asDict()
    assert str(without[0]["parsed_date"]) == "2012-01-11"


def test_connected_components_chain(spark):
    """Min-label propagation merges transitive chains: a-b, b-c, d-e
    form {a,b,c} and {d,e}; singletons keep their own component."""
    from edsnlp_spark.operators.dedup import (
        connected_components, dedup_resolve)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    comps = {r["id"]: r["comp"] for r in
             connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 7, 8]],
                                 "doc_id long")
    res = {r["doc_id"]: (r["component"], r["is_canonical"]) for r in
           dedup_resolve(docs, pairs).collect()}
    assert res == {1: (1, True), 2: (1, False), 3: (1, False),
                   5: (5, True), 7: (7, True), 8: (7, False)}


def test_connected_components_convergence_surfaced(spark):
    """r6 (VERDICT r5 #5): iteration count is surfaced via the stats
    dict, and a graph whose diameter exceeds max_iter RAISES (or flags
    with on_nonconverged='flag') instead of silently mislabeling."""
    import pytest

    from edsnlp_spark.operators.dedup import connected_components

    # a path graph 0-1-2-...-9: min label needs ~9 rounds to reach 9
    n = 10
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    stats = {}
    comps = {r["id"]: r["comp"] for r in
             connected_components(pairs, stats=stats).collect()}
    assert set(comps.values()) == {0}
    assert stats["converged"] and 1 <= stats["iterations"] <= 25

    # cap below the diameter: must raise, not return wrong labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=3)

    # 'flag' mode returns partial labels + converged=False in stats
    stats = {}
    partial = connected_components(pairs, max_iter=3,
                                   on_nonconverged="flag", stats=stats)
    assert stats == {"iterations": 3, "converged": False}
    got = {r["id"]: r["comp"] for r in partial.collect()}
    assert got[0] == 0 and got[n - 1] != 0  # over-segmented, not wrong-merged


def test_connected_components_star_differential(spark):
    """r6: the large-star/small-star contraction must agree with
    min-label propagation on random graphs, and must converge in
    O(log^2 n) rounds on a long path where label propagation's default
    cap would fire (the documented pathological-diameter switch)."""
    import random

    from edsnlp_spark.operators.dedup import (
        connected_components, connected_components_star)

    rng = random.Random(1789)
    for trial in range(4):
        n = 30
        m = rng.randint(5, 40)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b] or [(0, 1)]
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        want = {r["id"]: r["comp"] for r in
                connected_components(pdf, max_iter=60).collect()}
        stats = {}
        got = {r["id"]: r["comp"] for r in
               connected_components_star(pdf, stats=stats).collect()}
        assert got == want, f"trial {trial}: {pairs}"
        assert stats["converged"]

    # path graph of 41 nodes: diameter 40 > label default cap of 25,
    # star converges in a handful of rounds and labels it one component
    path = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                 "id_a long, id_b long")
    stats = {}
    comps = {r["id"]: r["comp"] for r in
             connected_components_star(path, stats=stats).collect()}
    assert set(comps.values()) == {0} and len(comps) == 41
    assert stats["converged"] and stats["iterations"] <= 10


def test_connected_components_star_rejects_non_integral_ids(spark):
    """r7 (ADVICE r6 #2): string/hash ids would be silently cast to
    NULL, dropped by the u != v filter, and return empty/partial
    components — the star variant must raise instead, so the documented
    label->star migration cannot silently corrupt results."""
    import pytest

    from edsnlp_spark.operators.dedup import (
        connected_components, connected_components_star)

    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral"):
        connected_components_star(spairs)
    # the label variant still accepts arbitrary id types
    comps = {r["id"]: r["comp"]
             for r in connected_components(spairs).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a"}


@pytest.mark.parametrize("txt,from_group,result", [
    ("It is a match1 group1", True, "match1 group1"),   # group didn't fire
    ("It is a match1 group1", False, "match1 group1"),
    ("It is a match1 group2", True, "group2"),          # group fired
    ("It is a match1 group2", False, "match1 group2"),
])
def test_regex_span_from_group_reference_cases(spark, txt, from_group,
                                               result):
    """The reference's exact span_from_group parametrization
    (tests/matchers/test_regex.py:29-62): a non-capturing alternative
    falls back to the full match; a captured group narrows the span."""
    df = notes_df(spark, [txt])
    m = RegexMatcher({"test": [r"match1 (?:group1|(group2))"]},
                     span_from_group=from_group)
    r = m.entities(df).collect()[0]
    assert r["lexical_variant"] == result
    assert txt[r["start_char"]:r["end_char"]] == result


def test_unitless_sequences_zip(spark):
    """Reference test_unitless_sequences shapes (test_quantities.py:
    214-276): labels before the colon zip positionally with bare values
    after it, for /, -, 'et' and whitespace separators."""
    from edsnlp_spark.operators.quantities import extract_unitless_sequence
    cases = [
        ("poids / imc : 57/22 taille : 170",
         [("poids", "kg", 57.0), ("imc", "kg_per_m2", 22.0)]),
        ("poids / imc / taille : 57/22/150",
         [("poids", "kg", 57.0), ("imc", "kg_per_m2", 22.0),
          ("taille", "cm", 150.0)]),
        ("poids, taille, imc : 57 et 170 et 22",
         [("poids", "kg", 57.0), ("taille", "cm", 170.0),
          ("imc", "kg_per_m2", 22.0)]),
        ("poids - imc : 57 - 22",
         [("poids", "kg", 57.0), ("imc", "kg_per_m2", 22.0)]),
        ("rien ici", []),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    out = df.select(extract_unitless_sequence(F.col("t")).alias("q")) \
        .collect()
    for (txt, exp), row in zip(cases, out):
        got = [(x["label"], x["unit"], x["value"]) for x in row["q"]]
        assert got == exp, (txt, got)


def test_qualifier_empty_cues_raises(spark):
    """Round-3 ADVICE #3: constructing the engine with no usable cue
    class is a clear ValueError, not a deferred IndexError."""
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    with pytest.raises(ValueError, match="no non-empty cue class"):
        QualifierEngine("negation", {})
    with pytest.raises(ValueError, match="no non-empty cue class"):
        QualifierEngine("negation", {"preceding": [], "pseudo": []})


def test_pseudo_shadowed_by_pseudo_does_not_suppress(spark):
    """Round-3 ADVICE #2 (utils/filter.py:106-128 seen_tokens): a
    pseudo overlapping an earlier-kept pseudo claims NO tokens, so a
    real cue overlapping only that shadowed pseudo survives."""
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    # tokens: alpha beta gamma douleur
    # pseudo 'alpha beta' (toks 0-2, kept) shadows pseudo 'beta gamma'
    # (toks 1-3); real cue 'gamma' (toks 2-3) overlaps ONLY the
    # shadowed pseudo -> must survive and negate 'douleur'.
    ndf = run_pipeline(spark, ["alpha beta gamma douleur"]).persist()
    ents = PhraseMatcher({"sym": ["douleur"]}).entities(ndf)
    q = QualifierEngine("negation", {
        "preceding": ["gamma"],
        "pseudo": ["alpha beta", "beta gamma"],
        "termination": ["mais"],
    })
    assert q.qualify(ndf, ents).collect()[0]["negation"] is True
    # control: a real cue overlapping the KEPT pseudo is suppressed
    q2 = QualifierEngine("negation", {
        "preceding": ["beta"],
        "pseudo": ["alpha beta"],
        "termination": ["mais"],
    })
    assert q2.qualify(ndf, ents).collect()[0]["negation"] is False


def test_pseudo_real_exact_tie_keeps_real(spark):
    """r4: identical-extent pseudo vs real cue.  The reference resolves
    this tie by preshed hash-map iteration order over the labels of one
    span (matchers/phrase.pyx:144-146) — a string-hash artifact.  Our
    documented deterministic rule: the real cue survives (a pseudo only
    suppresses when it sorts STRICTLY before: longer, or equal length
    and more leftward)."""
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    ndf = run_pipeline(spark, ["gamma douleur"]).persist()
    ents = PhraseMatcher({"sym": ["douleur"]}).entities(ndf)
    q = QualifierEngine("negation", {
        "preceding": ["gamma"],
        "pseudo": ["gamma"],        # same extent as the real cue
        "termination": ["mais"],
    })
    assert q.qualify(ndf, ents).collect()[0]["negation"] is True
    # strictly-longer pseudo still wins over a shorter real cue
    ndf2 = run_pipeline(spark, ["beta gamma douleur"]).persist()
    ents2 = PhraseMatcher({"sym": ["douleur"]}).entities(ndf2)
    q2 = QualifierEngine("negation", {
        "preceding": ["gamma"],
        "pseudo": ["beta gamma"],
        "termination": ["mais"],
    })
    assert q2.qualify(ndf2, ents2).collect()[0]["negation"] is False


def test_tracked_persist_release(spark):
    """r4 (ADVICE r3 #2): operator-internal persists (qualifier cues/
    bounds, history planes, semdedup assignment) are TRACKED, leased to
    their owner; a long-lived session releases them with
    caching.release(owner) after materializing the output instead of
    accumulating cached tables."""
    from edsnlp_spark.core import caching
    caching.release()  # clean slate
    ndf = run_pipeline(spark, ["pas de douleur aujourd'hui"]).persist()
    ents = PhraseMatcher({"sym": ["douleur"]}).entities(ndf)
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    q = QualifierEngine("negation", {"preceding": ["pas de"],
                                     "termination": ["mais"]})
    q.qualify(ndf, ents).collect()
    live = caching.tracked_scopes()
    assert live.get("QualifierEngine", 0) >= 2  # cues + bounds
    released = caching.release(q)
    assert released >= 2
    assert caching.tracked_scopes().get("QualifierEngine", 0) == 0
    ndf.unpersist()


def test_repeated_qualify_calls_stay_bounded(spark):
    """r6 (VERDICT r5 #7): repeated qualify() calls on the SAME engine
    without caching.release() must not accumulate cached planes — the
    engine's next top-level call ends the previous call's lease, so N
    calls hold the same count as one call."""
    from edsnlp_spark.core import caching
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    caching.release()
    ndf = run_pipeline(spark, ["pas de douleur aujourd'hui"]).persist()
    ents = PhraseMatcher({"sym": ["douleur"]}).entities(ndf)
    q = QualifierEngine("negation", {"preceding": ["pas de"],
                                     "termination": ["mais"]})
    q.qualify(ndf, ents).collect()
    one_call = caching.tracked_scopes().get("QualifierEngine", 0)
    assert one_call >= 2
    for _ in range(3):
        out = q.qualify(ndf, ents)
    assert caching.tracked_scopes().get("QualifierEngine", 0) == one_call
    # the latest call's output is still correct after the releases
    assert out.collect()[0]["negation"] is True
    caching.release()
    ndf.unpersist()


def test_different_owners_do_not_release_each_other(spark):
    """r6: two engines called one after the other before
    materializing must keep BOTH calls' planes — only the same owner's
    next top-level call releases."""
    from edsnlp_spark.core import caching
    from edsnlp_spark.operators.qualifiers import QualifierEngine
    caching.release()
    ndf = run_pipeline(spark, ["pas de douleur mais si fievre"]).persist()
    ents = PhraseMatcher({"sym": ["douleur", "fievre"]}).entities(ndf)
    q1 = QualifierEngine("negation", {"preceding": ["pas de"],
                                      "termination": ["mais"]})
    q2 = QualifierEngine("hypothesis", {"preceding": ["si"],
                                        "termination": ["mais"]})
    out1 = q1.qualify(ndf, ents)
    n1 = caching.tracked_scopes().get("QualifierEngine", 0)
    out2 = q2.qualify(ndf, out1)
    assert caching.tracked_scopes().get("QualifierEngine", 0) == 2 * n1
    rows = {r.lexical_variant: (r.negation, r.hypothesis)
            for r in out2.collect()}
    assert rows["douleur"] == (True, False)
    assert rows["fievre"] == (False, True)
    caching.release()
    ndf.unpersist()


def test_nested_lease_is_reentrant(spark):
    """r6: HistoryQualifier.qualify() calls self.date_table() — the
    nested same-owner call must NOT release the planes the outer call
    already leased (only a top-level call releases)."""
    from edsnlp_spark.core import caching
    caching.release()
    owner = object()
    with caching.lease(owner):
        df1 = caching.persist(spark.range(3).toDF("a"))
        with caching.lease(owner):
            caching.persist(spark.range(4).toDF("b"))
        assert caching.tracked_scopes() == {"object": 2}
        assert df1.storageLevel.useMemory or df1.storageLevel.useDisk
    # a fresh top-level call releases both
    with caching.lease(owner):
        pass
    assert caching.tracked_scopes() == {}


def test_entities_grouped_matches_flat_path(spark):
    """r4: RegexMatcher.entities_grouped (per-note Arrow output) must
    carry exactly the flat Arrow path's matches, plus the source text."""
    from edsnlp_spark.operators.matcher import RegexMatcher
    texts = [
        "vu le 12/04/1995 et revu 03.05.2021 pour controle",
        "aucun motif temporel ici",
        "MAJUSCULES et Le 5 janvier 2020, puis hier soir",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "note_id long, note_text string")
    m = RegexMatcher(
        {"num": [r"\d{1,2}[/.]\d{1,2}[/.]\d{4}"],
         "word": [r"\b(janvier|hier)\b"]},
        attr="NORM", span_type="date")
    flat = {}
    for r in m.entities(df).collect():
        flat.setdefault(r.note_id, []).append(
            (r.start_char, r.end_char, r.label, r.lexical_variant))
    grouped = {}
    for r in m.entities_grouped(df).collect():
        assert r["__text"] == texts[r.note_id]
        grouped[r.note_id] = sorted(
            (s.start_char, s.end_char, s.label, s.lexical_variant)
            for s in r.ms)
    assert {k: sorted(v) for k, v in flat.items()} == grouped
    assert 1 not in grouped and 3 not in grouped  # no-match/null rows absent


def test_memo_column_keys_isolate_configs(spark):
    """r4 memoization soundness: different configs must NOT share a
    cached expression tree (a stale-key bug would silently reuse the
    wrong tree).  Exercised through SentenceSegmenter configs and the
    raw memo API."""
    from edsnlp_spark.functions.memo import memo_column
    from pyspark.sql import functions as F
    c1 = memo_column(("t", 1), lambda: F.lit(1))
    c2 = memo_column(("t", 2), lambda: F.lit(2))
    c1_again = memo_column(("t", 1), lambda: F.lit(99))
    row = spark.range(1).select(c1.alias("a"), c2.alias("b"),
                                c1_again.alias("c")).collect()[0]
    assert (row.a, row.b, row.c) == (1, 2, 1)  # cached, not rebuilt

    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    df = spark.createDataFrame(
        [(0, "un. deux! trois")], "note_id long, note_text string")
    toks = Tokenizer().transform(df)
    dots = SentenceSegmenter(punct_chars=(".",), check_capitalized=False) \
        .transform(toks).collect()[0].sentences
    bangs = SentenceSegmenter(punct_chars=("!",), check_capitalized=False) \
        .transform(toks).collect()[0].sentences
    assert dots != bangs  # different configs -> different trees


def test_memo_lru_cap(spark):
    """r6 (VERDICT r5 #4): the memo cache is a bounded LRU — a sweep of
    N >> cap distinct configs holds at most MEMO_CAP entries, hot keys
    survive the sweep longer than cold ones, and a full
    caching.release() clears it."""
    from pyspark.sql import functions as F

    from edsnlp_spark.core import caching
    from edsnlp_spark.functions import memo
    memo.memo_clear()
    assert memo.MEMO_CAP >= 256
    memo.memo_column(("lru", "hot"), lambda: F.lit(0))
    for i in range(memo.MEMO_CAP + 100):
        memo.memo_column(("lru", "hot"), lambda: F.lit(-1))  # keep hot
        memo.memo_column(("lru", i), lambda: F.lit(1))
    assert memo.memo_size() <= memo.MEMO_CAP
    # hot key was never evicted (builder would have returned -1)
    hot = memo.memo_column(("lru", "hot"), lambda: F.lit(-1))
    assert spark.range(1).select(hot.alias("v")).collect()[0].v == 0
    caching.release()
    assert memo.memo_size() == 0


def test_memo_session_token_not_id_reuse(spark):
    """r6 (ADVICE r4 #1): memo keys use a per-gateway token from a
    weak-key map, not id(gateway) — a NEW gateway object gets a fresh
    token even when CPython reuses the freed gateway's address, so a
    stop/restart cycle can never serve a stale py4j handle."""
    import gc

    from edsnlp_spark.functions import memo

    class FakeGateway:
        pass

    g1 = FakeGateway()
    t1 = memo._TOKENS.get(g1)
    assert t1 is None
    memo._TOKENS[g1] = next(memo._NEXT_TOKEN)
    t1 = memo._TOKENS[g1]
    addr = id(g1)
    del g1
    gc.collect()
    # allocate until we (likely) reuse the address; even when we don't,
    # the weak-key map guarantees a miss for any NEW object
    g2 = None
    for _ in range(1000):
        cand = FakeGateway()
        if id(cand) == addr:
            g2 = cand
            break
    g2 = g2 or FakeGateway()
    assert memo._TOKENS.get(g2) is None  # no stale token served
    # and the real token path hands out distinct tokens per object
    memo._TOKENS[g2] = next(memo._NEXT_TOKEN)
    assert memo._TOKENS[g2] != t1


def test_duplicated_windows_planted_span(spark):
    """r6 (Lee et al. 2022 exact-substring dedup): a 5-token span copied
    into two otherwise-different docs is flagged at the right positions
    in BOTH docs; unique text yields nothing; a doc shorter than n has
    no windows."""
    from edsnlp_spark.operators.dedup import duplicated_windows

    span = "alpha beta gamma delta epsilon"
    rows = [
        (1, "x1 y1 " + span + " z1"),          # span at pos 2
        (2, span + " q2 r2 s2"),               # span at pos 0
        (3, "all unique tokens here nothing repeated across docs"),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["pos"]): r["occurrences"]
           for r in duplicated_windows(docs, n=5).collect()}
    assert got == {(1, 2): 2, (2, 0): 2}


def test_duplicated_windows_guards(spark):
    """r7 (ADVICE r6 #4): n=1 raises (the consuming pass would miss the
    final token's window); leading/doubled-space text fails LOUDLY
    instead of silently desyncing pos; max_df drops ultra-hot hashes
    from the output while ordinary duplicates survive."""
    import pytest

    from edsnlp_spark.operators.dedup import duplicated_windows

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n >= 2"):
        duplicated_windows(docs, n=1)

    bad = spark.createDataFrame(
        [(1, "a  b c d e"), (2, "a b c d e")], "doc_id long, text string")
    with pytest.raises(Exception, match="single-space"):
        duplicated_windows(bad, n=2).collect()
    lead = spark.createDataFrame(
        [(1, " a b c"), (2, "a b c")], "doc_id long, text string")
    with pytest.raises(Exception, match="single-space"):
        duplicated_windows(lead, n=2).collect()

    # hot span in 4 docs, moderate span in 2 — max_df=3 keeps only the
    # moderate one
    hot, mod = "h1 h2 h3", "m1 m2 m3"
    rows = [(i, hot + f" u{i}") for i in range(4)]
    rows += [(10, mod + " v1"), (11, mod + " v2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["pos"]): r["occurrences"]
           for r in duplicated_windows(df, n=3, max_df=3).collect()}
    assert got == {(10, 0): 2, (11, 0): 2}


def test_bpe_train_matches_reference_algorithm(spark):
    """r7 (Sennrich et al. 2016): the distributed BPE trainer must
    produce the EXACT merge sequence of the paper's algorithm (pure
    Python on the word-frequency table; ties -> lexicographic smallest
    pair), stop early when no pair repeats, and bpe_encode must replay
    the merges so that stripping </w> and joining reconstructs the
    original text."""
    from collections import Counter

    import pytest

    from edsnlp_spark.operators.bpe import bpe_encode, bpe_train

    def py_bpe(texts, n):
        vocab = Counter()
        for t in texts:
            for w in t.split(" "):
                if w:
                    vocab[tuple(list(w) + ["</w>"])] += 1
        merges = []
        for _ in range(n):
            pairs = Counter()
            for sym, f in vocab.items():
                for a, b in zip(sym, sym[1:]):
                    pairs[(a, b)] += f
            if not pairs or max(pairs.values()) < 2:
                break
            mc = max(pairs.values())
            best = min(p for p, c in pairs.items() if c == mc)
            merges.append(best)
            nv = Counter()
            for sym, f in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                        out.append(sym[i] + sym[i + 1])
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                nv[tuple(out)] += f
            vocab = nv
        return merges

    texts = ["low lower lowest low low", "newer newest new wider wide",
             "low new wide wider lowest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = bpe_train(docs, n_merges=12)
    assert got == py_bpe(texts, 12)

    # early stop: every pair unique -> no merges at all
    uniq = spark.createDataFrame([(0, "ab cd ef")], "doc_id long, text string")
    assert bpe_train(uniq, n_merges=5) == []
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, n_merges=0)

    # encode roundtrip: strip </w>, drop spaces inside words -> original
    enc = {r["doc_id"]: r["tokens"]
           for r in bpe_encode(docs, got).collect()}
    for i, t in enumerate(texts):
        rebuilt = "".join(enc[i]).replace("</w>", " ").rstrip()
        assert rebuilt == t, (i, enc[i])


def test_bpe_encode_arrow_matches_expr(spark):
    """r8 (VERDICT r7 #4): the Arrow encode path (merge table as data,
    per-word memoized sequential replay) must be row-identical to the
    expression path — including multi-space / empty-word / trailing-
    space edges and merges whose output symbol re-pairs under a later
    merge."""
    from edsnlp_spark.operators.bpe import bpe_encode, bpe_train

    texts = [
        "low lower lowest low low",
        "newer newest new wider wide",
        "aaa aaaa aa a",                 # (a,a) self-overlap greediness
        "low  lower", "  padded", "trail ",  # empty words
        "élevé élève élégant élevé",     # non-ASCII chars
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=20)
    assert len(merges) >= 10
    expr = {r["doc_id"]: r["tokens"]
            for r in bpe_encode(docs, merges, engine="expr").collect()}
    arrow = {r["doc_id"]: r["tokens"]
             for r in bpe_encode(docs, merges, engine="arrow").collect()}
    assert expr == arrow

    import pytest
    with pytest.raises(ValueError, match="engine"):
        bpe_encode(docs, merges, engine="nope")


def test_bpe_encode_arrow_null_text_mirrors_expr(spark):
    """ADVICE r8 #2: a NULL text must propagate a null tokens row on
    BOTH engines (the arrow path used to crash the task with
    AttributeError on .split)."""
    from edsnlp_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(0, "low lower"), (1, None), (2, "")],
        "doc_id long, text string")
    merges = [("l", "o"), ("lo", "w")]
    expr = {r["doc_id"]: r["tokens"]
            for r in bpe_encode(docs, merges, engine="expr").collect()}
    arrow = {r["doc_id"]: r["tokens"]
             for r in bpe_encode(docs, merges, engine="arrow").collect()}
    assert expr == arrow
    assert expr[1] is None


def test_bpe_encode_arrow_scales_past_expression_cliff(spark):
    """A 1200-merge table (well past the ~few-hundred-merge expression
    cliff) encodes via auto-selected Arrow in one pass; sanity via an
    independently computed reference encoding of one doc."""
    from edsnlp_spark.operators.bpe import (
        EXPR_PATH_MAX_MERGES, _encode_word, bpe_encode)

    # synthetic but REPLAY-meaningful merge table: chains that build up
    # long runs, plus pairs over the doc alphabet
    merges = [("a", "a")]
    for i in range(599):
        merges.append((merges[-1][0] + merges[-1][1], "a")
                      if i % 3 == 0 else ("a", "b"))
    merges += [("b", "c"), ("c", "d"), ("bc", "d"), ("a", "bcd")] * 150
    merges = merges[:1200]
    assert len(merges) > EXPR_PATH_MAX_MERGES

    texts = ["aaaa ab abcd bcd xyz", "aaaaaaa abcdabcd b c d"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: r["tokens"]
           for r in bpe_encode(docs, merges).collect()}  # auto -> arrow
    for i, t in enumerate(texts):
        want = []
        for w in t.split(" "):
            want.extend(_encode_word(w, merges, "</w>"))
        assert got[i] == want


def test_bpe_train_holds_bounded_planes(spark):
    """ADVICE r7 #1: bpe_train must retire each iteration's vocab plane
    once its successor is materialized — at most ~2 cached planes at
    any time, not one per merge — and unpersist the rest on return
    (the planes are round-local: the merges list is all it returns)."""
    from edsnlp_spark.core import caching
    from edsnlp_spark.operators.bpe import bpe_train

    texts = ["low lower lowest low low", "newer newest new wider wide"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    merges = bpe_train(docs, n_merges=12)
    assert len(merges) == 12
    assert caching.tracked_scopes().get("bpe_train", 0) == 0, \
        caching.tracked_scopes()


def test_chunk_documents_semantics(spark):
    """r8: sliding-window chunking — full coverage, stride overlap,
    short-doc single chunk, tail chunk shorter, reassembly property
    (dropping each chunk's first `overlap` tokens after chunk 0
    reconstructs the doc), and config validation."""
    import pytest

    from edsnlp_spark.operators.packing import chunk_documents

    toks = [f"t{i}" for i in range(23)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c")], "doc_id long, text string")
    out = chunk_documents(docs, chunk_size=10, overlap=4)
    rows = sorted(((r.doc_id, r.chunk_id, r.start_tok, r.n_tok,
                    r.chunk_text) for r in out.collect()))
    # doc 1: n=23, stride=6 -> ceil((23-10)/6)+1 = 4 chunks
    d1 = [r for r in rows if r[0] == 1]
    assert [(r[2], r[3]) for r in d1] == [(0, 10), (6, 10), (12, 10),
                                          (18, 5)]
    assert d1[0][4] == " ".join(toks[0:10])
    assert d1[3][4] == " ".join(toks[18:23])
    # reassembly: chunk 0 + later chunks minus their overlap prefix
    rebuilt = d1[0][4].split(" ")
    for r in d1[1:]:
        rebuilt.extend(r[4].split(" ")[4:])
    assert rebuilt == toks
    # short doc: one chunk, verbatim
    d2 = [r for r in rows if r[0] == 2]
    assert d2 == [(2, 0, 0, 3, "a b c")]
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_size=4, overlap=4)


def test_strip_duplicated_spans_semantics(spark):
    """r7 (Lee et al. 2022 §3, the removal half): the first occurrence
    (min (doc, pos)) of a duplicated window survives, every other
    occurrence's token range is cut, overlapping cuts merge, untouched
    docs pass through verbatim, and a self-repeating doc collapses to
    its first window remnant."""
    from edsnlp_spark.operators.dedup import strip_duplicated_spans

    span = "alpha beta gamma delta epsilon"
    rows = [
        (1, "x1 y1 " + span + " z1"),    # keeper at (1, 2)
        (2, span + " q2 r2 s2"),         # removed at pos 0..4
        (3, "all unique tokens here nothing repeated"),
        (4, "a a a a a a"),              # n=5: windows at 0 and 1 equal
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_removed"])
           for r in strip_duplicated_spans(docs, n=5).collect()}
    assert got == {
        1: ("x1 y1 " + span + " z1", 0),
        2: ("q2 r2 s2", 5),
        3: ("all unique tokens here nothing repeated", 0),
        4: ("a", 5),   # covered idx 1..5 (window at pos 1)
    }


def test_duplicated_windows_skew_immune_plan(spark):
    """r7 (VERDICT r6 #2): the occurrence count must be a groupBy
    (partial map-side aggregation — a planted million-fold boilerplate
    hash contributes ONE row per task to the shuffle), never a
    Window.partitionBy('h') count that lands every occurrence of the
    hot hash on a single task."""
    from edsnlp_spark.operators.dedup import duplicated_windows

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    out = duplicated_windows(docs, n=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # partial-then-final hash aggregate over h
    assert "partial_count" in plan or "HashAggregate" in plan
    out.count()
    from edsnlp_spark.core import caching
    caching.release()


def test_bigram_logppl_hand_computed(spark, tmp_path):
    """r6: interpolated bigram NLL matches a hand-derived model on a
    3-doc corpus — the repeated bigram scores lower NLL than unseen-ish
    transitions, and interpolation keeps every seen token finite."""
    import math

    from edsnlp_spark.queries.textops import bigram_logppl

    texts = ["a b a b", "a b c", "c a"]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")
    p = tmp_path / "documents.parquet"
    docs.write.parquet(str(p))
    out = {r["doc_id"]: (r["n_bigrams"], r["nll"])
           for r in bigram_logppl(spark, str(tmp_path)).collect()}

    # corpus: unigrams a:4 b:3 c:2 (tot 9);
    # bigrams: 'a b':3, 'b a':1, 'b c':1, 'c a':1
    uni = {"a": 4, "b": 3, "c": 2}
    big = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1, ("c", "a"): 1}

    def nll(pairs):
        vals = [-math.log(0.9 * (big[(p_, c)] / uni[p_])
                          + 0.1 * (uni[c] / 9.0)) for p_, c in pairs]
        return round(sum(vals) / len(vals), 4)

    assert out[0] == (3, nll([("a", "b"), ("b", "a"), ("a", "b")]))
    assert out[1] == (2, nll([("a", "b"), ("b", "c")]))
    assert out[2] == (1, nll([("c", "a")]))
    # the frequent transition really is cheaper than the rare one
    assert out[0][1] < out[1][1]


def test_bpe_train_batched_differential(spark):
    """r9 (VERDICT r8 #4): the batched trainer must (a) equal the
    exact sequential trainer when rounds' top pairs don't interact,
    (b) degenerate to the exact algorithm at batch=1, (c) within every
    round adopt only pairwise-disjoint symbol sets, and (d) yield an
    encoding-equivalent tokenizer even on an adversarial corpus where
    batching resequences a created pair."""
    import pytest

    from edsnlp_spark.operators.bpe import (
        bpe_encode, bpe_train, bpe_train_batched)

    # (a) genuinely non-interacting corpus: single-char words (every
    # pair is (x, </w>) — merging one creates NO new pair), distinct
    # frequencies.  All pairs share </w>, so disjointness forces one
    # adoption per round and batched == sequential exactly.
    flat = " ".join(
        " ".join([ch] * freq)
        for ch, freq in [("a", 9), ("b", 8), ("c", 7), ("d", 6),
                         ("e", 5), ("f", 4), ("g", 3), ("h", 2)])
    ni = spark.createDataFrame([(0, flat)], "doc_id long, text string")
    assert bpe_train_batched(ni, n_merges=8, batch=4) \
        == bpe_train(ni, n_merges=8) \
        == [(ch, "</w>") for ch in "abcdefgh"]

    # (b) batch=1 is the exact algorithm on a chain-heavy corpus too
    texts = ["low lower lowest low low", "newer newest new wider wide",
             "low new wide wider lowest", "ab ab ab cd cd ef"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    seq = bpe_train(docs, n_merges=12)
    assert bpe_train_batched(docs, n_merges=8, batch=1) == seq[:8]
    bat = bpe_train_batched(docs, n_merges=12, batch=4)

    # (c) per-round disjointness: replay rounds of 4 and check symbol
    # sets within each round never intersect — operands AND outputs
    # (ADVICE r9 #1: an output colliding with a later operand, or an
    # operand with a later output, would chain inside the single fold)
    for r in range(0, len(bat), 4):
        used: set[str] = set()
        for left, right in bat[r:r + 4]:
            assert left not in used and right not in used \
                and (left + right) not in used, bat[r:r + 4]
            used.update((left, right, left + right))

    # (d) adversarial: 'aaab...' makes ('aa','a') / ('a','b') style
    # created pairs outrank round tails — sequences may differ, but
    # the learned tokenizer must still reconstruct the corpus
    adv = spark.createDataFrame(
        [(0, "aaaa aaab aab ab b aaaa aaab"), (1, "aaaa ab aab aaab")],
        "doc_id long, text string")
    bat_adv = bpe_train_batched(adv, n_merges=10, batch=4)
    enc = {r["doc_id"]: r["tokens"]
           for r in bpe_encode(adv, bat_adv).collect()}
    for i, t in (0, "aaaa aaab aab ab b aaaa aaab"), (1, "aaaa ab aab aaab"):
        assert "".join(enc[i]).replace("</w>", " ").rstrip() == t

    with pytest.raises(ValueError, match="batch >= 1"):
        bpe_train_batched(docs, n_merges=4, batch=0)
    with pytest.raises(ValueError, match="n_merges"):
        bpe_train_batched(docs, n_merges=0)


def test_bpe_adopt_disjoint_output_collision():
    """ADVICE r9 #1 directly on the adoption scan: a candidate whose
    OUTPUT equals an earlier-adopted operand (('ab','c') -> 'abc' after
    ('abc','d')) must be skipped, as must the reverse direction (a
    candidate whose operand equals an earlier output)."""
    from edsnlp_spark.operators.bpe import _adopt_disjoint

    # output-of-later == operand-of-earlier: ('ab','c') skipped
    assert _adopt_disjoint(
        [("abc", "d"), ("ab", "c"), ("x", "y")], want=3) \
        == [("abc", "d"), ("x", "y")]
    # operand-of-later == output-of-earlier: ('abc','e') skipped
    assert _adopt_disjoint(
        [("ab", "c"), ("abc", "e"), ("x", "y")], want=3) \
        == [("ab", "c"), ("x", "y")]
    # plain operand overlap still skipped; want caps adoption
    assert _adopt_disjoint(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")], want=2) \
        == [("a", "b"), ("c", "d")]


def test_ner_linear_crf_matches_python_viterbi(spark):
    """r9 (VERDICT r8 #5): the numpy linear+CRF head must equal a
    hand-written pure-Python Viterbi over the same integer weights,
    never emit I-initial spans (the CRF constraint), and differ from
    greedy per-token argmax where the transition matrix makes a path
    globally better — i.e. the CRF is real, not a thresholded tagger."""
    import hashlib

    from edsnlp_spark.operators.trainable import (
        NER_CRF_B, NER_CRF_START, NER_CRF_T, NER_CRF_W, ner_linear_crf)

    def feats(t):
        return list(hashlib.md5(t.encode()).digest()[:4])

    def logits(t):
        e = feats(t)
        return [sum(w * x for w, x in zip(NER_CRF_W[s], e)) + NER_CRF_B[s]
                for s in range(3)]

    def py_viterbi(toks):
        ls = [logits(t) for t in toks]
        dp = [[NER_CRF_START[s] + ls[0][s] for s in range(3)]]
        bp = [[0] * 3]
        for i in range(1, len(toks)):
            row, brow = [], []
            for s in range(3):
                cand = [dp[-1][p] + NER_CRF_T[p][s] for p in range(3)]
                m = max(cand)
                brow.append(cand.index(m))     # first max == np.argmax
                row.append(m + ls[i][s])
            dp.append(row)
            bp.append(brow)
        s = dp[-1].index(max(dp[-1]))
        path = [s]
        for i in range(len(toks) - 1, 0, -1):
            s = bp[i][s]
            path.append(s)
        return path[::-1]

    def py_spans(text):
        toks = text.split(" ")
        path = py_viterbi(toks)
        starts, cur = [], 0
        for t in toks:
            starts.append(cur)
            cur += len(t) + 1
        out, i = [], 0
        while i < len(toks):
            if path[i] == 1:
                j = i + 1
                while j < len(toks) and path[j] == 2:
                    j += 1
                out.append((starts[i], starts[j - 1] + len(toks[j - 1]),
                            " ".join(toks[i:j]), i, j))
                i = j
            else:
                i += 1
        return out

    texts = [" ".join(f"tok{i * 7 + j}" for j in range(1 + i % 23))
             for i in range(40)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "note_id long, note_text string")
    got = sorted(
        (r.note_id, r.start_char, r.end_char, r.lexical_variant,
         r.tok_start, r.tok_end)
        for r in ner_linear_crf(docs).collect())
    want = sorted(
        (i, s, e, lex, ts, te)
        for i, t in enumerate(texts)
        for (s, e, lex, ts, te) in py_spans(t))
    assert got == want

    # CRF constraint: every span starts with a B state by construction;
    # and the transition bonus must produce at least one multi-token
    # span somewhere (I states reachable only after B)
    assert any(te - ts >= 2 for *_, ts, te in got)

    # Viterbi vs greedy: find a token sequence where per-token argmax
    # disagrees with the CRF path (transition-driven smoothing)
    def greedy(toks):
        return [max(range(3), key=lambda s: (logits(t)[s], -s))
                for t in toks]

    diff = [t for t in texts
            if greedy(t.split(" ")) != py_viterbi(t.split(" "))]
    assert diff, "transitions never changed a decode — CRF is vacuous"


def _sep_corpus():
    """Separable NER corpus with a WIDE margin: tokens are mined so
    their first md5 byte is <= 30 or >= 220 (entity iff >= 220), which
    keeps the Collins 2002 convergence bound (R / gamma)^2 at a few
    dozen updates — a boundary at byte < 100 is separable too, but
    with a 0.5-byte margin over a 255-byte feature range the bound is
    ~1e6 updates and a bounded-epoch test would flake.  Consecutive
    entity tokens form multi-token spans (B then I), so transitions
    and the I state train too."""
    import hashlib

    def byte0(t):
        return hashlib.md5(t.encode()).digest()[0]

    texts, spans = [], []
    k = 0
    for i in range(24):
        toks = []
        while len(toks) < 8:
            t = f"w{k}"
            k += 1
            if byte0(t) <= 30 or byte0(t) >= 220:
                toks.append(t)
        texts.append((i, " ".join(toks)))
        j = 0
        while j < len(toks):
            if byte0(toks[j]) >= 220:
                e = j + 1
                while e < len(toks) and byte0(toks[e]) >= 220:
                    e += 1
                spans.append((i, j, e))
                j = e
            else:
                j += 1
    return texts, spans


def test_ner_perceptron_single_partition_matches_python(spark):
    """r9: one-partition distributed training == a pure-Python
    sequential perceptron sweep over the same sorted doc order,
    bit-for-bit (the mixing average over one shard is identity)."""
    import hashlib

    import numpy as np

    from edsnlp_spark.operators.trainable import (
        _md5_features, _perceptron_pass, train_ner_perceptron)

    texts, spans = _sep_corpus()
    notes = spark.createDataFrame(
        texts, "note_id long, note_text string")
    gold = spark.createDataFrame(
        spans, "note_id long, tok_start int, tok_end int")

    W, b, s0, T, hist = train_ner_perceptron(notes, gold, n_epochs=3,
                                             n_shards=1)

    # python model: same docs sorted by id, same epochs
    docs = []
    by_id = dict(texts)
    sp_by_id: dict[int, list[tuple[int, int]]] = {}
    for i, ts, te in spans:
        sp_by_id.setdefault(i, []).append((ts, te))
    for i in sorted(by_id):
        toks = by_id[i].split(" ")
        g = np.zeros(len(toks), dtype=np.int64)
        for ts, te in sp_by_id.get(i, []):
            g[ts] = 1
            g[ts + 1:te] = 2
        docs.append((toks, g))
    Wp = np.zeros((3, 4)); bp = np.zeros(3)
    sp = np.zeros(3); Tp = np.zeros((3, 3))
    errs = []
    for _ in range(3):
        errs.append(_perceptron_pass(docs, Wp, bp, sp, Tp, dim=4,
                                     scale=1.0 / 255.0))
        if errs[-1] == 0:
            break
    assert hist == errs
    assert np.array_equal(np.array(W), Wp)
    assert np.array_equal(np.array(b), bp)
    assert np.array_equal(np.array(s0), sp)
    assert np.array_equal(np.array(T), Tp)


def test_doc_classifier_three_classes(spark):
    """r10: train_doc_classifier is genuinely multiclass — a 3-way
    planted corpus (original / consonant-swap / vowel-swap) trains to
    >= 95% held-out accuracy, the integer scorer emits one score per
    class, and first-max ties break to the lowest class on both the
    float and the quantized decision."""
    from pyspark.sql import functions as F

    from edsnlp_spark.operators.trainable import (
        classify_docs, quantize_linear, train_doc_classifier)

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    variant = (
        F.when(F.col("doc_id") % 3 == 1,
               F.translate("text", "etaoins", "zqxjkvw"))
        .when(F.col("doc_id") % 3 == 2,
              F.translate("text", "aeiou", "uoiea"))
        .otherwise(F.col("text"))
    )
    corpus = d.select("doc_id", variant.alias("text"),
                      (F.col("doc_id") % 3).cast("int").alias("label"))
    train = corpus.filter(F.col("doc_id") % 5 != 4)
    W, b, _ = train_doc_classifier(train, n_classes=3, n_epochs=8,
                                   n_shards=4)
    Wq, bq = quantize_linear(W, b)
    pred = classify_docs(corpus, Wq, bq,
                         class_names=["en", "xx", "yy"]) \
        .filter(F.col("doc_id") % 5 == 4).collect()
    assert {r["pred_name"] for r in pred} <= {"en", "xx", "yy"}
    acc = sum(int(r["pred"] == r["doc_id"] % 3) for r in pred) / len(pred)
    assert acc >= 0.95, acc
    # all-zero weights -> every score 0 -> first-max tie -> class 0
    Z = [[0] * 64 for _ in range(3)]
    row = classify_docs(
        spark.createDataFrame([(1, "abcdef")], "doc_id long, text string"),
        Z, [0, 0, 0]).first()
    assert row["pred"] == 0


def test_langid_trained_beats_heuristic(spark):
    """r10 (VERDICT r9 brief #5): the trained char-trigram classifier
    must beat the stopword-vote heuristic on the planted bilingual set
    — the heuristic has no list for the unseen 'xx' language, so its
    accuracy is capped at 50%; the trained model (runtime-trained here,
    deterministic) must be >= 95% on the held-out fifth.  Also pins the
    integer scorer == the float decision on this corpus."""
    from pyspark.sql import functions as F

    from edsnlp_spark.operators.trainable import (
        classify_docs, quantize_linear, train_doc_classifier)
    from edsnlp_spark.queries.textops import lang_id_heuristic

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1,
               F.translate("text", "etaoins", "zqxjkvw"))
         .otherwise(F.col("text")).alias("text"),
        (F.col("doc_id") % 2).cast("int").alias("label"))
    train = corpus.filter(F.col("doc_id") % 5 != 4)
    W, b, hist = train_doc_classifier(train, n_classes=2, n_epochs=5,
                                      n_shards=8)
    Wq, bq = quantize_linear(W, b)
    pred = classify_docs(corpus, Wq, bq, class_names=["en", "xx"]) \
        .filter(F.col("doc_id") % 5 == 4).collect()
    acc = sum(int(r["pred"] == r["doc_id"] % 2) for r in pred) / len(pred)

    # the heuristic scores the SAME planted corpus: its prediction for
    # a true-'xx' doc can never be 'xx' (no stopword list exists)
    heur = {r["doc_id"]: r["pred_lang"]
            for r in lang_id_heuristic(spark, sf).collect()}
    # heuristic sees original text for even ids; for odd (xx) ids it is
    # wrong BY CONSTRUCTION whatever it answers
    truth = {r["doc_id"]: ("en" if r["doc_id"] % 2 == 0 else "xx")
             for r in pred}
    heur_acc = sum(int(heur[i] == truth[i]) for i in truth) / len(truth)

    assert acc >= 0.95, f"trained held-out accuracy {acc}"
    assert acc > heur_acc, (acc, heur_acc)
    assert heur_acc <= 0.5  # the unseen language is unanswerable


def test_quantize_crf_params_integer_decode(spark):
    """r10 (VERDICT r9 #2): quantizing a trained float head onto the
    2^16 integer grid (feature scale folded in) must (a) yield pure
    Python ints — SQL-literal-ready — and (b) preserve the decode on
    the wide-margin corpus (quantization error ~2^-16 relative, far
    below the margin), while switching ner_linear_crf to the
    oracle-exact int64 dp path."""
    from edsnlp_spark.operators.trainable import (
        ner_linear_crf, quantize_crf_params, train_ner_perceptron)

    texts, spans = _sep_corpus()
    notes = spark.createDataFrame(texts, "note_id long, note_text string")
    gold = spark.createDataFrame(
        spans, "note_id long, tok_start int, tok_end int")
    W, b, s0, T, hist = train_ner_perceptron(notes, gold, n_epochs=30,
                                             n_shards=4, average=True)
    Wq, bq, s0q, Tq = quantize_crf_params(W, b, s0, T)
    flat = [x for row in Wq for x in row] + bq + s0q \
        + [x for row in Tq for x in row]
    assert all(type(x) is int for x in flat)

    fp = {(r.note_id, r.tok_start, r.tok_end)
          for r in ner_linear_crf(notes, weights=W, bias=b, start=s0,
                                  transitions=T,
                                  feature_scale=1.0 / 255.0).collect()}
    qp = {(r.note_id, r.tok_start, r.tok_end)
          for r in ner_linear_crf(notes, weights=Wq, bias=bq, start=s0q,
                                  transitions=Tq,
                                  feature_scale=None).collect()}
    assert qp == fp


def test_ner_perceptron_averaged_on_noisy_silver(spark):
    """r10 (VERDICT r9 brief #6): Collins averaging must beat the raw
    endpoint on NON-separable silver data — the distillation regime.
    Noise: for docs i%3==0 every span is shifted one token left,
    injecting contradictory boundary evidence so the endpoint
    oscillates epoch-to-epoch while the trajectory average stays near
    the good region.  Training is fully deterministic (explicit
    shards, sorted order), so these are pinned constants, not a
    statistical claim.  Measured at 8 epochs: plain F1 0.31 (4 shards)
    / 0.78 (2 shards) vs averaged 0.73 / 0.88."""
    from edsnlp_spark.operators.trainable import (
        ner_linear_crf, train_ner_perceptron)

    texts, spans = _sep_corpus()
    noisy = [(i, ts - 1, te - 1) if i % 3 == 0 and ts > 0 else (i, ts, te)
             for (i, ts, te) in spans]
    notes = spark.createDataFrame(texts, "note_id long, note_text string")
    silver = spark.createDataFrame(
        noisy, "note_id long, tok_start int, tok_end int")
    gold_clean = set(spans)

    def f1(params):
        W, b, s0, T, _ = params
        pred = {(r.note_id, r.tok_start, r.tok_end)
                for r in ner_linear_crf(
                    notes, weights=W, bias=b, start=s0, transitions=T,
                    feature_scale=1.0 / 255.0).collect()}
        tp = len(pred & gold_clean)
        return 2 * tp / (2 * tp + len(pred - gold_clean)
                         + len(gold_clean - pred)) if tp else 0.0

    for shards in (2, 4):
        plain = f1(train_ner_perceptron(
            notes, silver, n_epochs=8, n_shards=shards))
        avg = f1(train_ner_perceptron(
            notes, silver, n_epochs=8, n_shards=shards, average=True))
        assert avg >= plain, f"shards={shards}: avg {avg} < plain {plain}"
        assert avg >= 0.7, f"shards={shards}: averaged F1 degraded: {avg}"


def test_ner_perceptron_converges_and_decodes_gold(spark):
    """r9: on the separable corpus, parameter-mixed training over 4
    partitions reaches zero errors (McDonald et al. 2010 keep the
    convergence guarantee) and the TRAINED head reproduces the gold
    spans exactly through ner_linear_crf — training-to-inference,
    end-to-end, no torch."""
    from edsnlp_spark.operators.trainable import (
        ner_linear_crf, train_ner_perceptron)

    texts, spans = _sep_corpus()
    notes = spark.createDataFrame(
        texts, "note_id long, note_text string")
    gold = spark.createDataFrame(
        spans, "note_id long, tok_start int, tok_end int")
    W, b, s0, T, hist = train_ner_perceptron(notes, gold, n_epochs=30,
                                             n_shards=4)
    assert hist[-1] == 0, f"did not converge: {hist}"

    pred = {(r.note_id, r.tok_start, r.tok_end)
            for r in ner_linear_crf(
                notes, weights=W, bias=b, start=s0, transitions=T,
                feature_scale=1.0 / 255.0)
            .collect()}
    assert pred == set(spans)


def test_negation_distillation_heldout_floor(spark):
    """r11 (VERDICT r10 #5): the distilled negation head — integer
    perceptron over distance-tagged window features, taught by the
    rule-based QualifierEngine — must reach F1 >= 0.70 on held-out
    docs (measured ~0.78 at sf0.01; the plain-window bag model
    plateaus at 0.73, distance tags make recency lexical)."""
    from edsnlp_spark.queries.advanced import negation_distillation_eval

    row = negation_distillation_eval(
        spark, "/root/testdata/sf0.01").collect()[0]
    assert row["tp"] + row["fn"] > 100  # enough positives to mean it
    assert row["f1"] >= 0.70, row
    assert row["accuracy"] >= 0.65, row


def test_incremental_components_equals_full(spark):
    """r11 (VERDICT r10 #6): folding a batch of edges into persisted
    (id, comp) labels via component contraction must equal a full
    recompute over the union — on random graphs, across 3 sequential
    batches."""
    import random

    from edsnlp_spark.operators.dedup import (connected_components,
                                              incremental_components)

    rnd = random.Random(23)
    all_edges = sorted({(rnd.randrange(40), rnd.randrange(40))
                        for _ in range(70)})
    all_edges = [(a, b) for a, b in all_edges if a != b]
    chunks = [all_edges[:30], all_edges[30:45], all_edges[45:]]

    base = spark.createDataFrame(chunks[0], "id_a long, id_b long")
    labels = connected_components(base).select("id", "comp")
    seen = list(chunks[0])
    for chunk in chunks[1:]:
        batch = spark.createDataFrame(chunk, "id_a long, id_b long")
        labels = incremental_components(labels, batch) \
            .localCheckpoint(eager=True)
        seen += chunk
        full = connected_components(
            spark.createDataFrame(seen, "id_a long, id_b long"))
        got = {r.id: r.comp for r in labels.collect()}
        want = {r.id: r.comp for r in full.collect()}
        assert got == want


def test_components_index_update_rewrites_only_affected(spark, tmp_path):
    """The persisted label index updates in place: only partitions
    whose components the batch touches are rewritten, stale source
    partitions are dropped, and the folded table equals a full
    recompute."""
    import os

    from edsnlp_spark.operators.dedup import (components_index_build,
                                              components_index_update,
                                              connected_components)

    path = str(tmp_path / "cidx")
    base_edges = [(1, 2), (3, 4), (10, 11), (20, 21)]
    base = spark.createDataFrame(base_edges, "id_a long, id_b long")
    components_index_build(connected_components(base), path,
                           n_buckets=8)
    files_before = {
        d: sorted(os.listdir(os.path.join(path, "labels", d)))
        for d in os.listdir(os.path.join(path, "labels"))
        if d.startswith("bucket=")
    }
    # batch: merge comp(3)=3 into comp(1)=1, add new node 50 linked
    # to 20's component
    batch = spark.createDataFrame([(2, 4), (50, 21)],
                                  "id_a long, id_b long")
    components_index_update(spark, path, batch)
    got = {r.id: r.comp for r in
           spark.read.parquet(f"{path}/labels")
           .select("id", "comp").collect()}
    full = connected_components(spark.createDataFrame(
        base_edges + [(2, 4), (50, 21)], "id_a long, id_b long"))
    want = {r.id: r.comp for r in full.collect()}
    assert got == want
    # the (10, 11) component was untouched: its partition files are
    # byte-identical on disk
    import pyspark.sql.functions as SF
    b1011 = spark.createDataFrame([(10,)], "c long").select(
        SF.pmod(SF.xxhash64("c"), SF.lit(8)).alias("b")).first()["b"]
    d = f"bucket={b1011}"
    after = sorted(os.listdir(os.path.join(path, "labels", d)))
    assert files_before[d] == after


def test_keeper_invariant_under_components_first_fold(spark, tmp_path):
    """r14 regression pin for the first-fold-order latent bug: when a
    LABELS-ONLY consumer folds a batch into the shared artifact before
    the keeper query runs (the bench/parity order on a fresh host),
    the keeper index must still be re-elected for the touched clusters
    — a labels-only components_index_update left stored keepers
    permanently stale (replays no-op, so the staleness never healed).
    The fix: every fold path calls keeper_index_update with the
    touched set, exactly as queries/scaleops.dedup_components_
    incremental now does."""
    from edsnlp_spark.operators.dedup import (
        _keeper_elect, components_index_build, components_index_update,
        connected_components, keeper_index_build, keeper_index_update)

    cpath = str(tmp_path / "comps")
    kpath = str(tmp_path / "keep")
    base_edges = [(1, 2), (10, 11)]
    nd = spark.createDataFrame(
        [(1, 5), (2, 9), (4, 20), (10, 3), (11, 2), (50, 1)],
        "doc_id long, nd long")
    labels = connected_components(
        spark.createDataFrame(base_edges, "id_a long, id_b long"))
    components_index_build(labels, cpath, n_buckets=4)
    keeper_index_build(spark.read.parquet(f"{cpath}/labels"), nd,
                       kpath, n_buckets=4)
    # the batch brings high-quality doc 4 into cluster 1 — its keeper
    # MUST flip from 2 (nd 9) to 4 (nd 20) even though the fold is
    # driven by the components-first code path
    batch = spark.createDataFrame([(2, 4)], "id_a long, id_b long")
    touched = components_index_update(spark, cpath, batch,
                                      return_touched=True)
    keeper_index_update(spark, cpath, kpath, touched, nd)
    got = {r.cluster: r.keeper_id for r in
           spark.read.parquet(f"{kpath}/labels").collect()}
    full = _keeper_elect(
        spark.read.parquet(f"{cpath}/labels").select("id", "comp"), nd)
    want = {r.cluster: r.keeper_id for r in full.collect()}
    assert got == want
    assert got[1] == 4


def test_components_index_update_drops_emptied_partition(spark, tmp_path):
    """Dynamic partition overwrite cannot rewrite a partition that
    receives no rows — a source bucket whose every component was
    remapped elsewhere must have its stale files dropped explicitly."""
    from edsnlp_spark.operators.dedup import (components_index_build,
                                              components_index_update,
                                              connected_components)

    path = str(tmp_path / "cidx")
    # comps {5,6} and {1,2}: with n_buckets=2 one bucket can hold
    # exactly one comp; merging 5's comp into 1's may empty it
    base = spark.createDataFrame([(5, 6), (1, 2)],
                                 "id_a long, id_b long")
    components_index_build(connected_components(base), path,
                           n_buckets=2)
    batch = spark.createDataFrame([(2, 6)], "id_a long, id_b long")
    components_index_update(spark, path, batch)
    got = {r.id: r.comp for r in
           spark.read.parquet(f"{path}/labels")
           .select("id", "comp").collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}


def test_components_index_update_refuses_delta_carrying_index(
        spark, tmp_path):
    """ADVICE r11 #3: the batch updater reads only {path}/labels, so
    running it on an index that components_stream has been appending
    deltas to would compute from stale labels — it must raise until
    the deltas are compacted into the base."""
    import pytest as _pytest

    from edsnlp_spark.operators.dedup import (components_index_build,
                                              components_index_update,
                                              components_index_view,
                                              connected_components)

    path = str(tmp_path / "cidx")
    base = spark.createDataFrame([(1, 2), (5, 6)],
                                 "id_a long, id_b long")
    components_index_build(connected_components(base), path,
                           n_buckets=4)
    # simulate a streaming delta (the components_stream sink shape)
    spark.createDataFrame([(6, 1, 0)], "id long, comp long, batch long") \
        .write.mode("overwrite").parquet(f"{path}/delta/batch=0")
    with _pytest.raises(ValueError, match="delta"):
        components_index_update(
            spark, path,
            spark.createDataFrame([(2, 5)], "id_a long, id_b long"))
    # compaction (rebuild over the folded view) clears the guard
    folded = components_index_view(spark, path)
    import shutil
    compacted = str(tmp_path / "cidx2")
    components_index_build(folded, compacted, n_buckets=4)
    shutil.rmtree(path)
    components_index_update(
        spark, compacted,
        spark.createDataFrame([(2, 5)], "id_a long, id_b long"))
    got = {r.id: r.comp for r in
           spark.read.parquet(f"{compacted}/labels")
           .select("id", "comp").collect()}
    assert len(set(got.values())) == 1  # everything merged into one comp


def test_wordpiece_train_matches_python_reference(spark):
    """r11: sequential (batch=1) WordPiece training vs a pure-Python
    reference of the likelihood objective — identical merge-output
    sequences, and the textbook BERT example learns 'low'/'##er'."""
    from collections import Counter

    from edsnlp_spark.operators.wordpiece import (wordpiece_train,
                                                  wp_merged)

    texts = ["low lower lowest low low", "new newer newest new",
             "low new wider widest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = wordpiece_train(docs, n_merges=8, batch=1)

    wc = Counter(w for t in texts for w in t.split(" "))
    vocab = {w: ([w[0]] + ["##" + c for c in w[1:]], f)
             for w, f in wc.items()}
    alphabet = sorted({s for sym, _ in vocab.values() for s in sym})
    pieces = list(alphabet)
    for _ in range(8):
        pc, sc = Counter(), Counter()
        for sym, f in vocab.values():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += f
            for s in sym:
                sc[s] += f
        cands = [(c / (sc[l] * sc[r]), c, l, r)
                 for (l, r), c in pc.items() if c >= 2]
        if not cands:
            break
        # (score desc, count desc, l, r) — the trainer's ordering
        best = sorted(cands, key=lambda t: (-t[0], -t[1], t[2], t[3]))[0]
        _, _, l, r = best
        m = wp_merged(l, r)
        pieces.append(m)
        for w, (sym, f) in vocab.items():
            out = []
            for s in sym:
                if out and out[-1] == l and s == r:
                    out[-1] = m
                else:
                    out.append(s)
            vocab[w] = (out, f)
    assert got == pieces
    assert "low" in got and "##er" in got


def test_wordpiece_encode_edges(spark):
    from edsnlp_spark.operators.wordpiece import (wordpiece_encode_word,
                                                  wordpiece_encode_words)

    vocab = ["l", "##o", "##w", "low", "##er"]
    vs, ml = set(vocab), max(len(p) for p in vocab)
    assert wordpiece_encode_word("low", vs, ml, "[UNK]") == ["low"]
    assert wordpiece_encode_word("lower", vs, ml, "[UNK]") == \
        ["low", "##er"]
    # greedy longest-match beats char-by-char
    assert wordpiece_encode_word("lowow", vs, ml, "[UNK]") == \
        ["low", "##o", "##w"]
    # any unmatchable position -> whole-word UNK
    assert wordpiece_encode_word("lox", vs, ml, "[UNK]") == ["[UNK]"]
    assert wordpiece_encode_word("", vs, ml, "[UNK]") == []
    words = spark.createDataFrame(
        [("lower",), ("zzz",), ("",)], "word string")
    got = {r.word: (r.pieces, r.n_pieces, r.is_unk)
           for r in wordpiece_encode_words(words, vocab).collect()}
    assert got["lower"] == (["low", "##er"], 2, False)
    assert got["zzz"] == (["[UNK]"], 1, True)
    assert got[""] == ([], 0, False)


def test_wordpiece_batched_equals_sequential_on_disjoint_head(spark):
    """When the top-of-table candidates are symbol-disjoint, one
    batched round must adopt exactly the pairs sequential training
    would learn, in the same order (the bpe differential's wordpiece
    twin)."""
    from edsnlp_spark.operators.wordpiece import wordpiece_train

    # two INDEPENDENT 2-letter families (one candidate pair each, no
    # shared symbols, no chains): batch of 2 == two sequential rounds.
    # NOTE a 3-letter family like 'foo'/'bar' does NOT qualify: the
    # second-best round-1 candidate shares a symbol with the first, so
    # sequential's round-2 rescoring (which sees the merged symbol)
    # legitimately diverges — that IS the documented cross-round
    # approximation, verified below only for encoding validity.
    docs = spark.createDataFrame(
        [(1, "xy xy xy pq pq pq"), (2, "xy pq")],
        "doc_id long, text string")
    seq = wordpiece_train(docs, n_merges=2, batch=1)
    bat = wordpiece_train(docs, n_merges=2, batch=2)
    assert seq == bat
    # and a chain-heavy corpus still yields an encoding-valid vocab
    chain = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa aaa aaa aa")], "doc_id long, text string")
    v = wordpiece_train(chain, n_merges=4, batch=4)
    assert all(p.replace("##", "").strip("a") == "" for p in v)


def test_minhash_postings_index_probe_pair_universe(spark, tmp_path):
    """r12 (VERDICT r11 #4): the persisted banded postings probed by a
    batch must yield EXACTLY the band-collision pairs involving the
    batch — base self-pairs ∪ probe pairs == the full inline
    minhash_lsh candidate universe, which is what makes the
    incremental component result equal a full recompute."""
    import pytest as _pytest
    import pyspark.sql.functions as SF

    from edsnlp_spark.operators.dedup import (minhash_index_candidates,
                                              minhash_lsh_pairs,
                                              minhash_postings_index)

    words = ["spark", "query", "merge", "scan", "agg", "join"]
    rows = []
    for i in range(36):
        toks = [words[(i + j) % len(words)] for j in range(6)]
        if i % 4 == 0:
            toks = [words[j % len(words)] for j in range(6)]  # clones
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(SF.col("doc_id") % 3 != 0)
    batch = docs.filter(SF.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mhidx")
    minhash_postings_index(base, path)
    cands = minhash_index_candidates(spark, path, batch)
    got_batch = {(r.id_a, r.id_b) for r in cands.collect()}
    # every probe pair involves >= 1 batch doc
    assert all(a % 3 == 0 or b % 3 == 0 for a, b in got_batch)
    post = spark.read.parquet(f"{path}/postings")
    base_self = {
        (r.id_a, r.id_b)
        for r in post.alias("x").join(
            post.selectExpr("id as rid", "bk").alias("y"), "bk")
        .filter(SF.col("id") < SF.col("rid"))
        .selectExpr("id as id_a", "rid as id_b").distinct().collect()}
    full = {(r.id_a, r.id_b)
            for r in minhash_lsh_pairs(docs).select("id_a", "id_b")
            .collect()}
    assert base_self | got_batch == full
    # a mismatched signature config generates a DIFFERENT pair
    # universe: the probe must refuse, not silently drift
    with _pytest.raises(ValueError, match="config mismatch"):
        minhash_index_candidates(spark, path, batch, num_hashes=24,
                                 bands=6)


def test_negation_student_survives_document_skew(spark, tmp_path):
    """r12 (VERDICT r11 #8): the distillation instance plane and the
    perceptron's explicit sharding must survive a corpus where ONE
    document dominates (the r9 join-reshard lesson: a join silently
    re-sharded an order-sensitive training plane and parameter mixing
    washed every epoch out).  Pins: per-doc instance counts, both
    classes present, window distance-tags exact inside the dominating
    doc, and bit-identical trained params across two runs."""
    import numpy as np

    from edsnlp_spark.queries.advanced import _train_negation_student

    rows = [(0, ("slow spark filter fast merge " * 400).strip(),
             "en", "synth", 0)]
    for i in range(1, 61):
        t = "slow table filter" if i % 2 else "fast table filter"
        rows.append((i, t, "en", "synth", len(t)))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    inst, (Wq1, bq1) = _train_negation_student(spark, sf)
    inst_rows = inst.collect()
    by_doc: dict = {}
    for r in inst_rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # the dominating doc contributes 400 negated spark + 400 plain
    # merge instances; every small doc exactly one — nothing dropped
    # or duplicated by the teacher join under skew
    assert len(by_doc[0]) == 800
    assert all(len(by_doc[i]) == 1 for i in range(1, 61))
    assert {r.label for r in inst_rows} == {0, 1}
    # window tagging exact inside the dominating doc: spark at pos 2
    # sees "slow@1"; merge at pos 5 sees the full tagged window
    sp2 = next(r for r in by_doc[0] if r.term == "spark" and r.pos == 2)
    assert sp2.wtext == "slow@1" and sp2.label == 1
    mg5 = next(r for r in by_doc[0] if r.term == "merge" and r.pos == 5)
    assert mg5.wtext == "slow@4 spark@3 filter@2 fast@1"
    assert mg5.label == 0
    # determinism under skew: retraining yields bit-identical params
    _, (Wq2, bq2) = _train_negation_student(spark, sf)
    assert np.array_equal(np.asarray(Wq1), np.asarray(Wq2))
    assert np.array_equal(np.asarray(bq1), np.asarray(bq2))


def test_dedup_keeper_election_prefers_informative_member(spark, tmp_path):
    """r12: keeper election is QUALITY-aware, not min-id — in a near-dup
    cluster the member with the most distinct tokens wins even when it
    has the larger doc_id; ties break to the smaller id; singletons
    keep themselves."""
    from edsnlp_spark.queries.scaleops import dedup_keeper_election

    base = "spark streams merge tables quickly under load today"
    rows = [
        (1, base, "en", "s", 0),
        # near-dup of doc 1 with MORE distinct tokens (richer copy)
        (2, base + " with watermarks and checkpoints", "en", "s", 0),
        (3, "completely different text about parquet row groups",
         "en", "s", 0),
        # exact clones: tie on nd -> smaller id keeps
        (10, "vectors scan slowly under heavy aggregation load now",
         "en", "s", 0),
        (11, "vectors scan slowly under heavy aggregation load now",
         "en", "s", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    got = {r.doc_id: r for r in
           dedup_keeper_election(spark, str(tmp_path)).collect()}
    assert got[1].cluster == got[2].cluster
    assert got[1].keeper_id == 2 and got[2].keeper_id == 2
    assert not got[1].keep and got[2].keep
    assert got[3].keep and got[3].keeper_id == 3      # singleton
    assert got[10].keeper_id == 10 and got[11].keeper_id == 10
    assert got[10].keep and not got[11].keep


def test_keeper_index_update_merge_delete_carryover(spark, tmp_path):
    """r13 incremental keeper election: a batch merge re-elects the
    keeper over the MERGED membership, the absorbed cluster's row is
    deleted from the index, and an untouched cluster sharing a bucket
    is carried over verbatim."""
    from edsnlp_spark.operators.dedup import (
        components_index_build, keeper_index_build, keeper_index_update)

    nd = spark.createDataFrame(
        [(1, 5), (2, 9), (5, 7), (6, 3), (8, 4), (9, 4)],
        "doc_id long, nd long")
    base = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5), (8, 8), (9, 8)],
        "id long, comp long")
    cpath, kpath = str(tmp_path / "comps"), str(tmp_path / "keep")
    components_index_build(base, cpath, n_buckets=2)
    keeper_index_build(base, nd, kpath, n_buckets=2)
    k0 = {r.cluster: r.keeper_id for r in
          spark.read.parquet(f"{kpath}/labels").collect()}
    # per-cluster argmax (nd, -id): {1,2}->2 (nd 9), {5,6}->5, {8,9}->8
    assert k0 == {1: 2, 5: 5, 8: 8}
    # batch edge (2,5) merges comps 1 and 5 -> comp 1
    merged = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 1), (6, 1), (8, 8), (9, 8)],
        "id long, comp long")
    components_index_build(merged, cpath, n_buckets=2)
    touched = spark.createDataFrame([(1,), (5,)], "cluster long")
    keeper_index_update(spark, cpath, kpath, touched, nd)
    k1 = {r.cluster: r.keeper_id for r in
          spark.read.parquet(f"{kpath}/labels").collect()}
    # merged {1,2,5,6}: nd max 9 -> keeper 2; cluster 5 DELETED;
    # untouched cluster 8 carried over
    assert k1 == {1: 2, 8: 8}
    # idempotent: same touched set re-elects the same keepers
    keeper_index_update(spark, cpath, kpath, touched, nd)
    k2 = {r.cluster: r.keeper_id for r in
          spark.read.parquet(f"{kpath}/labels").collect()}
    assert k2 == k1


def test_keeper_index_update_drops_emptied_partition(spark, tmp_path):
    """A bucket whose only cluster is merged away receives no rows in
    the rewrite and must be physically dropped."""
    import os

    from edsnlp_spark.operators.dedup import (
        components_index_build, keeper_index_build, keeper_index_update)

    nd = spark.createDataFrame([(1, 2), (2, 1), (5, 9), (6, 1)],
                               "doc_id long, nd long")
    base = spark.createDataFrame([(1, 1), (2, 1), (5, 5), (6, 5)],
                                 "id long, comp long")
    cpath, kpath = str(tmp_path / "comps"), str(tmp_path / "keep")
    components_index_build(base, cpath, n_buckets=64)
    keeper_index_build(base, nd, kpath, n_buckets=64)
    from pyspark.sql import functions as F
    b5 = spark.createDataFrame([(5,)], "cluster long").select(
        F.pmod(F.xxhash64("cluster"), F.lit(64)).alias("b")).first()["b"]
    assert os.path.exists(f"{kpath}/labels/bucket={b5}")
    merged = spark.createDataFrame([(1, 1), (2, 1), (5, 1), (6, 1)],
                                   "id long, comp long")
    components_index_build(merged, cpath, n_buckets=64)
    touched = spark.createDataFrame([(1,), (5,)], "cluster long")
    keeper_index_update(spark, cpath, kpath, touched, nd)
    assert not os.path.exists(f"{kpath}/labels/bucket={b5}")
    k = {r.cluster: r.keeper_id for r in
         spark.read.parquet(f"{kpath}/labels").collect()}
    assert k == {1: 5}
