"""Tests: pollution, simstring, tables, reason, consultation_dates."""

from __future__ import annotations

from pyspark.sql import functions as F

import edsnlp_spark as es
from edsnlp_spark.operators.tokenizer import Tokenizer
from edsnlp_spark.operators.matcher import PhraseMatcher
from edsnlp_spark.operators.pollution import PollutionTagger, exclude_polluted
from edsnlp_spark.operators.simstring import SimstringMatcher, char_ngrams
from edsnlp_spark.operators.tables import TablesExtractor
from edsnlp_spark.operators.misc_pipes import consultation_dates, reason_spans


def notes_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "note_id long, note_text string")


def test_pollution_tagging_and_exclusion(spark):
    texts = [
        "Le patient est malade NbNbWbNbNbWbNb malade encore.",
        "Pas de pollution ici malade.",
    ]
    notes = Tokenizer()(notes_df(spark, texts)).persist()
    tagger = PollutionTagger()
    poll = tagger.pollution_table(notes)
    p = poll.collect()
    # the reference's bars class covers the NBNbWb noise runs
    # (pollution/patterns.py:17-18 'Example : NBNbWbWbNbWb...')
    assert len(p) == 1 and p[0]["label"] == "bars"
    # entity inside the noise span is dropped; clean ones survive
    ents = PhraseMatcher({"dis": ["malade"]}, attr="NORM").entities(notes)
    kept = exclude_polluted(ents, poll)
    assert ents.count() == 3 and kept.count() == 3  # none overlap the noise
    fake = spark.createDataFrame(
        [(0, 22, 36)], "note_id long, start_char int, end_char int")
    # a synthetic entity overlapping the noise is excluded
    overlapping = spark.createDataFrame(
        [(0, 25, 30, "x", "y", "ents")],
        "note_id long, start_char int, end_char int, label string, "
        "lexical_variant string, span_type string")
    assert exclude_polluted(overlapping, poll).count() == 0


def test_simstring_fuzzy_match(spark):
    notes = Tokenizer()(notes_df(spark, [
        "Le patient a un diabette severe.",   # misspelling
        "Aucun probleme cardiaque.",
    ])).persist()
    m = SimstringMatcher({"dia": ["diabete"]}, threshold=0.7, measure="dice")
    rows = m.entities(notes).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["lexical_variant"] == "diabette" and r["matched_term"] == "diabete"
    assert r["similarity"] >= 0.7
    # exact form scores 1.0
    m2 = SimstringMatcher({"dia": ["diabette"]}, threshold=0.99)
    assert m2.entities(notes).collect()[0]["similarity"] == 1.0


def test_tables_extraction(spark):
    text = (
        "Résultats biologiques :\n"
        "| param | valeur | unité |\n"
        "| Na | 140 | mmol/l |\n"
        "| K | 4.1 | mmol/l |\n"
        "Conclusion : rien.\n"
        "| a | b |\n"
    )
    t = TablesExtractor(min_cells=2).tables(notes_df(spark, [text]))
    rows = t.collect()
    t1 = [r for r in rows if r["table_id"] == 1]
    t2 = [r for r in rows if r["table_id"] == 2]
    assert {r["row_id"] for r in t1} == {1, 2, 3}
    cells = {(r["row_id"], r["col_id"]): r["cell"] for r in t1}
    assert cells[(2, 0)] == "Na" and cells[(2, 1)] == "140"
    # second block is its own table (run-id grouping separated by prose)
    assert [(r["row_id"], r["cell"]) for r in sorted(
        t2, key=lambda r: r["col_id"])] == [(1, "a"), (1, "b")]


def test_reason(spark):
    notes = notes_df(spark, [
        "Motif de l'hospitalisation : douleur thoracique.\nSuite du texte.",
        "Rien de special.",
    ])
    rows = reason_spans(notes, use_sections=False).collect()
    assert len(rows) == 1
    assert rows[0]["reason_text"].startswith("douleur thoracique")


def test_consultation_dates(spark):
    notes = notes_df(spark, [
        "Consultation du 25/09/2021 pour suivi.",
        "Né le 03/02/1999.",  # date without consultation context
    ])
    rows = consultation_dates(notes).collect()
    assert len(rows) == 1
    assert rows[0]["consultation_date"] == "2021-09-25"


def test_char_ngrams(spark):
    out = spark.range(1).select(
        char_ngrams(F.lit("ab"), 3).alias("g")).collect()[0]["g"]
    assert out == ["##a", "#ab", "ab#", "b##"]


# ---- Stream verbs: loop / shuffle / batchify ---------------------------

def test_stream_loop_commutes_with_map(spark):
    """stream.py:852-878 invariant: loop().map(f) == map(f).loop()."""
    from edsnlp_spark.core.stream_ops import loop
    from pyspark.sql import functions as F
    df = spark.range(5).withColumnRenamed("id", "x")
    f = lambda d: d.withColumn("y", F.col("x") * 2)
    a = sorted(f(loop(df, 3)).select("x", "y", "epoch").collect())
    b = sorted(loop(f(df), 3).select("x", "y", "epoch").collect())
    assert a == b and len(a) == 15
    assert {r["epoch"] for r in a} == {0, 1, 2}


def test_stream_shuffle_batchify(spark):
    from edsnlp_spark.core.stream_ops import batchify, shuffle
    df = spark.range(100)
    s1 = [r["id"] for r in shuffle(df, seed=42).collect()]
    s2 = [r["id"] for r in shuffle(df, seed=42).collect()]
    assert s1 == s2 and sorted(s1) == list(range(100))  # seeded permutation
    b = batchify(df.repartition(4), 8)
    sizes = [r["n"] for r in
             b.groupBy("batch_id").count().withColumnRenamed(
                 "count", "n").collect()]
    assert sum(sizes) == 100 and max(sizes) <= 8


def test_tables_reference_golden(spark):
    """The reference's own table fixture (tests/pipelines/misc/
    test_tables.py TEXT): a '¦'-delimited biology block and a
    '|'-delimited block survive min_rows=3; the 2-line table and the
    lone '2/2Pat' pipe line are dropped."""
    text = (
        "\nLe patientqsfqfdf bla bla bla\n"
        "Leucocytes ¦x10*9/L ¦4.97 ¦4.09-11\n"
        "Hématies ¦x10*12/L¦4.68 ¦4.53-5.79\n"
        "Hémoglobine ¦g/dL ¦14.8 ¦13.4-16.7\n"
        "Hématocrite ¦% ¦44.2 ¦39.2-48.6\n"
        "VGM ¦fL ¦94.4 + ¦79.6-94\n"
        "TCMH ¦pg ¦31.6 ¦27.3-32.8\n"
        "CCMH ¦g/dL ¦33.5 ¦32.4-36.3\n"
        "Plaquettes ¦x10*9/L ¦191 ¦172-398\n"
        "VMP ¦fL ¦11.5 + ¦7.4-10.8\n"
        "\nqdfsdf\n\n"
        "2/2Pat : <NOM> <Prenom> |<date> | <ipp> |Intitulé RCP\n\n"
        "Table de taille <= 3 :\n\n"
        " |Libellé | Unité | Valeur | Intervalle |\n"
        " |Leucocytes |x10*9/L |4.97 | 4.09-11 |\n\n"
        "qdfsdf\n\n"
        " |Libellé | Unité | Valeur | Intervalle |\n"
        " |Leucocytes |x10*9/L |4.97 | 4.09-11 |\n"
        " |Hématies |x10*12/L|4.68 | 4.53-5.79 |\n"
        " |Hémoglobine |g/dL |14.8 | 13.4-16.7 |\n"
        " |Hématocrite ||44.2 | 39.2-48.6 |\n"
        " |VGM |fL | 94.4 + | 79.6-94 |\n"
        " |TCMH |pg |31.6 |\n"
        " |CCMH |g/dL\n"
        " |Plaquettes |x10*9/L |191 | 172-398 |\n"
        " |VMP |fL |11.5 + | 7.4-10.8 |\n\n"
    )
    rows = TablesExtractor(min_rows=3).tables(
        notes_df(spark, [text])).collect()
    tids = sorted({r["table_id"] for r in rows})
    assert len(tids) == 2
    bio = [r for r in rows if r["table_id"] == tids[0]]
    assert max(r["row_id"] for r in bio) == 9
    assert max(r["col_id"] for r in bio) == 3  # 4 columns
    cells = {(r["row_id"], r["col_id"]): r["cell"] for r in bio}
    assert cells[(6, 0)] == "TCMH"  # reference df.iloc[5, 0]
    big = [r for r in rows if r["table_id"] == tids[1]]
    assert max(r["row_id"] for r in big) == 10  # header + 9


def test_sections_reference_vocabulary(spark):
    """Reference sections fixture (tests/pipelines/misc/test_sections.py):
    'Motif :' line starts a motif section containing 'Douleurs';
    full-vocabulary mode also anchors headers to the line (a 'motif'
    mention mid-prose is NOT a header)."""
    text = (
        "Le patient est admis pour des douleurs dans le bras droit, "
        "mais n'a pas de probleme de locomotion. "
        "Historique d'AVC dans la famille. pourrait etre un cas de rhume.\n"
        "Pourrait etre un cas de rhume.\n"
        "Motif :\n"
        "Douleurs dans le bras droit.\n"
        "Pas d'anomalie detectee.\n"
        "Conclusion :\n"
        "Patient va mieux. Le motif de sa venue reste flou."
    )
    from edsnlp_spark.operators.sections import SectionSegmenter
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    notes = Pipeline([Tokenizer()])(notes_df(spark, [text]))
    secs = SectionSegmenter(sections="reference").sections_table(notes)
    got = [(r["section"], r["start_char"]) for r in
           sorted(secs.collect(), key=lambda r: r["start_char"])]
    # exactly two headers: the line-anchored 'Motif' and 'Conclusion' —
    # the mid-prose 'motif de sa venue' must NOT match
    assert [s for s, _ in got] == ["motif", "conclusion"]
    m_start = dict(got)["motif"]
    assert text[m_start:m_start + 5] == "Motif"


def test_consultation_dates_town_and_doc_modes(spark):
    """Reference cue families (consultation_dates patterns.py): town
    and document-date mentions gate dates only when enabled."""
    notes = notes_df(spark, [
        "Paris, le 12/03/2020",
        "Imprime le 05/06/2019",
        "Ne le 03/02/1999.",
    ])
    base = consultation_dates(notes)
    assert base.count() == 0  # no consultation cue anywhere
    both = consultation_dates(notes, town_mention=True,
                              document_date_mention=True)
    got = {r["cue_kind"]: r["consultation_date"] for r in both.collect()}
    assert got == {"town": "2020-03-12", "document_date": "2019-06-05"}


def test_pollution_reference_classes(spark):
    """Reference pollution families (pollution/patterns.py): web links,
    doctor headers, footers tagged; biology/coding off by default
    (default_enabled patterns.py:57-66) but available."""
    texts = [
        "Contact : www.hopital.fr ou docteur@aphp.fr pour info.",
        "Dr. Martin of cardiologie\nPr Durand\nsuite du texte",
        "Leucocytes ¦4.97 ¦4.09-11\nHematies ¦4.68\n",
    ]
    notes = notes_df(spark, texts)
    default = PollutionTagger().pollution_table(notes)
    labels = {(r["note_id"], r["label"]) for r in default.collect()}
    assert (0, "web") in labels
    assert (1, "doctors") in labels
    assert not any(lab == "biology" for _, lab in labels)  # off by default
    bio = PollutionTagger(enabled=("biology",)).pollution_table(notes)
    assert {r["note_id"] for r in bio.collect()} == {2}


def test_reason_entity_linking(spark):
    """Reference test_reason: entities inside the reason span get
    is_reason=True; entities elsewhere don't."""
    from edsnlp_spark.operators.misc_pipes import link_reason_entities
    notes = Tokenizer()(notes_df(spark, [
        "Motif de l'hospitalisation : toux persistante.\n"
        "Antecedent d'asthme ancien.",
    ])).persist()
    ents = PhraseMatcher({"resp": ["toux", "asthme"]},
                         attr="NORM").entities(notes)
    reasons = reason_spans(notes, use_sections=False)
    out = {r["lexical_variant"]: r["is_reason"]
           for r in link_reason_entities(reasons, ents).collect()}
    assert out == {"toux": True, "asthme": False}


def test_table_unit_linking(spark):
    """Reference test_table_unit_linking (test_quantities.py:383-401):
    'mg | 5 | mL | 0.3' links 5 -> mg and 0.3 -> ml (closest-left unit
    cell in the row)."""
    from edsnlp_spark.operators.quantities import link_table_units
    text = "mg | 5 | mL | 0.3\nmg | 7 | mL | 0.4\n"
    cells = TablesExtractor().tables(notes_df(spark, [text]))
    out = sorted(
        ((r["row_id"], r["value"], r["unit"]) for r in
         link_table_units(cells).collect()))
    assert out == [(1, 0.3, "ml"), (1, 5.0, "mg"),
                   (2, 0.4, "ml"), (2, 7.0, "mg")]


def test_batchify_by_words(spark):
    """Word-budget batching: cumulative token counts bound each batch;
    oversized rows become singletons; total rows preserved."""
    from edsnlp_spark.core.stream_ops import batchify_by_words
    rows = [(i, " ".join(["w"] * n)) for i, n in
            enumerate([5, 5, 5, 20, 3, 3, 3, 3])]
    df = spark.createDataFrame(rows, "note_id long, note_text string") \
        .coalesce(1)
    out = batchify_by_words(df, max_words=10).collect()
    assert len(out) == len(rows)
    sizes = {}
    for r in out:
        sizes.setdefault(r["batch_id"], 0)
        sizes[r["batch_id"]] += min(len(r["note_text"].split()), 10)
    # every batch's word budget holds (a batch may end past the
    # boundary by construction of floor(prior/max) -- each batch's
    # PRIOR sum is < max, so sum <= max + largest row cap)
    assert all(v <= 20 for v in sizes.values())
    assert len(sizes) >= 3  # budget actually splits the stream


def test_batchify_padded_words(spark):
    """Padded-budget batching (utils/batching.py:181-240): every batch
    satisfies rows x longest_row <= budget (oversized singletons
    excepted), order within a partition is preserved, and nothing is
    lost."""
    from edsnlp_spark.core.stream_ops import batchify_by_padded_words
    lens = [5, 7, 3, 30, 2, 2, 12, 4, 4, 4]
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "note_id long, note_text string") \
        .coalesce(1)
    out = batchify_by_padded_words(df, batch_size=24).collect()
    assert sorted(r["note_id"] for r in out) == list(range(len(lens)))
    batches = {}
    for r in out:
        batches.setdefault(r["batch_id"], []).append(
            len(r["note_text"].split()))
    for ls in batches.values():
        if len(ls) > 1:
            assert len(ls) * max(ls) <= 24, ls
    # the 30-word row exceeds the budget alone -> its own batch
    assert any(ls == [30] for ls in batches.values())
    # greedy in ORDER: [5,7,3] fits (3*7=21), adding 30 would blow it
    first = [r for r in out if r["batch_id"].endswith("_0")]
    assert sorted(r["note_id"] for r in first) == [0, 1, 2]


def test_greedy_padded_groups_pure():
    from edsnlp_spark.core.stream_ops import greedy_padded_groups
    # (count+1) * max(maxlen, len) > budget closes the batch
    assert greedy_padded_groups([5, 7, 3, 30, 2, 2], 24) == \
        [0, 0, 0, 1, 2, 2]
    assert greedy_padded_groups([], 10) == []
    assert greedy_padded_groups([100], 10) == [0]  # oversized singleton


def test_pollution_intraword_split_and_strip(spark):
    """Reference test_normalization_intraword_breaks + the footer golden
    (tests/pipelines/core/test_normalisation.py:87-123): excluding
    pollution reconstructs the clean reading text."""
    from edsnlp_spark.operators.pollution import (
        PollutionTagger, strip_pollution)
    t1 = "Le patient a un diab-\nète de type II."
    t3 = ("Le jour de \n"
          "3/5CRH service ABC HC SOINS INTENSIFS CARDIOLOGIE - "
          "CARDIOLOGIE-2EME ETAGE-B    Pat.: Prenom NOM | M | 13/10/1789 "
          "| 8012345678 | xxxxxxxx \nconsultation")
    df = spark.createDataFrame([(1, t1), (3, t3)],
                               "note_id long, note_text string")
    out = {r["note_id"]: r["excluded_text"]
           for r in strip_pollution(PollutionTagger()(df)).collect()}
    assert out[1] == "Le patient a un diabète de type II."
    assert out[3] == "Le jour de \nconsultation"


def test_regex_match_across_exclusions(spark):
    """Reference tests/matchers/test_regex.py:66-78 (ignore_excluded):
    the pattern matches on the pollution-stripped text; the reported
    span lives in RAW offsets and spans the pollution run."""
    from edsnlp_spark.operators.pollution import (
        PollutionTagger, entities_with_exclusions)
    text = ("pneumopathie à NBNbWbWbNbWbNBNbNbWbWbNBNbWbNbNbWbNBNbWbNbNB "
            "coronavirus")
    df = spark.createDataFrame([(1, text)], "note_id long, note_text string")
    notes = PollutionTagger()(df)
    out = entities_with_exclusions(
        notes, {"test": ["pneumopathie à coronavirus"]}).collect()
    assert len(out) == 1
    r = out[0]
    assert r["clean_variant"] == "pneumopathie à coronavirus"
    assert r["lexical_variant"] == text
    assert text[r["start_char"]:r["end_char"]] == text


def test_regex_groupdict_as_spans(spark):
    """Reference match_with_groupdict_as_spans golden
    (tests/matchers/test_regex.py:221-231): named groups that
    participated in a match come back as labeled sub-spans."""
    from edsnlp_spark.operators.matcher import RegexMatcher
    texts = ["Le patient est malade, il a des douleurs",
             "Le patient va bien"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "note_id long, note_text string")
    m = RegexMatcher({"test": [r"patient(?i:(?=.*(?P<cause>douleurs))?)"]},
                     attr="TEXT")
    rows = {r["note_id"]: r for r in
            m.entities_with_groupdict(df).collect()}
    assert rows[0]["lexical_variant"] == "patient"
    assert rows[0]["groups"]["cause"]["text"] == "douleurs"
    assert rows[1]["lexical_variant"] == "patient"
    assert dict(rows[1]["groups"]) == {}


def test_regex_ignore_space_tokens(spark):
    """Reference test_regex_with_space (tests/matchers/test_regex.py:
    233-250): the single-space pattern matches across a stretched
    whitespace run; the reported span is the raw stretched text."""
    from edsnlp_spark.operators.pollution import entities_ignoring_spaces
    text = "pneumopathie à      coronavirus"
    df = spark.createDataFrame([(1, text)], "note_id long, note_text string")
    out = entities_ignoring_spaces(
        df, {"test": ["pneumopathie à coronavirus"]}).collect()
    assert len(out) == 1
    assert out[0]["lexical_variant"] == text
    assert out[0]["clean_variant"] == "pneumopathie à coronavirus"
