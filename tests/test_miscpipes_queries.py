"""Behavioral edges for the r13 misc-pipe driver queries (the value
parity itself is covered by tests/test_oracle_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from edsnlp_spark.operators.tables import TablesExtractor
from edsnlp_spark.operators.pollution import PollutionTagger, strip_pollution
from edsnlp_spark.operators.misc_pipes import consultation_dates
from edsnlp_spark.operators.matcher import RegexMatcher
from edsnlp_spark.operators.disorders import SUICIDE_ATTEMPT_PATTERNS


def test_table_sessionization_two_tables(spark):
    """Two pipe runs separated by a prose line -> two table_ids; the
    2-cell line is NOT a table line (min_cells=2 keeps > 2 cells)."""
    txt = "a|b|c\nd|e|f|g\nplain prose line\nh|i|j\nk|l\n"
    df = spark.createDataFrame([(1, txt)], "note_id long, note_text string")
    cells = TablesExtractor(min_cells=2).tables(df).collect()
    tables = {}
    for r in cells:
        tables.setdefault(r.table_id, set()).add((r.row_id, r.col_id, r.cell))
    assert set(tables) == {1, 2}
    assert (1, 0, "a") in tables[1] and (2, 3, "g") in tables[1]
    assert tables[2] == {(1, 0, "h"), (1, 1, "i"), (1, 2, "j")}
    # the 2-cell "k|l" line never appears
    assert all(r.cell not in ("k", "l") for r in cells)


def test_consultation_dates_cue_window_gates(spark):
    """A date outside every cue window is dropped; town/document cues
    only fire when their family is enabled."""
    pad = "y" * 80
    txt = (f"consultation du 12/03/2021. {pad} "
           f"le 05/07/2020 sans contexte. {pad} signe le 01/02/2019.")
    df = spark.createDataFrame([(1, txt)], "note_id long, note_text string")
    rows = consultation_dates(
        df, consultation_mention=True, town_mention=False,
        document_date_mention=False).collect()
    assert {(r.cue_kind, r.consultation_date) for r in rows} == {
        ("consultation", "2021-03-12")}
    rows = consultation_dates(
        df, consultation_mention=True, town_mention=False,
        document_date_mention=True).collect()
    assert {(r.cue_kind, r.consultation_date) for r in rows} == {
        ("consultation", "2021-03-12"), ("document_date", "2019-02-01")}


def test_suicide_match_requires_pollution_strip(spark):
    """The polluted mention only matches AFTER the strip; a bars-only
    doc stays matchless."""
    df = spark.createDataFrame(
        [(1, "scan table tentative de nbnbnbnbnb suicide"),
         (2, "scan table auto-\nlyse"),
         (3, "scan table nbnbnbnbnb")],
        "note_id long, note_text string")
    matcher = RegexMatcher(SUICIDE_ATTEMPT_PATTERNS, attr="TEXT",
                           text_col="excluded_text")
    # without the strip: raw text, no matches
    raw = matcher.entities(
        df.withColumn("excluded_text", F.col("note_text")))
    assert raw.count() == 0
    clean = strip_pollution(PollutionTagger()(df))
    got = {(r.note_id, r.label, r.lexical_variant)
           for r in matcher.entities(clean).collect()}
    assert got == {(1, "suicide_attempt_unspecific", "tentative de suicide"),
                   (2, "autolysis", "autolyse")}
    lens = {r.note_id: r.excluded_text for r in clean.collect()}
    assert lens[1] == "scan table tentative de suicide"
    assert lens[2] == "scan table autolyse"


def test_binary_auc_calibration_hand_computed(spark):
    """Midrank AUC on a tied score set: scores asc [.3(-), .8(-),
    .8(+), .9(+)] -> positive midranks {2.5, 4}, U = 3.5, AUC =
    0.875; degenerate single-class corpora pin AUC at 0.5."""
    from edsnlp_spark.operators.metrics import binary_auc_calibration

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.8, 1), (0.3, 0)],
        "score double, label int")
    rows = binary_auc_calibration(df).collect()
    assert {r.auc for r in rows} == {0.875}
    by_bucket = {r.bucket: r for r in rows}
    assert by_bucket[3].n_docs == 1 and by_bucket[3].pos_rate == 0.0
    assert by_bucket[8].n_docs == 2 and by_bucket[8].pos_rate == 0.5
    assert by_bucket[9].n_docs == 1 and by_bucket[9].pos_rate == 1.0
    assert by_bucket[8].avg_score == 0.8
    # all-positive corpus: AUC degenerates to 0.5
    pos = spark.createDataFrame([(0.4, 1), (0.6, 1)],
                                "score double, label int")
    assert {r.auc for r in binary_auc_calibration(pos).collect()} \
        == {0.5}
    # score = 1.0 lands in the TOP bucket (least-clamp), not bucket 10
    edge = spark.createDataFrame([(1.0, 1), (0.0, 0)],
                                 "score double, label int")
    assert {r.bucket for r in binary_auc_calibration(edge).collect()} \
        == {0, 9}


def test_tables_extractor_differential_fuzz(spark):
    """TablesExtractor vs a pure-Python run/cell model over seeded
    random line mixes (pipe lines of 1-5 cells, prose lines, broken
    bars, leading/trailing delimiters handled by both sides)."""
    import random
    import re

    from edsnlp_spark.operators.tables import TablesExtractor

    rng = random.Random(13)
    words = ["scan", "slow", "fast", "table", "key", "agg", "row"]
    docs = []
    for doc_id in range(40):
        lines = []
        for _ in range(rng.randint(0, 10)):
            kind = rng.random()
            n = rng.randint(1, 5)
            cells = [" ".join(rng.sample(words, rng.randint(1, 2)))
                     for _ in range(n)]
            if kind < 0.6:
                sep = "|" if rng.random() < 0.8 else "¦"
                line = sep.join(cells)
                if rng.random() < 0.2:
                    line = sep + line
                if rng.random() < 0.2:
                    line = line + sep
            else:
                line = " ".join(cells)
            lines.append(line)
        docs.append((doc_id, "\n".join(lines)))
    df = spark.createDataFrame(docs, "note_id long, note_text string")
    got = {(r.note_id, r.table_id, r.row_id, r.col_id, r.cell)
           for r in TablesExtractor(min_cells=2).tables(df).collect()}

    want = set()
    for doc_id, text in docs:
        runs, cur = [], []
        for line in text.split("\n"):
            # the operator strips ONE leading/trailing delimiter
            # before splitting, but classifies on the RAW line
            is_table = len(re.split(r"[|¦]", line)) > 2
            if is_table:
                cur.append(re.split(r"[|¦]",
                                    re.sub(r"^[|¦]|[|¦]$", "", line)))
            elif cur:
                runs.append(cur)
                cur = []
        if cur:
            runs.append(cur)
        for ti, run in enumerate(runs, 1):
            for ri, cells in enumerate(run, 1):
                for ci, cell in enumerate(cells):
                    want.add((doc_id, ti, ri, ci, cell.strip()))
    assert got == want


def test_binary_auc_matches_python_reference(spark):
    """binary_auc_calibration's AUC equals a pure-Python midrank
    Mann-Whitney over seeded random scored sets (ties included)."""
    import random

    from edsnlp_spark.operators.metrics import binary_auc_calibration

    rng = random.Random(5)
    for trial in range(5):
        rows = [(round(rng.choice([0.1, 0.25, 0.5, 0.5, 0.73, 0.9]),
                       6), rng.randint(0, 1)) for _ in range(30)]
        df = spark.createDataFrame(rows, "score double, label int")
        got = {r.auc for r in binary_auc_calibration(df).collect()}
        # python midrank reference
        srt = sorted(rows)
        ranks = {}
        i = 0
        while i < len(srt):
            j = i
            while j < len(srt) and srt[j][0] == srt[i][0]:
                j += 1
            mid = (i + 1 + j) / 2
            ranks.setdefault(srt[i][0], mid)
            i = j
        np_ = sum(y for _, y in rows)
        nn = len(rows) - np_
        if np_ == 0 or nn == 0:
            want = 0.5
        else:
            s = sum(ranks[sc] for sc, y in rows if y == 1)
            want = round((s - np_ * (np_ + 1) / 2) / (np_ * nn), 6)
        assert got == {want}, (trial, got, want)


def test_misc_queries_edge_corpus_parity(spark, tmp_path):
    """Empty / 1-token / 2-token / non-ASCII docs flow through the
    three r13 misc queries AND their DuckDB oracles with identical
    values (the empty-input robustness convention, upgraded to full
    value parity on a synthetic edge corpus)."""
    import duckdb

    from edsnlp_spark.queries.miscpipes import QUERIES

    rows = [(0, "", "fr", "s", 0), (1, "a", "fr", "s", 1),
            (2, "a the", "fr", "s", 5), (6, "scan", "fr", "s", 4),
            (3, "key agg row scan slow fast table value part hash",
             "fr", "s", 48),
            (13, "mérge batch" + " table key row scan" * 3, "fr", "s",
             68)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path / "edge")
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet/*.parquet')")
    for name, (fn, sql) in QUERIES.items():
        sp = fn(spark, sf).toPandas()
        cols = sorted(sp.columns)
        sp = sp.reindex(cols, axis=1).sort_values(cols) \
            .reset_index(drop=True)
        od = con.execute(sql).fetchdf()
        od = od.reindex(cols, axis=1).sort_values(cols) \
            .reset_index(drop=True)
        assert sp.shape == od.shape, (name, sp.shape, od.shape)
        assert (sp.astype(str).values == od.astype(str).values).all(), \
            (name, sp, od)
