"""Property-based tests (hypothesis): invariants that must hold on ANY
input, not just goldens — SURVEY §7 calls for property-testing the
offset machinery.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from edsnlp_spark.functions.text import tokenize, tokenize_pretokenized
from edsnlp_spark.operators.filter_spans import filter_spans

# Latin-ish text incl. accents, punctuation, newlines, digits.
TEXT = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
        whitelist_characters="\n'’àéèêïç",
        max_codepoint=0x024F,
    ),
    max_size=120,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_tokenizer_offsets_always_exact(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "note_id long, note_text string")
    rows = df.select("note_id", "note_text",
                     tokenize(F.col("note_text")).alias("toks")).collect()
    for r in rows:
        prev_end = 0
        for t in r.toks:
            # offsets index the original text exactly
            assert r.note_text[t.start:t.end] == t.text
            # tokens are in order and non-overlapping
            assert t.start >= prev_end
            prev_end = t.end
        # every non-space char is covered by some token
        covered = sum(t.end - t.start for t in r.toks)
        nonspace = sum(1 for c in r.note_text if not c.isspace())
        assert covered == nonspace


def test_tokenizer_linear_on_20k_token_doc(spark):
    """Scale guard: the chunked prefix-sum tokenizer must handle a
    20k-token document directly (no SplitDocs pre-chunking) in linear
    time.  The old locate-fold was O(tokens²) and took minutes here."""
    import time

    words = ["mot" + "abcdefghijklmnopqrstuvwxyz"[i % 26] for i in range(20000)]
    text = " ".join(words) + "."
    df = spark.createDataFrame([(0, text)], "note_id long, note_text string")
    t0 = time.time()
    toks = df.select(tokenize(F.col("note_text")).alias("t")).collect()[0]["t"]
    elapsed = time.time() - t0
    assert len(toks) == 20001  # 20k words + final period token
    # exact offsets at chunk boundaries and at the end
    for k in (0, 63, 64, 65, 12800, 19999, 20000):
        t = toks[k]
        assert text[t.start:t.end] == t.text, k
        assert t.i == k
    # generous wall bound — quadratic behavior would blow far past this
    assert elapsed < 30, f"20k-token doc took {elapsed:.1f}s"


WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=6)


@settings(max_examples=15, deadline=None)
@given(st.lists(WORD, min_size=1, max_size=20))
def test_pretokenized_offsets(spark, words):
    text = " ".join(words)
    df = spark.createDataFrame([(0, text)], "note_id long, note_text string")
    toks = df.select(
        tokenize_pretokenized(F.col("note_text")).alias("t")).collect()[0]["t"]
    assert [t["text"] for t in toks] == words
    for t in toks:
        assert text[t["start"]:t["end"]] == t["text"]


SPAN = st.tuples(st.integers(0, 30), st.integers(1, 10), st.sampled_from("xyz"))


@settings(max_examples=15, deadline=None)
@given(st.lists(SPAN, min_size=1, max_size=12))
def test_filter_spans_invariants(spark, raw):
    rows = [(1, s, s + ln, lbl, "t", "ents") for s, ln, lbl in raw]
    ents = spark.createDataFrame(
        rows, "note_id long, start_char int, end_char int, label string, "
              "lexical_variant string, span_type string")
    kept = filter_spans(ents).collect()
    spans = sorted((r["start_char"], r["end_char"]) for r in kept)
    # invariant 1: output spans never overlap
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2
    # invariant 2: every dropped span overlaps some kept longer-or-equal span
    kept_set = {(r["start_char"], r["end_char"], r["label"]) for r in kept}
    for s, ln, lbl in raw:
        if (s, s + ln, lbl) not in kept_set:
            assert any(s < e2 and s2 < s + ln for s2, e2 in spans)


WORD_NOSPACE = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"),
                           max_codepoint=0x024F),
    min_size=1, max_size=8,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(WORD_NOSPACE, min_size=0, max_size=12))
def test_token_shingles_match_naive(spark, words):
    """The regexp-lookahead shingler equals the naive dedup'd sliding
    window over split-on-space tokens, for ANY token list."""
    from edsnlp_spark.operators.dedup import token_shingles
    text = " ".join(words)
    got = spark.range(1).select(
        token_shingles(F.lit(text), 3).alias("sh")).collect()[0]["sh"]
    naive, seen = [], set()
    for i in range(max(0, len(words) - 2)):
        s = " ".join(words[i:i + 3])
        if s not in seen:
            seen.add(s)
            naive.append(s)
    assert got == naive


# ---- native RegexMatcher locate-fold vs Python re -----------------------
# The native path recovers offsets with a cursor-advancing locate fold
# over regexp_extract_all output.  Soundness rests on pattern
# context-freeness (no zero-width constructs — see the matcher's
# _ZERO_WIDTH_RX routing); this differential test guards the
# implementation itself (chunked prefix-sum accumulator, 1-based locate
# arithmetic, duplicate matches) against Python's re on arbitrary text.

# Patterns chosen to mean the same thing in Java and Python regex and to
# stress the fold: repeats, alternation with shared prefixes/suffixes,
# single chars that occur in runs, multi-char literals overlapping
# their own tails.
_NATIVE_PATTERNS = ["ab+", "[xy]{2,3}", "foo|fo|o", "a.c", "aba", "a"]
_NATIVE_ALPHABET = "abcfoxy .\n"


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=_NATIVE_ALPHABET, max_size=80),
                min_size=1, max_size=6))
def test_regex_native_path_matches_python_re(spark, texts):
    import re as _re

    from edsnlp_spark.operators.matcher import RegexMatcher

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "note_id long, note_text string")
    m = RegexMatcher({str(i): [p] for i, p in enumerate(_NATIVE_PATTERNS)},
                     attr="TEXT", native="unchecked")
    got = sorted(
        (r.note_id, int(r.label), r.start_char, r.end_char,
         r.lexical_variant)
        for r in m.entities(df).collect())
    want = sorted(
        (i, pi, mt.start(), mt.end(), mt.group(0))
        for i, t in enumerate(texts)
        for pi, p in enumerate(_NATIVE_PATTERNS)
        for mt in _re.finditer(p, t))
    assert got == want


# ---- JVM norm_text vs Python py_norm_text -------------------------------
# The Arrow-exact matcher path normalizes with py_norm_text while every
# native expression path uses the norm_text Column; offsets and match
# results are only interchangeable if the two are char-for-char
# identical on ANY input (both are length-preserving char maps).

_CASE_SKEW: set | None = None


def _unicode_case_skew(spark) -> set:
    """Codepoints < 0x2100 whose lower() mapping DIFFERS between this
    JVM and this Python (Unicode-VERSION skew, e.g. U+1C89 Cyrillic
    TJE added in Unicode 16 — lowered by a newer JVM table, unknown to
    Python 3.11's).  The norm-parity contract covers codepoints both
    runtimes agree on; version skew is a documented boundary, not a
    logic divergence (found by hypothesis at r11)."""
    global _CASE_SKEW
    if _CASE_SKEW is None:
        chars = [(chr(c),) for c in range(0x20, 0x2100)
                 if not 0xD800 <= c <= 0xDFFF]
        df = spark.createDataFrame(chars, "c string")
        rows = df.select("c", F.lower("c").alias("l")).collect()
        _CASE_SKEW = {r["c"] for r in rows if r["l"] != r["c"].lower()}
    return _CASE_SKEW


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(max_codepoint=0x2100,
                           blacklist_categories=("Cs",)),
    max_size=100), min_size=1, max_size=8))
def test_norm_text_jvm_matches_python(spark, texts):
    from edsnlp_spark.functions.text import norm_text, py_norm_text

    skew = _unicode_case_skew(spark)
    texts = ["".join("x" if ch in skew else ch for ch in t)
             for t in texts]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "note_id long, note_text string")
    rows = df.select("note_id", norm_text(F.col("note_text"))
                     .alias("n")).collect()
    for r in rows:
        py = py_norm_text(texts[r.note_id])
        assert r.n == py
        assert len(py) == len(texts[r.note_id])  # length-preserving


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 30), st.integers(1, 10),
              st.sampled_from(["a", "b", "fp"])),
    min_size=0, max_size=14))
def test_filter_spans_matches_greedy_model(spark, raw):
    """The fold equals a direct Python model of the documented greedy
    resolve: sort by (longest, leftmost, label), keep iff disjoint from
    everything already kept — for ANY span multiset."""
    rows = [(1, s, s + ln, lbl, "t", "ents") for s, ln, lbl in raw]
    ents = spark.createDataFrame(
        rows, "note_id long, start_char int, end_char int, label string, "
              "lexical_variant string, span_type string")
    got = sorted((r.start_char, r.end_char, r.label)
                 for r in filter_spans(ents).collect())
    model_kept = []
    for s, e, lbl in sorted(((s, s + ln, lbl) for s, ln, lbl in raw),
                            key=lambda x: (-(x[1] - x[0]), x[0], x[1], x[2])):
        if all(e <= ks or ke <= s for ks, ke, _ in model_kept):
            model_kept.append((s, e, lbl))
    assert got == sorted(model_kept)


# ---- QualifierEngine vs a direct Python model ---------------------------
# Negation-style config over random token streams: single-token
# preceding/following/termination cues, a two-token pseudo ("sans
# doute") that shadows the preceding cue "sans", and single-token
# entities.  The model re-derives the documented semantics directly:
# boundaries = sentence start ∪ termination STARTS ∪ doc end; pseudo
# self-resolve then suppression by filter_spans order; cue→boundary by
# the cue's start token; entity→every overlapped boundary; negated =
# OR over boundaries of (preceding cue ending at-or-before the entity
# start) | (following cue starting at-or-after the entity end).

_Q_VOCAB = ["le", "patient", "rien", "note", "sans", "aucun", "doute",
            "absent", "mais", "fievre", "toux"]
_Q_PREC = {"sans", "aucun"}
_Q_FOLL = {"absent"}
_Q_TERM = {"mais"}
_Q_ENTS = {"fievre", "toux"}


def _q_model(words):
    n = len(words)
    pseudo = [(i, i + 2) for i in range(n - 1)
              if words[i] == "sans" and words[i + 1] == "doute"]
    # pseudo self-resolve (longest-then-leftmost greedy; all len 2 here)
    kept_p = []
    for s, e in sorted(pseudo):
        if all(e <= ks or ke <= s for ks, ke in kept_p):
            kept_p.append((s, e))
    def shadowed(i, j):
        # a kept pseudo suppresses an overlapping real cue iff it sorts
        # strictly before it: longer, or equal length and more leftmost
        return any(s < j and i < e
                   and ((e - s > j - i) or (e - s == j - i and s < i))
                   for s, e in kept_p)
    prec = [(i, i + 1) for i, w in enumerate(words)
            if w in _Q_PREC and not shadowed(i, i + 1)]
    foll = [(i, i + 1) for i, w in enumerate(words)
            if w in _Q_FOLL and not shadowed(i, i + 1)]
    cuts = sorted({0, n} | {i for i, w in enumerate(words) if w in _Q_TERM})
    bounds = [(a, b) for a, b in zip(cuts, cuts[1:]) if a < b]
    out = set()
    for q, w in enumerate(words):
        if w not in _Q_ENTS:
            continue
        neg = False
        for bs, be in bounds:
            if not (q < be and bs < q + 1):
                continue
            neg = neg or any(bs <= cs < be and ce <= q for cs, ce in prec) \
                      or any(bs <= cs < be and cs >= q + 1 for cs, ce in foll)
        out.add((q, w, neg))
    return out


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_Q_VOCAB), min_size=1,
                         max_size=14), min_size=1, max_size=4))
def test_qualifier_engine_matches_model(spark, docs):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.operators.matcher import PhraseMatcher
    from edsnlp_spark.operators.qualifiers import QualifierEngine

    notes = Pipeline([Tokenizer(mode="pretokenized"), SentenceSegmenter()])(
        spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            "note_id long, note_text string")).persist()
    ents = PhraseMatcher({"sym": sorted(_Q_ENTS)}, attr="NORM") \
        .entities(notes)
    eng = QualifierEngine("negated", {
        "preceding": sorted(_Q_PREC), "following": sorted(_Q_FOLL),
        "pseudo": ["sans doute"], "termination": sorted(_Q_TERM)})
    got = {(r.note_id, r.tok_start, r.lexical_variant, r.negated)
           for r in eng.qualify(notes, ents).collect()}
    want = {(i, q, w, neg)
            for i, ws in enumerate(docs) for q, w, neg in _q_model(ws)}
    assert got == want


# ---- PhraseMatcher n-gram join vs a direct token-slice model ------------
# Mixed-length terms that overlap each other ("b", "a b", "a b c") over
# random token streams: every occurrence of every term must surface,
# including nested and crossing ones (the matcher emits ALL matches;
# overlap resolution is filter_spans' job downstream).

_PM_TERMS = {"one": ["b"], "two": ["a b"], "three": ["a b c"], "other": ["c d"]}
_PM_VOCAB = ["a", "b", "c", "d", "e"]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_PM_VOCAB), min_size=1,
                         max_size=12), min_size=1, max_size=4))
def test_phrase_matcher_matches_slice_model(spark, docs):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.matcher import PhraseMatcher

    notes = Pipeline([Tokenizer(mode="pretokenized")])(
        spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            "note_id long, note_text string"))
    got = {(r.note_id, r.label, r.tok_start, r.tok_end, r.lexical_variant)
           for r in PhraseMatcher(_PM_TERMS, attr="NORM")
           .entities(notes).collect()}
    want = set()
    for i, ws in enumerate(docs):
        for label, terms in _PM_TERMS.items():
            for term in terms:
                t = term.split(" ")
                for j in range(len(ws) - len(t) + 1):
                    if ws[j:j + len(t)] == t:
                        want.add((i, label, j, j + len(t), " ".join(t)))
    assert got == want


# ---- SimstringMatcher vs a direct char-ngram dice model -----------------

_SS_TERMS = {"drug": ["diabete", "paracetamol"], "sym": ["fievre"]}
_SS_WORDS = ["diabete", "diabetes", "diabte", "fievre", "fiebre",
             "paracetamol", "paracetmol", "chat", "de"]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_SS_WORDS), min_size=1,
                         max_size=10), min_size=1, max_size=3))
def test_simstring_matches_dice_model(spark, docs):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.simstring import SimstringMatcher

    def grams(s, n=3):
        p = "#" * (n - 1) + s + "#" * (n - 1)
        return {p[i:i + n] for i in range(len(p) - n + 1)}

    notes = Pipeline([Tokenizer(mode="pretokenized")])(
        spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            "note_id long, note_text string"))
    got = {(r.note_id, r.tok_start, r.lexical_variant, r.label,
            r.matched_term, r.similarity)
           for r in SimstringMatcher(_SS_TERMS, threshold=0.75)
           .entities(notes).collect()}
    want = set()
    for i, ws in enumerate(docs):
        for j, w in enumerate(ws):
            for label, terms in _SS_TERMS.items():
                for term in terms:
                    a, b = grams(w), grams(term)
                    d = 2 * len(a & b) / (len(a) + len(b))
                    if d >= 0.75:
                        want.add((i, j, w, label, term, round(d, 4)))
    assert got == want


# ---- SectionSegmenter vs the header-interval model -----------------------

_SEC_TITLES = {"antecedents": ["antecedents"], "traitement": ["traitement"],
               "conclusion": ["conclusion"]}
_SEC_VOCAB = ["antecedents", "traitement", "conclusion", "le", "patient",
              "va", "bien"]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_SEC_VOCAB), min_size=1,
                         max_size=12), min_size=1, max_size=4))
def test_sections_match_header_interval_model(spark, docs):
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sections import SectionSegmenter

    notes = Pipeline([Tokenizer(mode="pretokenized")])(
        spark.createDataFrame(
            [(i, " ".join(ws)) for i, ws in enumerate(docs)],
            "note_id long, note_text string"))
    got = {(r.note_id, r.sec_id, r.section, r.tok_start, r.tok_until)
           for r in SectionSegmenter(_SEC_TITLES)
           .sections_table(notes).collect()}
    title_of = {t: lbl for lbl, ts in _SEC_TITLES.items() for t in ts}
    want = set()
    for i, ws in enumerate(docs):
        heads = [(j, title_of[w]) for j, w in enumerate(ws) if w in title_of]
        for k, (j, lbl) in enumerate(heads):
            until = heads[k + 1][0] if k + 1 < len(heads) else len(ws)
            want.add((i, k + 1, lbl, j, until))
    assert got == want


# ---- temporal_mentions numeric dates vs a from-scratch rule model --------
# Generated "vu le D<sep>M<sep>Y fin" strings across valid/invalid
# day/month/year classes and all three delimiters, checked against a
# direct implementation of the documented rules: day 01-31, month
# 01-12, year 19xx/20xx/2-digit (<25 -> 2000+y, else year dropped but
# span kept with a '????' norm), calendar-invalid dates keep the span
# with a null parsed_date.  The Spark side runs the FULL machinery
# (matcher + FP resolution + component recovery + norm building).

_DT_DAYS = ["0", "1", "5", "05", "9", "10", "28", "29", "30", "31", "32"]
_DT_MONTHS = ["0", "1", "01", "2", "9", "10", "12", "13"]
_DT_YEARS = ["2021", "1994", "2024", "07", "24", "25", "99", "1850"]
_DT_SEPS = ["/", ".", "-"]


def _dt_model(ds, ms, y):
    import datetime
    import re as _re
    if not (_re.fullmatch(r"0?[1-9]|[12]\d|3[01]", ds)
            and _re.fullmatch(r"0?[1-9]|1[0-2]", ms)
            and _re.fullmatch(r"19\d\d|20\d\d|\d\d", y)):
        return None
    yy = (2000 + int(y) if int(y) < 25 else None) if len(y) == 2 else int(y)
    norm = f"{yy if yy is not None else '????'}-{int(ms):02d}-{int(ds):02d}"
    parsed = None
    if yy is not None:
        try:
            parsed = str(datetime.date(yy, int(ms), int(ds)))
        except ValueError:
            parsed = None
    return norm, parsed


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(_DT_DAYS),
                          st.sampled_from(_DT_MONTHS),
                          st.sampled_from(_DT_YEARS),
                          st.sampled_from(_DT_SEPS)),
                min_size=1, max_size=8))
def test_numeric_dates_match_rule_model(spark, combos):
    from edsnlp_spark.operators.dates import temporal_mentions

    rows = [(i, f"vu le {d}{sep}{m}{sep}{y} fin")
            for i, (d, m, y, sep) in enumerate(combos)]
    notes = spark.createDataFrame(rows, "note_id long, note_text string")
    got = {r.note_id: (r.norm, str(r.parsed_date) if r.parsed_date else None)
           for r in temporal_mentions(notes)
           .filter("kind = 'absolute'").collect()}
    for i, (d, m, y, sep) in enumerate(combos):
        want = _dt_model(d, m, y)
        assert got.get(i) == want, (combos[i], got.get(i), want)


# ---- extract_quantity vs a direct value/SI model -------------------------
# FIRST quantity in generated texts with decimal-comma/dot values, all
# registry units (longest-first alternation order matters: "ml" vs
# "m"), glued/spaced forms, and the _UNIT_END guard ("10cma" is NOT a
# quantity).  Model re-derives value, unit and SI conversion from the
# registry table directly.

_QV = ["3", "3,5", "12.25", "0,5", "120"]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(
    st.sampled_from(_QV),
    st.sampled_from(["mg", "kg", "m", "cm", "ml", "mm", "g"]),
    st.sampled_from(["", " "]),
    st.sampled_from([" fin", "a fin", " et 4 kg apres"]),
), min_size=1, max_size=8))
def test_extract_quantity_matches_model(spark, combos):
    from edsnlp_spark.operators.quantities import (
        extract_quantity, UNIT_REGISTRY)

    rows = [(i, f"valeur {v}{sep}{u}{tail}")
            for i, (v, u, sep, tail) in enumerate(combos)]
    df = spark.createDataFrame(rows, "note_id long, qty_text string")
    got = {r.note_id: (None if r.q is None else
                       (r.q.value, r.q.unit, round(r.q.value_si, 9)))
           for r in df.select(
               "note_id",
               extract_quantity(__import__("pyspark.sql.functions",
                                           fromlist=["col"])
                                .col("qty_text")).alias("q")).collect()}
    for i, (v, u, sep, tail) in enumerate(combos):
        glued_letter = tail.startswith("a")  # "10cma" -> guard kills it
        if glued_letter:
            # the first VALID quantity is the one in the tail, if any
            if "4 kg" in tail:
                want = (4.0, "kg", round(4.0 * UNIT_REGISTRY["kg"][1], 9))
            else:
                want = None
        else:
            val = float(v.replace(",", "."))
            want = (val, u, round(val * UNIT_REGISTRY[u][1], 9))
        assert got[i] == want, (rows[i], got[i], want)


# ---- r4: distributed markup parser vs Python spec ----------------------

_MK_CHUNK = st.sampled_from(
    ["txt", "a b", "<ent", "</ent>", ">", "x=y", " ", "\n", "<", "ent",
     "<ent label=a>in</ent>", "<ent k=v1 l=v2>deep</ent>", "<ent>b</ent>",
     # non-ASCII keys/values: driver path uses Python \w (Unicode), the
     # distributed path must match via [\p{L}\p{N}_] (VERDICT r5 #1)
     "<ent clé=v>é</ent>", "<ent étage=2 æøå=ö>ü</ent>", "étage=2"])


@settings(max_examples=20, deadline=None)
@given(st.lists(_MK_CHUNK, min_size=0, max_size=12))
def test_from_markup_native_fuzz(spark, chunks):
    """Random concatenations of markup fragments — including broken
    tags, stray '<ent'/'</ent>', and nested-looking runs — must parse
    identically in the distributed locate-fold path and the Python
    parse_markup spec (clean text, offsets, labels, attrs)."""
    from edsnlp_spark.sources.converters import from_markup, parse_markup
    markup = " ".join(chunks)
    df = spark.createDataFrame([(0, markup)], "note_id long, markup string")
    notes, ents = from_markup(df)
    text, es = parse_markup(markup)
    assert notes.collect()[0].note_text == text
    got = sorted(
        (r.start_char, r.end_char, r.label, r.lexical_variant,
         dict(r.attrs or {}))
        for r in ents.collect())
    exp = sorted(
        (e["start_char"], e["end_char"], e["label"], e["lexical_variant"],
         e["attrs"]) for e in es)
    assert got == exp, markup


# ---- r4: overflow-safe Knuth split hash --------------------------------

@settings(max_examples=30, deadline=None)
@given(st.one_of(
    st.integers(min_value=0, max_value=2**63 - 1),
    st.integers(min_value=3_000_000_000, max_value=6_000_000_000)))
def test_knuth32_matches_bigint_reference(spark, doc_id):
    """The 16-bit-split modmul must equal true big-integer
    (id * 2654435761) mod 2^32 for ANY int64 id — including ids above
    ~3.47e9 where the naive product overflows int64 (ADVICE r3)."""
    from edsnlp_spark.queries.textops import (_knuth32, _knuth32_sql,
                                              _SPLIT_MULT, _SPLIT_MOD)
    import duckdb
    expected = (doc_id * _SPLIT_MULT) % _SPLIT_MOD  # Python bigint
    got_spark = spark.createDataFrame(
        [(doc_id,)], "doc_id long").select(
        _knuth32(F.col("doc_id")).alias("h")).collect()[0].h
    got_duck = duckdb.sql(
        f"SELECT {_knuth32_sql(str(doc_id))} AS h").fetchone()[0]
    assert got_spark == expected == got_duck


# ---- r4: shuffle-free gopher repetition vs Python model ----------------

_GR_TOK = st.sampled_from(["a", "b", "ab", "ccc", ""])


@settings(max_examples=25, deadline=None)
@given(st.lists(_GR_TOK, min_size=0, max_size=14))
def test_gopher_fold_matches_python_model(spark, toks):
    """The in-row sorted-run fold must reproduce exact bigram multiset
    statistics on texts WITH consecutive/leading/trailing spaces (the
    r3 ADVICE divergence class): both sides split on single space,
    empty tokens kept."""
    from collections import Counter
    from edsnlp_spark.queries.textops import gopher_repetition
    import edsnlp_spark.queries.textops as T
    text = " ".join(toks)
    parts = text.split(" ")
    grams = [f"{a} {b}" for a, b in zip(parts, parts[1:])]
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    orig_t = T._t
    T._t = lambda sp, sf, name: df  # route the query at this one-row table
    try:
        rows = gopher_repetition(spark, "unused").collect()
    finally:
        T._t = orig_t
    if not grams:
        assert rows == []
        return
    c = Counter(grams)
    tot = sum(c.values())
    dup = sum(v for v in c.values() if v > 1)
    top = max(c.values())
    r = rows[0]
    assert r.n_bigrams == tot
    assert abs(r.dup_bigram_frac - round(dup / tot, 4)) < 1e-9
    assert abs(r.top_bigram_frac - round(top / tot, 4)) < 1e-9


# ---- r6: exact-substring dedup vs Python model --------------------------

_DWORD = st.sampled_from(["a", "b", "c", "dd", "ee"])


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(_DWORD, min_size=0, max_size=12),
                min_size=1, max_size=6),
       st.integers(min_value=2, max_value=4))
def test_duplicated_windows_fuzz(spark, docs_tokens, n):
    """Random small-vocab corpora: duplicated_windows must agree with a
    brute-force Python model (every n-token window counted corpus-wide,
    positions reported for every window occurring >= 2 times)."""
    from collections import Counter

    from edsnlp_spark.operators.dedup import duplicated_windows

    texts = [" ".join(toks) for toks in docs_tokens]
    model_wins = []
    for d, toks in enumerate(docs_tokens):
        if texts[d] == "":
            continue
        for p in range(len(toks) - n + 1):
            model_wins.append((d, p, " ".join(toks[p:p + n])))
    counts = Counter(w for _, _, w in model_wins)
    want = {(d, p): counts[w] for d, p, w in model_wins if counts[w] >= 2}

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {(r["doc_id"], r["pos"]): r["occurrences"]
           for r in duplicated_windows(df, n=n).collect()}
    assert got == want


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(_DWORD, min_size=0, max_size=12),
                min_size=1, max_size=6),
       st.integers(min_value=2, max_value=4))
def test_strip_duplicated_spans_fuzz(spark, docs_tokens, n):
    """r7: strip_duplicated_spans must agree with a brute-force Python
    model — group all n-token windows by text, keep the (doc, pos)-min
    occurrence per duplicated group, union the other occurrences'
    [pos, pos+n) ranges per doc, drop covered tokens."""
    from collections import defaultdict

    from edsnlp_spark.operators.dedup import strip_duplicated_spans

    texts = [" ".join(toks) for toks in docs_tokens]
    occ = defaultdict(list)
    for d, toks in enumerate(docs_tokens):
        if texts[d] == "":
            continue
        for p in range(len(toks) - n + 1):
            occ[" ".join(toks[p:p + n])].append((d, p))
    covered = defaultdict(set)
    for places in occ.values():
        if len(places) < 2:
            continue
        for d, p in sorted(places)[1:]:
            covered[d].update(range(p, p + n))
    want = {}
    for d, toks in enumerate(docs_tokens):
        kept = [t for i, t in enumerate(toks) if i not in covered[d]]
        want[d] = (" ".join(kept) if covered[d] else texts[d],
                   len(covered[d]))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_removed"])
           for r in strip_duplicated_spans(df, n=n).collect()}
    assert got == want


# ---- single-space token count in one regex pass --------------------------


def test_bm25_dl_regexp_count_equivalence(spark, sf_dir):
    """regexp_count(text, ' ') + 1 counts the tokens of a single-space
    split without re-tokenizing the corpus with
    size(split(lower(text), ' ', -1)).
    Pin the per-row equality of the two expressions over the real
    corpus AND a hostile edge set (empties, space runs, tabs/newlines,
    trailing spaces, Unicode chars with expanding lowercase mappings
    like U+0130, nulls)."""
    import pyspark.sql.functions as F

    edge = spark.createDataFrame(
        [(0, ""), (1, " "), (2, "  "), (3, "a b"), (4, "a  b "),
         (5, "\ta\nb "), (6, "İ STRASSE ß"), (7, None),
         (8, "x" * 500 + " " + "y" * 500)],
        "doc_id long, text string")
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    for df in (edge, corpus):
        bad = df.select(
            (F.size(F.split(F.lower("text"), " ", -1))
             != F.regexp_count(F.col("text"), F.lit(" ")) + F.lit(1))
            .alias("neq")).filter(F.coalesce(F.col("neq"), F.lit(False)))
        assert bad.count() == 0
        # NULL text: both sides must be NULL (excluded from the sum)
    nulls = edge.filter(F.col("text").isNull()).select(
        F.size(F.split(F.lower("text"), " ", -1)).alias("a"),
        (F.regexp_count(F.col("text"), F.lit(" ")) + F.lit(1)).alias("b"))
    row = nulls.collect()[0]
    assert row["a"] is None and row["b"] is None


@settings(max_examples=12, deadline=None)
@given(st.lists(st.lists(_DWORD, min_size=0, max_size=14),
                min_size=1, max_size=5),
       st.integers(min_value=2, max_value=3),
       st.integers(min_value=2, max_value=3))
def test_winnowing_fingerprints_fuzz(spark, docs_tokens, k, w):
    """r7 (Schleimer et al. 2003): winnowing must agree with a
    brute-force Python model (min k-gram hash per sliding w-window,
    global min for short docs), and the selection guarantee must hold —
    docs sharing a token run of >= w + k - 1 share a fingerprint."""
    import hashlib

    from edsnlp_spark.operators.dedup import winnowing_fingerprints

    def model(toks):
        hs = [int(hashlib.md5(
            " ".join(toks[i:i + k]).encode()).hexdigest()[:15], 16)
            for i in range(len(toks) - k + 1)]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    texts = [" ".join(t) for t in docs_tokens]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, toks in enumerate(docs_tokens):
        assert got.get(i, set()) == model(toks), (i, k, w)

    # guarantee check on a planted shared run
    run = ["r1", "r2", "r3", "r4", "r5", "r6"][:w + k - 1]
    pair = spark.createDataFrame(
        [(0, " ".join(["x"] + run)), (1, " ".join(run + ["y"]))],
        "doc_id long, text string")
    fps: dict[int, set] = {0: set(), 1: set()}
    for r in winnowing_fingerprints(pair, k=k, w=w).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[0] & fps[1], (k, w)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(_DWORD, min_size=1, max_size=10),
                min_size=2, max_size=6))
def test_simhash_neardup_fuzz(spark, docs_tokens):
    """r7 (Manku et al. WWW'07): banded Hamming search must return
    EXACTLY the pairs within max_hamming of a Python SimHash model —
    the pigeonhole guarantee means no candidate within threshold is
    ever missed, and verification drops everything beyond it."""
    import hashlib
    import itertools

    import pytest

    from edsnlp_spark.operators.dedup import simhash_neardup_pairs

    def simhash(toks):
        votes = [0] * 64
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
            for b in range(64):
                word = lo if b < 32 else hi
                votes[b] += 1 if (word >> (b % 32)) & 1 else -1
        return [1 if v > 0 else 0 for v in votes]

    fps = {i: simhash(t) for i, t in enumerate(docs_tokens)}
    want = {}
    for a, b in itertools.combinations(sorted(fps), 2):
        d = sum(x != y for x, y in zip(fps[a], fps[b]))
        if d <= 7:
            want[(a, b)] = d

    texts = [" ".join(t) for t in docs_tokens]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_neardup_pairs(df, max_hamming=7,
                                          bands=8).collect()}
    assert got == want

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(df, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        simhash_neardup_pairs(df, max_hamming=2, bands=7)


def test_ranking_metrics_hand_computed(spark):
    """r7 (Jarvelin & Kekalainen 2002): recall@k / MRR / nDCG@k match a
    hand-derived example, including a query with zero hits in the
    top-k (all-zero metrics) and an IDCG prefix capped at n_rel."""
    import math

    from edsnlp_spark.operators.metrics import ranking_metrics

    # q0: relevant docs {1, 2, 9}; hits at ranks 1 and 3
    # q1: relevant {5}; never retrieved
    # q2: relevant {7}; hit at rank 2
    ranked = spark.createDataFrame(
        [(0, 1, 1), (0, 4, 2), (0, 2, 3),
         (1, 8, 1), (1, 6, 2),
         (2, 3, 1), (2, 7, 2)],
        "query_id long, doc_id long, rank long")
    qrels = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 9), (1, 5), (2, 7)],
        "query_id long, doc_id long")
    got = {r["query_id"]: (r["n_rel"], r["recall_at_k"], r["mrr"],
                           r["ndcg"])
           for r in ranking_metrics(ranked, qrels, k=3).collect()}

    def g(r):
        return math.log(2) / math.log(r + 1)
    ndcg0 = (g(1) + g(3)) / (g(1) + g(2) + g(3))
    assert got[0] == (3, round(2 / 3, 4), 1.0, round(ndcg0, 4))
    assert got[1] == (1, 0.0, 0.0, 0.0)
    assert got[2] == (1, 1.0, 0.5, round(g(2) / g(1), 4))


# ---- r8: sliding-window chunking vs Python model -------------------------

@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c", "dd"]),
                         min_size=1, max_size=40),
                min_size=1, max_size=5),
       st.integers(min_value=2, max_value=9),
       st.integers(min_value=0, max_value=4))
def test_chunk_documents_fuzz(spark, docs_tokens, chunk_size, overlap):
    """r8: chunk_documents must agree with a brute-force Python model
    (stride offsets, bounded slices, short docs -> one chunk) for any
    (chunk_size, overlap) config."""
    from edsnlp_spark.operators.packing import chunk_documents

    if overlap >= chunk_size:
        overlap = chunk_size - 1
    stride = chunk_size - overlap
    want = {}
    for d, toks in enumerate(docs_tokens):
        n = len(toks)
        if n <= chunk_size:
            n_chunks = 1
        else:
            n_chunks = (n - chunk_size + stride - 1) // stride + 1
        for c in range(n_chunks):
            s = c * stride
            ln = min(chunk_size, n - s)
            want[(d, c)] = (s, ln, " ".join(toks[s:s + ln]))

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs_tokens)],
        "doc_id long, text string")
    got = {(r["doc_id"], r["chunk_id"]):
           (r["start_tok"], r["n_tok"], r["chunk_text"])
           for r in chunk_documents(df, chunk_size, overlap).collect()}
    assert got == want


def test_rouge_n_matches_python_reference(spark):
    """Clipped n-gram overlap vs a collections.Counter reference."""
    import random
    from collections import Counter

    from edsnlp_spark.operators.metrics import rouge_n

    rnd = random.Random(17)
    vocab = ["x", "y", "z", "w"]
    pairs = [(i, " ".join(rnd.choice(vocab) for _ in range(20)),
              " ".join(rnd.choice(vocab) for _ in range(15)))
             for i in range(25)]
    cand = spark.createDataFrame([(i, c) for i, c, _ in pairs],
                                 "pair_id long, text string")
    ref = spark.createDataFrame([(i, r) for i, _, r in pairs],
                                "pair_id long, text string")
    for n in (1, 2, 3):
        got = {r.pair_id: (r.overlap, r.n_cand, r.n_ref)
               for r in rouge_n(cand, ref, n).collect()}
        for i, c, r in pairs:
            ct, rt = c.split(" "), r.split(" ")
            cg = Counter(tuple(ct[j:j + n])
                         for j in range(len(ct) - n + 1))
            rg = Counter(tuple(rt[j:j + n])
                         for j in range(len(rt) - n + 1))
            ov = sum(min(cg[g], rg[g]) for g in cg)
            assert got[i] == (ov, sum(cg.values()), sum(rg.values())), (
                n, i)


def test_wordpiece_encode_invariants(spark):
    """Fuzz: for any vocab built from a corpus's own words, a non-UNK
    encode must (a) concatenate back to the word ('##' stripped) and
    (b) be greedy — no longer vocab piece matches at each cursor."""
    import random

    from edsnlp_spark.operators.wordpiece import (wordpiece_encode_word,
                                                  wordpiece_train)

    rnd = random.Random(41)
    alphabet = "abcd"
    words = ["".join(rnd.choice(alphabet)
                     for _ in range(rnd.randrange(1, 9)))
             for _ in range(120)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i * 12:(i + 1) * 12]))
         for i in range(10)], "doc_id long, text string")
    vocab = wordpiece_train(docs, n_merges=20, batch=8)
    vs, ml = set(vocab), max(len(p) for p in vocab)
    probe = words + ["zzz", "abcz", ""]
    for w in probe:
        got = wordpiece_encode_word(w, vs, ml, "[UNK]")
        if got == ["[UNK]"]:
            continue
        # (a) reconstruction
        flat = "".join(p[2:] if p.startswith("##") else p for p in got)
        assert flat == w, (w, got)
        # (b) greediness: at each cursor the chosen piece is the
        # longest matching vocab entry
        i = 0
        for k, p in enumerate(got):
            body = p[2:] if p.startswith("##") else p
            pref = "" if i == 0 else "##"
            for ln in range(len(w) - i, len(body), -1):
                assert pref + w[i:i + ln] not in vs, (w, got, k)
            i += len(body)
