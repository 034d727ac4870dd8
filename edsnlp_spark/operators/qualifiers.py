"""Rule-based qualifiers: negation / family / hypothesis / history /
reported_speech — ONE parameterized relational engine.

Parity target: RuleBasedQualifier (edsnlp/pipes/qualifiers/base.py:63) and
its five subclasses (negation.py:52-364, family.py:51, hypothesis.py:51,
history.py:56, reported_speech.py:51).  The shared algorithm:

1. scan cue terms by class (pseudo / preceding / following / verbs /
   termination, plus regex classes: negation's preceding_regex and
   reported_speech's quotation) on NORM;
2. cut the document into *boundaries*: sub-sentences split at termination
   cue STARTS (pipes/base.py:130-141 — sentence starts ∪ termination
   starts);
3. pseudo cues suppress overlapping real cues with filter_spans ordering
   (utils/filter.py:106-128: longest-then-leftmost wins — a real cue
   survives iff no overlapping pseudo sorts strictly before it);
   terminations are extracted BEFORE the pseudo filter (negation.py:305)
   so they are exempt;
4. an entity belongs to EVERY boundary it overlaps (check_inclusion +
   consume_spans second_chance, utils/inclusion.py:4) and its final value
   is the OR over those boundaries (``ent._.X = ent._.X or X``);
5. within a boundary, a cue qualifies the entity per class:
   preceding/verbs (and preceding_regex): cue.end <= ent.start
   (within_ents: <= ent.end); following: cue.start >= ent.end
   (within_ents: >= ent.start); family's cue class is *boundary*-scoped
   (family.py:229-233: ``family = bool(cues)`` — any cue anywhere in the
   boundary); reported_speech's quotation qualifies iff the quote span
   strictly contains the entity (reported_speech.py:288-292).

Spark design (SURVEY.md §2.7): this is sessionization + an interval join,
planned ONCE for all of a pipeline's engines (:func:`qualify_all`).
- cue scan = ONE PhraseMatcher broadcast join over a labelled dictionary
  of (qualifier, cue_class, ngram) rows (+ one RegexMatcher per engine
  for the regex classes, char spans re-aligned to token indices);
- boundary ids = cut points -> intervals per note, in ONE table keyed by
  a set id per distinct (attr, termination terms);
- entity -> boundary assignment = equi-join on note_id + OVERLAP
  predicate (per-note row counts are tiny, AQE handles skew);
- qualification = ONE left join on (note_id, set, boundary_id) + ONE
  grouped max emitting every qualifier column (the OR over boundaries
  and cues in one aggregation);
- pseudo suppression = left anti join on span overlap + sort-key order,
  per (note, qualifier).

All five pipes are configs of this one class.
"""

from __future__ import annotations

import functools
import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, functions as F

from ..core.base import Transformer
from ..core import caching
from ..functions.memo import memo_column
from .filter_spans import filter_spans
from .matcher import PhraseMatcher, RegexMatcher
from .. import registry

# Cue classes matched as phrases vs regexes; "boundary" qualifies every
# entity sharing its boundary (family semantics), "quotation" qualifies
# strictly-contained entities (reported speech).
_PHRASE_CLASSES = ("preceding", "following", "verbs", "pseudo",
                   "termination", "boundary")
_REGEX_CLASSES = ("preceding_regex", "quotation")
_PRECEDING_LIKE = ("preceding", "verbs", "preceding_regex")


class QualifierEngine(Transformer):
    name = "eds.qualifier"

    def __init__(self, qualifier: str,
                 cues: dict[str, Iterable[str]],
                 attr: str = "NORM",
                 within_ents: bool = False,
                 section_label: str | None = None):
        """cues: any subset of {'preceding', 'following', 'verbs',
        'pseudo', 'termination', 'boundary', 'preceding_regex',
        'quotation'} — phrase classes as enumerated at negation.py:327-332
        plus the regex classes (negation.py:200, reported_speech.py:180).

        within_ents (negation.py:346-354): when False (the reference's
        default) a cue must lie strictly outside the entity
        (cue.end <= ent.start / cue.start >= ent.end); when True the
        bound relaxes to the entity's far edge.

        section_label: when set, ``qualify(..., sections=...)`` treats a
        section span with this label as a boundary-scoped cue for the
        FIRST boundary starting inside it (family.py:206-225
        use_sections + consume_spans without second_chance).
        """
        self.qualifier = qualifier
        self.cues = {k: list(v) if not isinstance(v, str) else [v]
                     for k, v in cues.items() if v}
        unknown = set(self.cues) - set(_PHRASE_CLASSES) - set(_REGEX_CLASSES)
        if unknown:
            raise ValueError(f"unknown cue classes: {sorted(unknown)}")
        self.attr = attr
        self.within_ents = within_ents
        self.section_label = section_label
        if not self.cues:
            raise ValueError(
                f"QualifierEngine({qualifier!r}): no non-empty cue class "
                f"given — provide at least one of "
                f"{_PHRASE_CLASSES + _REGEX_CLASSES}")

    @caching.leased
    def qualify(self, notes: DataFrame, entities: DataFrame,
                sections: DataFrame | None = None) -> DataFrame:
        """entities (flat plane, with tok_start/tok_end) + boolean column
        named after the qualifier: the one-engine :func:`qualify_all`."""
        return qualify_all([self], notes, entities, sections)

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError(
            "QualifierEngine operates on (notes, entities); use .qualify()"
        )


def _regex_cues(rx: DataFrame, notes: DataFrame) -> DataFrame:
    """Regex matches (char spans) -> token-index cue rows.

    Token alignment = the reference's char_span(alignment_mode=
    "expand"): tok_start = #tokens ending at-or-before start_char,
    tok_end = #tokens starting before end_char — native HOFs on the
    nested tokens column, no shuffle beyond the note_id equi-join.
    """
    toks = notes.select(
        "note_id", F.col("tokens").alias("__toks"))
    sc, ec = F.col("start_char"), F.col("end_char")
    return (
        rx.join(toks, "note_id")
        .select(
            "note_id",
            F.size(F.filter("__toks", lambda t: t["end"] <= sc))
            .cast("int").alias("tok_start"),
            F.size(F.filter("__toks", lambda t: t["start"] < ec))
            .cast("int").alias("tok_end"),
            F.col("label").alias("cue_class"),
        )
    )


def _cue_table(engines: list[QualifierEngine], set_of: list[int],
               notes: DataFrame) -> DataFrame:
    """(note_id, q, b_set, tok_start, tok_end, cue_class) pseudo-resolved
    cue rows: ``q`` is the engine's index, ``b_set`` its boundary set.
    Per attr, ONE PhraseMatcher scans every engine's phrase classes,
    labelled ``q:b_set:cue_class``; a set's terminations enter once,
    with a null ``q``."""
    parts = []
    for attr in dict.fromkeys(e.attr for e in engines):
        terms = {}
        for q, (e, s) in enumerate(zip(engines, set_of)):
            for c, t in e.cues.items() if e.attr == attr else ():
                if c == "termination":
                    terms[f":{s}:{c}"] = t
                elif c in _PHRASE_CLASSES:
                    terms[f"{q}:{s}:{c}"] = t
        if terms:
            lab = F.split("label", ":")
            parts.append(PhraseMatcher(
                terms, attr=attr, span_type="cue").entities(notes).select(
                "note_id",
                F.when(lab[0] != "", lab[0].cast("int")).alias("q"),
                lab[1].cast("int").alias("b_set"),
                "tok_start", "tok_end", lab[2].alias("cue_class")))
    for q, (e, s) in enumerate(zip(engines, set_of)):
        pats = {c: t for c, t in e.cues.items() if c in _REGEX_CLASSES}
        if pats:
            # One matcher per engine: native=True routes through the JVM
            # locate fold, and RegexMatcher's soundness guard sends the
            # WHOLE matcher to the exact Arrow path when any of its
            # patterns carries zero-width constructs (\b, lookaheads —
            # negation's preceding_regex does), so reported_speech's
            # plain quotation pattern stays native only in its own.
            rx = RegexMatcher(pats, attr=e.attr, span_type="cue", native=True)
            parts.append(_regex_cues(rx.entities(notes), notes)
                         .withColumns({"q": F.lit(q), "b_set": F.lit(s)}))
    cues = functools.reduce(DataFrame.unionByName, parts)
    if not any("pseudo" in e.cues for e in engines):
        return cues
    # filter_spans(label_to_remove="pseudo") semantics
    # (utils/filter.py:106-128), per (note, qualifier): one qualifier's
    # pseudo never shadows another's cue.  Spans sort by (length, -start)
    # descending; only PSEUDO spans claim tokens, and only when they
    # were themselves disjoint from earlier-kept pseudos
    # (seen_tokens is not updated for shadowed pseudos) — so the
    # pseudo set is first self-resolved with the same greedy fold as
    # filter_spans, and a real cue overlapping only a SHADOWED
    # pseudo survives, like the reference (round-3 ADVICE #2).  A
    # non-termination cue is then discarded iff it overlaps a KEPT
    # pseudo of its qualifier that sorts strictly before it.
    # Terminations were consumed earlier (negation.py:305) and never
    # suppressed.
    # Exact (length, start) ties between a pseudo and a real cue
    # (identical extents): the reference's stable sort falls back to
    # EDSPhraseMatcher emission order, and for one span carrying
    # several labels that order is ``map_iter`` over a preshed HASH
    # MAP keyed by label hash (matchers/phrase.pyx:144-146) — i.e.
    # which label wins depends on string-hash bucket order, an
    # artifact no engine should reproduce.  Here the real cue
    # deterministically survives (pinned by
    # test_pseudo_real_exact_tie_keeps_real).
    pseudo = cues.filter(F.col("cue_class") == "pseudo")
    # filter_spans groups by note_id, here a (note, qualifier) struct
    kept_pseudo = filter_spans(
        pseudo.select(F.struct("note_id", "q").alias("note_id"),
                      "tok_start", "tok_end", "cue_class"),
        start_col="tok_start", end_col="tok_end", label_col="cue_class")
    real = cues.filter(F.col("cue_class") != "pseudo")
    term = real.filter(F.col("cue_class") == "termination")
    nonterm = real.filter(F.col("cue_class") != "termination")
    p = kept_pseudo.select(
        F.col("note_id.note_id").alias("p_note"),
        F.col("note_id.q").alias("p_q"),
        F.col("tok_start").alias("p_s"), F.col("tok_end").alias("p_e"),
    )
    r_len = nonterm["tok_end"] - nonterm["tok_start"]
    p_len = p["p_e"] - p["p_s"]
    wins = (p_len > r_len) | (
        (p_len == r_len) & (p["p_s"] < nonterm["tok_start"]))
    nonterm = nonterm.join(
        p,
        (nonterm["note_id"] == p["p_note"])
        & (nonterm["q"] == p["p_q"])
        & (nonterm["tok_start"] < p["p_e"])
        & (p["p_s"] < nonterm["tok_end"])
        & wins,
        "left_anti",
    )
    return nonterm.unionByName(term)


def _boundaries(notes: DataFrame, cues: DataFrame, n_sets: int) -> DataFrame:
    """(note_id, b_set, b_start, b_end, boundary_id) token-index
    intervals of every note, for each boundary set 0..n_sets-1.

    Cut points = sentence starts ∪ the set's termination-cue STARTS ∪
    doc end (pipes/base.py:130-141).  The cut set is assembled per note
    with array HOFs (sentence starts are already a nested column) and
    pair-zipped in place, so the only shuffle is the small
    termination-cut groupBy — no distinct/window passes over an
    exploded cuts plane (that shape cost ~1.6s of negation_tokens'
    2.7s at sf0.1)."""
    term = cues.filter(F.col("cue_class") == "termination") \
        .groupBy("note_id", "b_set") \
        .agg(F.collect_set("tok_start").alias("__tc"))
    base = notes.select(
        "note_id",
        F.explode(F.array(*map(F.lit, range(n_sets)))).alias("b_set"),
        F.transform("sentences", lambda s: s["tok_start"]).alias("__sc"),
        F.size("tokens").alias("__n"),
    ).join(term, ["note_id", "b_set"], "left")
    def _cut_pairs():
        # pure function of the __sc/__tc/__n column names —
        # memoizable template (r15; the r4 memo_column rule)
        cuts = F.array_sort(F.array_distinct(F.concat(
            F.col("__sc"),
            F.coalesce(F.col("__tc"),
                       F.expr("cast(array() as array<int>)")),
            F.array(F.col("__n")))))
        return F.filter(
            F.zip_with(
                cuts,
                F.slice(cuts, 2,
                        F.greatest(F.size(cuts) - 1, F.lit(1))),
                lambda a, b: F.struct(a.alias("b_start"),
                                      b.alias("b_end"))),
            lambda x: x["b_end"].isNotNull())

    pairs = memo_column(("qualifier_boundary_pairs",), _cut_pairs)
    return base.select(
        "note_id", "b_set", F.posexplode(pairs).alias("__i", "__b")
    ).select(
        "note_id", "b_set",
        F.col("__b.b_start").alias("b_start"),
        F.col("__b.b_end").alias("b_end"),
        (F.col("__i") + 1).cast("int").alias("boundary_id"),
    )


def _section_cues(bounds: DataFrame, sections: DataFrame, label: str,
                  q: int, b_set: int) -> DataFrame:
    """family use_sections (family.py:206-225): a section span with
    ``label`` acts as a boundary-scoped cue of engine ``q`` for the
    FIRST boundary of its set whose start token lies inside it
    (consume_spans without second_chance consumes each section exactly
    once)."""
    s = sections.filter(
        F.col("section") == label
    ).select(
        F.col("note_id").alias("s_note"),
        F.col("tok_start").alias("s_s"),
        F.col("tok_until").alias("s_e"),
    )
    b = bounds.filter(F.col("b_set") == b_set)
    hit = b.join(
        s,
        (b["note_id"] == s["s_note"])
        & (b["b_start"] >= s["s_s"]) & (b["b_start"] < s["s_e"]),
        "inner",
    )
    first = hit.groupBy("s_note", "s_s", "s_e").agg(
        F.min("boundary_id").alias("c_bid"))
    return first.select(
        F.col("s_note").alias("c_note"),
        F.lit(b_set).alias("c_set"), "c_bid", F.lit(q).alias("c_q"),
        F.lit(None).cast("int").alias("c_s"),
        F.lit(None).cast("int").alias("c_e"),
        F.lit("boundary").alias("cue_class"),
    )


def _hit(within_ents: bool):
    prec_bound = F.col("tok_end") if within_ents else F.col("tok_start")
    foll_bound = F.col("tok_start") if within_ents else F.col("tok_end")
    return (
        (F.col("cue_class").isin(*_PRECEDING_LIKE)
         & (F.col("c_e") <= prec_bound))
        | ((F.col("cue_class") == "following")
           & (F.col("c_s") >= foll_bound))
        | (F.col("cue_class") == "boundary")
        | ((F.col("cue_class") == "quotation")
           & (F.col("c_s") < F.col("tok_start"))
           & (F.col("c_e") > F.col("tok_end")))
    )


@caching.leased
def qualify_all(engines: list[QualifierEngine], notes: DataFrame,
                entities: DataFrame,
                sections: DataFrame | None = None) -> DataFrame:
    """entities (flat plane, with tok_start/tok_end) + one boolean column
    per engine, named after its qualifier, in ``engines`` order.

    Plan shape matters at scale: each derived table (cues, boundaries)
    is referenced more than once downstream, so we persist them —
    otherwise the lazy subtree (tokenize -> scan -> window) is
    re-planned and re-executed per reference, which blows up both
    optimizer time and runtime (observed 100x on 500 docs).  Duplicate
    entity rows (identical on all columns) collapse.
    """
    # engines with the same attr and termination terms share one set
    ids: dict = {}
    set_of = [ids.setdefault((e.attr, tuple(sorted(
        e.cues.get("termination", ())))), len(ids)) for e in engines]
    cues = caching.persist(_cue_table(engines, set_of, notes))
    bounds = caching.persist(_boundaries(notes, cues, max(set_of) + 1))
    # entity -> EVERY boundary it overlaps, in every set
    # (check_inclusion, utils/inclusion.py:4-25) — the grouped max
    # implements the reference's OR across boundaries
    b = bounds.select(F.col("note_id").alias("b_note"), "b_set",
                      "b_start", "b_end", "boundary_id")
    ents_b = entities.join(
        b,
        (entities["note_id"] == b["b_note"])
        & (entities["tok_start"] < b["b_end"])
        & (b["b_start"] < entities["tok_end"]),
        "left",
    ).drop("b_note", "b_start", "b_end")
    # cue -> the boundary of its engine's set containing its START (the
    # reference consumes matches by ``start <= s.start < end``)
    cues_b = cues.filter(F.col("cue_class") != "termination") \
        .join(bounds, ["note_id", "b_set"]) \
        .filter((F.col("tok_start") >= F.col("b_start"))
                & (F.col("tok_start") < F.col("b_end"))) \
        .select(
            F.col("note_id").alias("c_note"), F.col("b_set").alias("c_set"),
            F.col("boundary_id").alias("c_bid"), F.col("q").alias("c_q"),
            F.col("tok_start").alias("c_s"), F.col("tok_end").alias("c_e"),
            "cue_class")
    for q, (e, s) in enumerate(zip(engines, set_of)):
        if e.section_label is not None and sections is not None:
            cues_b = cues_b.unionByName(
                _section_cues(bounds, sections, e.section_label, q, s))
    joined = ents_b.join(
        cues_b,
        (F.col("note_id") == F.col("c_note"))
        & (F.col("b_set") == F.col("c_set"))
        & (F.col("boundary_id") == F.col("c_bid")),
        "left",
    )
    return joined.groupBy(*entities.columns).agg(*[
        F.coalesce(F.max(F.when((F.col("c_q") == q) & _hit(e.within_ents),
                                True)), F.lit(False)).alias(e.qualifier)
        for q, e in enumerate(engines)])


# ---- French default cue configs ---------------------------------------
# The reference's FULL pattern lists, snapshotted to
# resources/qualifier_patterns.json by scripts/build_qualifier_patterns.py
# (negation/patterns.py, family/patterns.py, hypothesis/patterns.py,
# history/patterns.py, reported_speech/patterns.py, terminations.py), and
# expanded with the full verb-conjugation table (resources/verbs.parquet)
# using each pipe's mode/tense filters.  Matched on NORM.

_PATTERNS_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources", "qualifier_patterns.json")

_PATTERNS: dict = {}


def _patterns() -> dict:
    if not _PATTERNS:
        with open(_PATTERNS_JSON, encoding="utf-8") as f:
            _PATTERNS.update(json.load(f))
    return _PATTERNS


HISTORY_CUES = {
    "preceding": ["antecedents", "antecedent", "atcd", "histoire de",
                  "il y a", "ancien", "ancienne", "en 19", "en 20",
                  "autrefois", "auparavant", "a l'age de"],
    "termination": ["actuellement", "aujourd'hui", "ce jour",
                    "a l'admission", "examen clinique"],
}

_DEFAULTS_EXPANDED: dict = {}


def default_cues(qualifier: str) -> dict:
    """The reference's full cue sets, per-pipe:

    * negation (negation.py:190-214, 247-272): terms from
      negation/patterns.py; termination = default termination set;
      verbs = Indicatif Présent ∪ Participe Présent ∪ Participe Passé ∪
      Infinitif Présent conjugations of the 8 negation lemmas;
      following += Participe Passé forms; preceding_regex = the
      "ne ... pas/point/ni/aucun/jamais/rien" lookahead.
    * hypothesis (hypothesis.py:188-204, 230-263): verbs = ALL
      conjugations of the 9 verbs_hyp lemmas ∪ Conditionnel of the 693
      verbs_eds lemmas; following += Participe Passé of verbs_hyp;
      termination = default set.
    * family (family.py:149-152, 229-233): the kinship terms as
      BOUNDARY-scoped cues (any cue in the boundary qualifies);
      termination = default set.
    * reported_speech (reported_speech.py:155-164, 202-228): verbs =
      Indicatif Présent 3s/3p ∪ Participe Présent ∪ Participe Passé of
      its 40 lemmas (preceding direction); quotation regex; NO
      termination (its _boundaries call passes none).
    * history: the light curated config (the full history pipe is the
      cross-pipe HistoryQualifier in operators/history.py).
    """
    if qualifier in _DEFAULTS_EXPANDED:
        return _DEFAULTS_EXPANDED[qualifier]
    from ..resources import conjugated_terms
    pats = _patterns()
    term_default = pats["termination_default"]
    if qualifier == "negation":
        p = pats["negation"]
        lem = p["verb_lemmas"]
        cues = {
            "pseudo": list(p["pseudo"]),
            "preceding": list(p["preceding"]),
            "preceding_regex": list(p["preceding_regex"]),
            "following": sorted(set(p["following"]) | set(
                conjugated_terms(lem,
                                 lambda d: d["tense"] == "Participe Passé"))),
            "verbs": sorted(set(
                conjugated_terms(lem, lambda d:
                    ((d["mode"] == "Indicatif") & (d["tense"] == "Présent"))
                    | d["tense"].isin(["Participe Présent", "Participe Passé",
                                       "Infinitif Présent"])))),
            "termination": list(term_default),
        }
    elif qualifier == "hypothesis":
        p = pats["hypothesis"]
        hyp, eds = p["verbs_hyp_lemmas"], p["verbs_eds_lemmas"]
        cues = {
            "pseudo": list(p["pseudo"]),
            "preceding": list(p["preceding"]),
            "following": sorted(set(p["following"]) | set(
                conjugated_terms(hyp,
                                 lambda d: d["tense"] == "Participe Passé"))),
            "verbs": sorted(
                set(conjugated_terms(hyp))
                | set(conjugated_terms(
                    eds, lambda d: d["mode"] == "Conditionnel"))),
            "termination": list(term_default),
        }
    elif qualifier == "family":
        cues = {
            "boundary": list(pats["family"]["family"]),
            "termination": list(term_default),
        }
    elif qualifier == "reported_speech":
        p = pats["reported_speech"]
        cues = {
            "preceding": list(p["preceding"]),
            "following": list(p["following"]),
            "verbs": sorted(set(
                conjugated_terms(p["verb_lemmas"], lambda d:
                    ((d["mode"] == "Indicatif") & (d["tense"] == "Présent")
                     & d["person"].isin(["3s", "3p"]))
                    | d["tense"].isin(["Participe Présent",
                                       "Participe Passé"])))),
            "quotation": [p["quotation"]],
        }
    elif qualifier == "history":
        cues = {k: list(v) for k, v in HISTORY_CUES.items()}
    else:
        raise KeyError(qualifier)
    _DEFAULTS_EXPANDED[qualifier] = cues
    return cues


def make_qualifier(qualifier: str, cues: dict | None = None, **kw) -> QualifierEngine:
    if qualifier == "family" and "section_label" not in kw:
        kw["section_label"] = "antecedents familiaux"
    return QualifierEngine(qualifier, cues or default_cues(qualifier), **kw)


for _q in ("negation", "family", "hypothesis", "history", "reported_speech"):
    registry.register(f"eds.{_q}")(
        lambda qualifier=_q, **kw: make_qualifier(qualifier, **kw)
    )
