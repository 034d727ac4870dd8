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

Spark design (SURVEY.md §2.7): this is sessionization + an interval join.
- cue scan = PhraseMatcher broadcast join (+ RegexMatcher Arrow path for
  the regex classes, char spans re-aligned to token indices natively);
- boundary ids = cut points -> intervals via a lead() window per note;
- entity -> boundary assignment = equi-join on note_id + OVERLAP
  predicate (per-note row counts are tiny, AQE handles skew);
- qualification = ONE left join on (note_id, boundary_id) + grouped max
  (the OR over boundaries and cues in one aggregation);
- pseudo suppression = left anti join on span overlap + sort-key order.

All five pipes are configs of this one class.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, Window, functions as F

from ..core.base import Transformer
from ..core import caching
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
        phrase = {c: t for c, t in self.cues.items() if c in _PHRASE_CLASSES}
        self._cue_matcher = PhraseMatcher(
            phrase, attr=attr, span_type="cue") if phrase else None
        rx = {c: t for c, t in self.cues.items() if c in _REGEX_CLASSES}
        # native=True routes through the JVM locate fold; RegexMatcher's
        # soundness guard automatically falls back to the exact Arrow
        # path when any pattern carries zero-width constructs (\b,
        # lookaheads — the default negation/rspeech sets do; a plain
        # quotation pattern stays fully native).
        self._rx_matcher = RegexMatcher(
            rx, attr=attr, span_type="cue", native=True) if rx else None
        if self._cue_matcher is None and self._rx_matcher is None:
            raise ValueError(
                f"QualifierEngine({qualifier!r}): no non-empty cue class "
                f"given — provide at least one of "
                f"{_PHRASE_CLASSES + _REGEX_CLASSES}")

    # -- relational pieces -------------------------------------------------

    def _regex_cues(self, notes: DataFrame) -> DataFrame:
        """Regex matches (char spans) -> token-index cue rows.

        Token alignment = the reference's char_span(alignment_mode=
        "expand"): tok_start = #tokens ending at-or-before start_char,
        tok_end = #tokens starting before end_char — native HOFs on the
        nested tokens column, no shuffle beyond the note_id equi-join.
        """
        rx = self._rx_matcher.entities(notes)
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

    def _cue_table(self, notes: DataFrame) -> DataFrame:
        parts = []
        if self._cue_matcher is not None:
            parts.append(self._cue_matcher.entities(notes).select(
                "note_id", "tok_start", "tok_end",
                F.col("label").alias("cue_class")))
        if self._rx_matcher is not None:
            parts.append(self._regex_cues(notes))
        cues = parts[0]
        for p in parts[1:]:
            cues = cues.unionByName(p)
        if "pseudo" not in self.cues:
            return cues
        # filter_spans(label_to_remove="pseudo") semantics
        # (utils/filter.py:106-128): spans sort by (length, -start)
        # descending; only PSEUDO spans claim tokens, and only when they
        # were themselves disjoint from earlier-kept pseudos
        # (seen_tokens is not updated for shadowed pseudos) — so the
        # pseudo set is first self-resolved with the same greedy fold as
        # filter_spans, and a real cue overlapping only a SHADOWED
        # pseudo survives, like the reference (round-3 ADVICE #2).  A
        # non-termination cue is then discarded iff it overlaps a KEPT
        # pseudo that sorts strictly before it.  Terminations were
        # consumed earlier (negation.py:305) and never suppressed.
        # Exact (length, start) ties between a pseudo and a real cue
        # (identical extents): the reference's stable sort falls back to
        # EDSPhraseMatcher emission order, and for one span carrying
        # several labels that order is ``map_iter`` over a preshed HASH
        # MAP keyed by label hash (matchers/phrase.pyx:144-146) — i.e.
        # which label wins depends on string-hash bucket order, an
        # artifact no engine should reproduce.  Here the real cue
        # deterministically survives (pinned by
        # test_pseudo_real_exact_tie_keeps_real).
        from .filter_spans import filter_spans as _resolve
        pseudo = cues.filter(F.col("cue_class") == "pseudo")
        kept_pseudo = _resolve(pseudo, start_col="tok_start",
                               end_col="tok_end", label_col="cue_class")
        real = cues.filter(F.col("cue_class") != "pseudo")
        term = real.filter(F.col("cue_class") == "termination")
        nonterm = real.filter(F.col("cue_class") != "termination")
        p = kept_pseudo.select(
            F.col("note_id").alias("p_note"),
            F.col("tok_start").alias("p_s"), F.col("tok_end").alias("p_e"),
        )
        r_len = nonterm["tok_end"] - nonterm["tok_start"]
        p_len = p["p_e"] - p["p_s"]
        wins = (p_len > r_len) | (
            (p_len == r_len) & (p["p_s"] < nonterm["tok_start"]))
        nonterm = nonterm.join(
            p,
            (nonterm["note_id"] == p["p_note"])
            & (nonterm["tok_start"] < p["p_e"])
            & (p["p_s"] < nonterm["tok_end"])
            & wins,
            "left_anti",
        )
        return nonterm.unionByName(term)

    def _boundaries(self, notes: DataFrame, cues: DataFrame) -> DataFrame:
        """(note_id, b_start, b_end, boundary_id) token-index intervals.

        Cut points = sentence starts ∪ termination-cue STARTS ∪ doc end
        (pipes/base.py:130-141).  The cut set is assembled per note with
        array HOFs (sentence starts are already a nested column) and
        pair-zipped in place, so the only shuffle is the small
        termination-cut groupBy — no distinct/window passes over an
        exploded cuts plane (that shape cost ~1.6s of negation_tokens'
        2.7s at sf0.1)."""
        term = cues.filter(F.col("cue_class") == "termination") \
            .groupBy("note_id").agg(F.collect_set("tok_start").alias("__tc"))
        base = notes.select(
            "note_id",
            F.transform("sentences", lambda s: s["tok_start"]).alias("__sc"),
            F.size("tokens").alias("__n"),
        ).join(term, "note_id", "left")
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

        from ..functions.memo import memo_column
        pairs = memo_column(("qualifier_boundary_pairs",), _cut_pairs)
        return base.select(
            "note_id", F.posexplode(pairs).alias("__i", "__b")
        ).select(
            "note_id",
            F.col("__b.b_start").alias("b_start"),
            F.col("__b.b_end").alias("b_end"),
            (F.col("__i") + 1).cast("int").alias("boundary_id"),
        )

    def _assign_boundary(self, df: DataFrame, bounds: DataFrame,
                         pos_col: str) -> DataFrame:
        """Point containment on ``pos_col`` (cue assignment — the
        reference consumes matches by ``start <= s.start < end``)."""
        b = bounds.select(
            F.col("note_id").alias("b_note"), "b_start", "b_end", "boundary_id"
        )
        return df.join(
            b,
            (df["note_id"] == b["b_note"])
            & (df[pos_col] >= b["b_start"]) & (df[pos_col] < b["b_end"]),
            "left",
        ).drop("b_note", "b_start", "b_end")

    def _assign_boundary_overlap(self, df: DataFrame,
                                 bounds: DataFrame) -> DataFrame:
        """Entity assignment: EVERY boundary the span overlaps
        (check_inclusion, utils/inclusion.py:4-25) — the grouped max
        downstream implements the reference's OR across boundaries."""
        b = bounds.select(
            F.col("note_id").alias("b_note"), "b_start", "b_end", "boundary_id"
        )
        return df.join(
            b,
            (df["note_id"] == b["b_note"])
            & (df["tok_start"] < b["b_end"]) & (b["b_start"] < df["tok_end"]),
            "left",
        ).drop("b_note", "b_start", "b_end")

    def _section_cues(self, bounds: DataFrame,
                      sections: DataFrame) -> DataFrame:
        """family use_sections (family.py:206-225): a section span with
        ``section_label`` acts as a boundary-scoped cue for the FIRST
        boundary whose start token lies inside it (consume_spans without
        second_chance consumes each section exactly once)."""
        s = sections.filter(
            F.col("section") == self.section_label
        ).select(
            F.col("note_id").alias("s_note"),
            F.col("tok_start").alias("s_s"),
            F.col("tok_until").alias("s_e"),
        )
        hit = bounds.join(
            s,
            (bounds["note_id"] == s["s_note"])
            & (bounds["b_start"] >= s["s_s"]) & (bounds["b_start"] < s["s_e"]),
            "inner",
        )
        first = hit.groupBy("s_note", "s_s", "s_e").agg(
            F.min("boundary_id").alias("c_bid"))
        return first.select(
            F.col("s_note").alias("c_note"), "c_bid",
            F.lit(None).cast("int").alias("c_s"),
            F.lit(None).cast("int").alias("c_e"),
            F.lit("boundary").alias("cue_class"),
        )

    # -- public API --------------------------------------------------------

    @caching.leased
    def qualify(self, notes: DataFrame, entities: DataFrame,
                sections: DataFrame | None = None) -> DataFrame:
        """entities (flat plane, with tok_start/tok_end) + boolean column
        named after the qualifier.

        Plan shape matters at scale: each derived table (cues, boundaries)
        is referenced more than once downstream, so we persist them —
        otherwise the lazy subtree (tokenize -> scan -> window) is
        re-planned and re-executed per reference, which blows up both
        optimizer time and runtime (observed 100x on 500 docs).  The
        qualification itself is ONE left join on (note_id, boundary_id)
        followed by a grouped max — no semi-join + join-back double pass.
        Duplicate entity rows (identical on all columns) collapse.
        """
        cues = caching.persist(self._cue_table(notes))
        bounds = caching.persist(self._boundaries(notes, cues))
        ents_b = self._assign_boundary_overlap(entities, bounds)
        active = cues.filter(F.col("cue_class") != "termination")
        cues_b = self._assign_boundary(active, bounds, "tok_start").select(
            F.col("note_id").alias("c_note"), F.col("boundary_id").alias("c_bid"),
            F.col("tok_start").alias("c_s"), F.col("tok_end").alias("c_e"),
            "cue_class",
        )
        if self.section_label is not None and sections is not None:
            cues_b = cues_b.unionByName(self._section_cues(bounds, sections))
        preceding_classes = [c for c in _PRECEDING_LIKE if c in self.cues]
        joined = ents_b.join(
            cues_b,
            (F.col("note_id") == F.col("c_note"))
            & (F.col("boundary_id") == F.col("c_bid")),
            "left",
        )
        prec_bound = F.col("tok_end") if self.within_ents else F.col("tok_start")
        foll_bound = F.col("tok_start") if self.within_ents else F.col("tok_end")
        hit = (
            (F.col("cue_class").isin(preceding_classes)
             & (F.col("c_e") <= prec_bound))
            | ((F.col("cue_class") == "following")
               & (F.col("c_s") >= foll_bound))
            | (F.col("cue_class") == "boundary")
            | ((F.col("cue_class") == "quotation")
               & (F.col("c_s") < F.col("tok_start"))
               & (F.col("c_e") > F.col("tok_end")))
        )
        return joined.groupBy(*entities.columns).agg(
            F.coalesce(F.max(F.when(hit, True)), F.lit(False)).alias(self.qualifier)
        )

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError(
            "QualifierEngine operates on (notes, entities); use .qualify()"
        )


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


# Kept for callers that want the light curated subsets (faster scans on
# synthetic corpora); default_cues() below builds the full reference sets.
NEGATION_CUES = {
    "preceding": ["pas de", "pas d'", "aucun", "aucune", "sans", "absence de",
                  "negatif pour", "ni", "jamais de", "n'a pas de",
                  "ne presente pas de", "n'est pas", "non"],
    "verbs": ["ne presente pas", "ne montre pas", "ne retrouve pas",
              "n'objective pas", "ne met pas en evidence"],
    "following": ["negatif", "negative", "exclu", "exclue", "ecarte", "ecartee"],
    "pseudo": ["pas exclu", "non exclu", "sans doute", "sans difficulte",
               "pas necessairement"],
    "termination": ["mais", "cependant", "toutefois", "neanmoins", "hormis"],
}

FAMILY_CUES = {
    "boundary": ["antecedents familiaux", "dans la famille", "chez le pere",
                 "chez la mere", "chez son pere", "chez sa mere", "familial",
                 "familiale", "sa mere", "son pere", "sa soeur", "son frere",
                 "grand-mere", "grand-pere", "tante", "oncle"],
    "termination": ["chez le patient", "chez la patiente",
                    "pour sa part", "quant a lui", "quant a elle"],
}

HYPOTHESIS_CUES = {
    "preceding": ["pourrait etre", "peut etre un", "possible", "probable",
                  "suspicion de", "doute sur", "evoquant", "evocateur de",
                  "hypothese de", "suspecte", "eventuel", "eventuelle",
                  "si le patient"],
    "following": ["possible", "probable", "a confirmer", "non confirme",
                  "suspecte", "suspectee"],
    "pseudo": ["pas possible", "impossible"],
    "termination": ["mais", "cependant", "confirme que"],
}

HISTORY_CUES = {
    "preceding": ["antecedents", "antecedent", "atcd", "histoire de",
                  "il y a", "ancien", "ancienne", "en 19", "en 20",
                  "autrefois", "auparavant", "a l'age de"],
    "termination": ["actuellement", "aujourd'hui", "ce jour",
                    "a l'admission", "examen clinique"],
}

REPORTED_SPEECH_CUES = {
    "preceding": ["le patient dit", "le patient rapporte", "la patiente dit",
                  "la patiente rapporte", "selon le patient",
                  "selon la patiente", "d'apres le patient", "se plaint de",
                  "decrit", "signale", "rapporte", "affirme", "declare"],
}

_DEFAULTS = {
    "negation": NEGATION_CUES,
    "family": FAMILY_CUES,
    "hypothesis": HYPOTHESIS_CUES,
    "history": HISTORY_CUES,
    "reported_speech": REPORTED_SPEECH_CUES,
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
    else:
        cues = {k: list(v) for k, v in _DEFAULTS[qualifier].items()}
    _DEFAULTS_EXPANDED[qualifier] = cues
    return cues


def make_qualifier(qualifier: str, cues: dict | None = None, **kw) -> QualifierEngine:
    if qualifier == "family" and "section_label" not in kw:
        kw["section_label"] = "antecedents familiaux"
    return QualifierEngine(qualifier, cues or default_cues(qualifier), **kw)


for _q in _DEFAULTS:
    registry.register(f"eds.{_q}")(
        lambda qualifier=_q, **kw: make_qualifier(qualifier, **kw)
    )
