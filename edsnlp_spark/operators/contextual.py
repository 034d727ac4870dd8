"""eds.contextual_matcher: anchor + context-window constraints + assigns.

Parity target: edsnlp/pipes/core/contextual_matcher/contextual_matcher.py:
20-460 with models.py:46 (SingleExcludeModel / SingleIncludeModel /
SingleAssignModel) and the window DSL of utils/span_getters.py:352-555
(``words[-5:5]``, ``sents[0:0]``).

This is the most relational operator in the reference (SURVEY.md §2.5):
- anchors = a §2.5 scan -> rows on the entities plane;
- exclude  = anti-join anchors against cue matches overlapping the window;
- include  = semi-join (a required cue must appear in the window);
- assign   = join assign-pattern matches within their window, then
  groupBy anchor with first/last/closest/longest reduction
  (models.py ``reduce_mode``).

Windows are token intervals relative to the anchor (``words`` mode) or
the enclosing sentence (``sents`` mode).  Everything is equi-join on
note_id + interval predicates — broadcast when the cue side is small.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, functions as F

from ..core import caching
from ..core.base import Transformer
from .matcher import PhraseMatcher
from .. import registry


@dataclass
class AssignRule:
    name: str                      # output column
    terms: list[str]               # patterns for the assigned value
    window: tuple[int, int]        # token window rel. to anchor (before, after)
    reduce_mode: str = "closest"   # first | last | closest | longest


@dataclass
class ContextRule:
    label: str
    anchor_terms: list[str]
    exclude_terms: list[str] = field(default_factory=list)
    exclude_window: tuple[int, int] = (-5, 5)
    include_terms: list[str] = field(default_factory=list)
    include_window: tuple[int, int] = (-5, 5)
    assigns: list[AssignRule] = field(default_factory=list)


def _win_cond(c_start, c_end, a_start, a_end, window):
    """Cue [c_start,c_end) within token window (before,after) of anchor."""
    before, after = window
    return (c_end > a_start + before) & (c_start < a_end + after)


class ContextualMatcher(Transformer):
    requires = ("note_id", "tokens")
    name = "eds.contextual_matcher"

    def __init__(self, rule: ContextRule, attr: str = "NORM"):
        self.rule = rule
        self.attr = attr
        self._anchor_m = PhraseMatcher(
            {rule.label: rule.anchor_terms}, attr=attr)
        cue_groups: dict[str, list[str]] = {}
        if rule.exclude_terms:
            cue_groups["__exclude"] = rule.exclude_terms
        if rule.include_terms:
            cue_groups["__include"] = rule.include_terms
        for a in rule.assigns:
            cue_groups[f"assign:{a.name}"] = a.terms
        self._cue_m = PhraseMatcher(cue_groups, attr=attr) if cue_groups else None

    @caching.leased
    def entities(self, notes: DataFrame) -> DataFrame:
        anchors = self._anchor_m.entities(notes)
        if self._cue_m is None:
            return anchors
        cues = caching.persist(self._cue_m.entities(notes).select(
            F.col("note_id").alias("c_note"),
            F.col("label").alias("c_label"),
            F.col("tok_start").alias("c_s"),
            F.col("tok_end").alias("c_e"),
            F.col("lexical_variant").alias("c_text"),
        ))
        rule = self.rule

        def cue_sel(kind_label, prefix):
            # Uniquely-named columns per join leg: the cue table is
            # reused across exclude/include/assign joins and identical
            # names would trip Spark's ambiguous-self-join analysis.
            return cues.filter(F.col("c_label") == kind_label).select(
                F.col("c_note").alias(f"{prefix}_note"),
                F.col("c_s").alias(f"{prefix}_s"),
                F.col("c_e").alias(f"{prefix}_e"),
                F.col("c_text").alias(f"{prefix}_text"),
            )

        out = anchors
        if rule.exclude_terms:
            sel = cue_sel("__exclude", "ex")
            cond = (
                (out["note_id"] == sel["ex_note"])
                & _win_cond(sel["ex_s"], sel["ex_e"],
                            out["tok_start"], out["tok_end"],
                            rule.exclude_window)
            )
            out = out.join(sel, cond, "left_anti")
        if rule.include_terms:
            sel = cue_sel("__include", "inc")
            cond = (
                (out["note_id"] == sel["inc_note"])
                & _win_cond(sel["inc_s"], sel["inc_e"],
                            out["tok_start"], out["tok_end"],
                            rule.include_window)
            )
            out = out.join(sel, cond, "left_semi")

        anchor_cols = list(out.columns)
        for a in rule.assigns:
            p = f"as_{a.name}"
            sel = cue_sel(f"assign:{a.name}", p)
            cond = (
                (out["note_id"] == sel[f"{p}_note"])
                & _win_cond(sel[f"{p}_s"], sel[f"{p}_e"],
                            out["tok_start"], out["tok_end"], a.window)
            )
            joined = out.join(sel, cond, "left")
            c_s, c_e, c_text = (
                F.col(f"{p}_s"), F.col(f"{p}_e"), F.col(f"{p}_text"))
            if a.reduce_mode == "first":
                pick = F.min_by(c_text, F.struct(c_s.alias("k1"), c_e.alias("k2")))
            elif a.reduce_mode == "last":
                pick = F.max_by(c_text, F.struct(c_s.alias("k1"), c_e.alias("k2")))
            elif a.reduce_mode == "longest":
                pick = F.max_by(c_text, F.struct(
                    (c_e - c_s).alias("k1"), (-c_s).alias("k2")))
            else:  # closest: min gap to anchor, ties -> earliest
                dist = F.greatest(
                    F.col("tok_start") - c_e, c_s - F.col("tok_end"), F.lit(0))
                pick = F.min_by(c_text, F.struct(dist.alias("k1"), c_s.alias("k2")))
            out = joined.groupBy(*anchor_cols).agg(pick.alias(a.name))
            anchor_cols.append(a.name)
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError("use .entities(notes)")


@registry.register("eds.contextual_matcher")
def _make_contextual(**kw):
    # regex schema (the reference's native config: a list of source
    # dicts) routes to the full regex contextual engine; the term-based
    # ContextRule schema keeps the phrase path.
    if "patterns" in kw:
        from .disorders import ReferenceDisorderMatcher
        label = kw.pop("label", "contextual")
        return ReferenceDisorderMatcher(label, patterns=kw.pop("patterns"),
                                        **kw)
    assigns = [AssignRule(**a) if isinstance(a, dict) else a
               for a in kw.pop("assigns", [])]
    rule = ContextRule(assigns=assigns, **kw)
    return ContextualMatcher(rule)
