"""eds.terminology: concept dictionary matching (label -> kb_id).

Parity target: edsnlp/pipes/core/terminology/terminology.py:15 — like the
generic matcher but each matched surface form maps to a knowledge-base
concept id (e.g. ATC drugs, ICD-10/cim10); plus the domain NER pipes that
are pure terminology configs (§2.6: eds.drugs, eds.cim10, eds.covid).

Spark design: identical broadcast n-gram join as PhraseMatcher, with the
terms table carrying (term -> kb_id, label); at the ~40k-term cim10 tier
the join flips from broadcast to shuffle automatically past the
autoBroadcastJoinThreshold — no code change.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from ..core.base import Transformer
from ..functions.text import norm_text
from ..resources import load_resource
from .matcher import PhraseMatcher, _tokenize_term
from .. import registry


class TerminologyMatcher(PhraseMatcher):
    name = "eds.terminology"

    def __init__(self, label: str, concepts: dict[str, Iterable[str]],
                 attr: str = "NORM", **kw):
        """concepts: {kb_id: [surface forms]}; output label is the
        terminology name, kb_id is the concept."""
        # Reuse PhraseMatcher machinery with kb_id in the terms table.
        super().__init__({}, attr=attr, **kw)
        self.label = label
        self.term_rows = []
        for kb_id, forms in concepts.items():
            for form in forms:
                toks = _tokenize_term(self._norm(form))
                if toks:
                    self.term_rows.append((" ".join(toks), kb_id, len(toks)))
        self.ns = sorted({n for _, _, n in self.term_rows})

    def entities(self, df: DataFrame) -> DataFrame:
        out = super().entities(df)
        return out.select(
            "note_id", "start_char", "end_char",
            F.lit(self.label).alias("label"),
            F.col("label").alias("kb_id"),
            "lexical_variant", "span_type", "tok_start", "tok_end",
        )


class LexiconMatcher(Transformer):
    """Full-dictionary phrase matcher: anchor-token join + slice verify.

    PhraseMatcher enumerates per-length token n-grams — right for small
    curated term lists with a handful of distinct lengths.  Real
    terminologies are different: cim10 has 169 208 surface forms with
    token lengths 1..54, so per-length n-gram enumeration would rebuild
    the corpus 50×.  Plan here (parity: the reference loads these same
    dictionaries into EDSPhraseMatcher / spaCy's trie,
    edsnlp/pipes/ner/cim10/factory.py:22, drugs/factory.py:22):

    1. **anchor** — explode corpus tokens once (note_id, pos, token) and
       equi-join token == the term's FIRST token.  The lexicon is ≤ MBs
       → broadcast join, zero shuffle of the corpus.
    2. **verify** — join the (small, anchor-pruned) candidate set back
       to the slim notes plane on note_id and compare the n-token slice
       at the anchor position against the term's precomputed NORM key
       (native slice + concat_ws + transform — no UDF).

    Scale posture: candidate generation is map-side; the verify join
    shuffles candidates plus one pass of (note_id, tokens, text).  Hot
    anchors (common first words in labels) are AQE-skew-split;
    candidates carry only ids + key.
    """

    requires = ("note_id", "tokens")
    provides = ("entities",)
    name = "eds.lexicon"

    def __init__(self, label: str, resource: str, attr: str = "NORM",
                 span_type: str = "ents", tokens_col: str = "tokens",
                 text_col: str = "note_text",
                 terms_df: Optional[DataFrame] = None,
                 broadcast_terms: bool = True):
        """resource: bundled parquet name ('drugs', 'cim10') with columns
        (kb_id, term, key, n); terms_df overrides it with any DataFrame
        of the same shape (e.g. a user's UMLS extract).

        broadcast_terms: True (default) hints a broadcast join — right
        for the bundled dictionaries (≤ a few MB).  Set False for the
        UMLS tier (hundreds of thousands to millions of forms): the
        anchor join is then hinted shuffle_hash — both sides partition
        by the anchor token and the terms side builds a per-partition
        hash table, with no sort and no driver-side broadcast of a
        dictionary that no longer fits one.
        """
        self.label = label
        self.resource = resource
        self.attr = attr
        self.span_type = span_type
        self.tokens_col = tokens_col
        self.text_col = text_col
        self.terms_df = terms_df
        self.broadcast_terms = broadcast_terms
        self.requires = ("note_id", tokens_col)

    def _tok_attr(self, tok):
        t = tok["text"]
        if self.attr == "TEXT":
            return t
        if self.attr == "LOWER":
            return F.lower(t)
        return norm_text(t)

    def entities(self, df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        terms = self.terms_df
        if terms is None:
            terms = load_resource(spark, self.resource)
        terms = terms.select(
            F.col("kb_id"), F.col("key").alias("t_key"), F.col("n"),
            F.split(F.col("key"), " ").getItem(0).alias("anchor"),
        )
        toks = F.col(self.tokens_col)
        anchored = df.select(
            "note_id",
            F.posexplode(F.transform(toks, self._tok_attr)).alias(
                "pos", "anchor"),
        )
        terms = (F.broadcast(terms) if self.broadcast_terms
                 else terms.hint("shuffle_hash"))
        cand = anchored.join(terms, "anchor").select(
            "note_id", "pos", "kb_id", "t_key", "n")
        slim = df.select(
            "note_id", F.col(self.text_col).alias("__text"),
            toks.alias("__toks"))
        ver = cand.join(slim, "note_id")
        slice_key = F.concat_ws(
            " ",
            F.transform(
                F.slice(F.col("__toks"), F.col("pos") + 1, F.col("n")),
                self._tok_attr,
            ),
        )
        first = F.element_at(F.col("__toks"), F.col("pos") + 1)
        last = F.element_at(F.col("__toks"), F.col("pos") + F.col("n"))
        return (
            ver.filter(F.col("pos") + F.col("n") <= F.size("__toks"))
            .filter(slice_key == F.col("t_key"))
            .select(
                "note_id",
                first["start"].cast("int").alias("start_char"),
                last["end"].cast("int").alias("end_char"),
                F.lit(self.label).alias("label"),
                F.col("kb_id"),
                F.substring(
                    F.col("__text"), first["start"] + 1,
                    last["end"] - first["start"]).alias("lexical_variant"),
                F.lit(self.span_type).alias("span_type"),
                F.col("pos").cast("int").alias("tok_start"),
                (F.col("pos") + F.col("n")).cast("int").alias("tok_end"),
            )
        )

    def transform(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError("use .entities(notes)")


# Domain NER configs.  covid is the reference's curated pattern list
# (pipes/ner/covid/patterns.py); drugs/cim10 load the reference's full
# dictionaries via LexiconMatcher (resources/*.parquet).
COVID_PATTERNS = ["covid", "covid 19", "covid-19", "sars-cov-2", "sars-cov2",
                  "coronavirus", "pandemie"]
# The reference's exact regex composition (covid/patterns.py:3-11):
# optional disease-context prefix folded into the span
# ("pneumopathie à COVID-19" is ONE mention).
COVID_RX = (r"(?:(?:pneumopathies?|infections?)\s[àa]u?\s)?"
            r"(?:covid(?:[-\s]?19)?|sars[-\s]?cov[-\s]?2"
            r"|corona[-\s]?virus)")

# Small curated fallbacks, kept for tests that exercise the
# TerminologyMatcher (dict-input) path itself.
DRUGS_SAMPLE = {
    "N02BE01": ["paracetamol", "doliprane", "dafalgan", "efferalgan"],
    "B01AC06": ["aspirine", "kardegic"],
    "N02AA01": ["morphine"],
    "J01CA04": ["amoxicilline", "clamoxyl"],
}

CIM10_SAMPLE = {
    "E11": ["diabete de type 2", "diabete type 2"],
    "I10": ["hypertension", "hta"],
    "J18": ["pneumopathie", "pneumonie"],
    "C50": ["cancer du sein"],
}


@registry.register("eds.terminology")
def _make_terminology(**kw):
    return TerminologyMatcher(**kw)


@registry.register("eds.covid")
def _make_covid(regex: bool = True, **kw):
    # regex=True (default) uses the reference's exact pattern with the
    # disease-context prefix; regex=False keeps the n-gram phrase path.
    if regex:
        from .matcher import RegexMatcher
        return RegexMatcher({"covid": [COVID_RX]}, attr="NORM", **kw)
    from .matcher import PhraseMatcher
    return PhraseMatcher({"covid": COVID_PATTERNS}, **kw)


@registry.register("eds.drugs")
def _make_drugs(**kw):
    """Full ATC dictionary (5 789 forms) — reference drugs/factory.py:22."""
    return LexiconMatcher("drug", "drugs", **kw)


@registry.register("eds.cim10")
def _make_cim10(**kw):
    """Full ICD-10 dictionary (169 208 forms incl. code variants) —
    reference cim10/factory.py:22 + patterns.py:10-33."""
    return LexiconMatcher("cim10", "cim10", **kw)
