"""User-facing facade: the reference's composition API on Spark.

Parity target (§3.1): ``nlp = edsnlp.blank("eds"); nlp.add_pipe(...)``
then ``nlp(text)`` for one document or ``nlp.pipe(df)`` for a corpus.
A user of the reference can keep their pipeline-building code shape:

    import edsnlp_spark as es
    nlp = es.blank()
    nlp.add_pipe("eds.matcher", terms={"covid": ["covid", "coronavirus"]})
    nlp.add_pipe("eds.negation")
    entities = nlp.pipe(notes_df)        # distributed
    doc = nlp("Le patient n'a pas le covid.")   # eager single doc

Under the hood every pipe is a Transformer on the notes/entities planes;
``pipe`` wires matcher-style pipes (entity emitters) and qualifier-style
pipes (entity annotators) in add order.  All ``QualifierEngine`` pipes
are ONE plan (``operators/qualifiers.py`` ``qualify_all``): one labelled
cue-dictionary scan, cached so it runs once per pass, one boundary table
per termination set, one join and one aggregate; other qualifier pipes
(``eds.history_full``) follow.  A pass persists three planes: the
prepared notes, the raw cue scan and the boundaries.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from .. import registry
from . import caching
from .base import Pipeline
from ..operators.qualifiers import QualifierEngine, qualify_all
from ..operators.tokenizer import Normalizer, Tokenizer
from ..operators.sentences import SentenceSegmenter


class SparkNLP:
    """Composition facade; mirrors Pipeline.add_pipe order semantics
    (edsnlp/core/pipeline.py:251-325): later pipes see earlier output."""

    def __init__(self):
        self._prep = Pipeline([Tokenizer(), Normalizer(), SentenceSegmenter()])
        self._emitters = []     # produce entities (matchers)
        self._qualifiers = []   # annotate entities (qualify(notes, ents))
        self.pipe_names: list[str] = []
        # (factory_name, config) per add_pipe(str, ...) call — the
        # serializable pipeline declaration (to_disk).  Pipes added as
        # live objects are not declarable and block to_disk.
        self._decl: list[tuple[str, dict] | None] = []

    def add_pipe(self, name: str, **config) -> "SparkNLP":
        pipe = registry.create(name, **config) if isinstance(name, str) else name
        if hasattr(pipe, "qualify"):
            self._qualifiers.append(pipe)
        elif hasattr(pipe, "entities"):
            self._emitters.append(pipe)
        else:
            self._prep.add_pipe(pipe)
        self.pipe_names.append(getattr(pipe, "name", str(name)))
        self._decl.append((name, config) if isinstance(name, str) else None)
        return self

    # -- config round-trip (reference Pipeline.to_disk / edsnlp.load,
    #    core/pipeline.py:550-614: the pipeline IS its config — every
    #    component is reconstructable from its factory name + params) --

    def to_disk(self, path: str) -> None:
        """Serialize the pipeline declaration to ``<path>/config.json``.

        Only pipes added by factory NAME are serializable (the
        config-not-code invariant, SURVEY §2.6); a pipe added as a live
        object has no declaration and raises."""
        bad = [n for n, d in zip(self.pipe_names, self._decl) if d is None]
        if bad:
            raise ValueError(
                f"cannot serialize pipes added as objects: {bad}; "
                f"add them by factory name instead")
        try:
            payload = {
                "pipeline": [n for n, _ in self._decl],
                "components": [
                    {"@factory": n, **cfg} for n, cfg in self._decl],
            }
            blob = json.dumps(payload, indent=1, sort_keys=True)
        except TypeError as e:
            raise ValueError(f"non-JSON-serializable pipe config: {e}")
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "config.json"), "w") as f:
            f.write(blob)

    @caching.leased
    def prepare(self, notes: DataFrame) -> DataFrame:
        """notes plane with tokens/norm/sentences (persisted: several
        downstream pipes re-read it)."""
        return caching.persist(self._prep(notes))

    @caching.leased
    def pipe(self, notes: DataFrame) -> DataFrame:
        """Distributed corpus annotation -> entities plane.  The planes
        it persists are leased to this object: they live until its next
        ``pipe``/``__call__`` or ``caching.release(nlp)``."""
        from ..functions.span_getters import union_span_groups

        prepared = self.prepare(notes)
        if not self._emitters:
            raise ValueError("no entity-emitting pipe added (eds.matcher, ...)")
        ents = union_span_groups(
            *[m.entities(prepared) for m in self._emitters])
        cols = ents.columns
        engines = [q for q in self._qualifiers if isinstance(q, QualifierEngine)]
        ents = qualify_all(engines, prepared, ents) if engines else ents
        for q in [q for q in self._qualifiers if q not in engines]:
            ents = q.qualify(prepared, ents)
        # qualifier columns in add order, each where its last writer was
        # added (eds.history_full replaces an earlier eds.history column)
        names = [q.qualifier for q in self._qualifiers]
        return ents.select(*cols, *reversed(dict.fromkeys(names[::-1])))

    def __call__(self, text: str, spark: SparkSession | None = None):
        """Eager single-document annotation (reference §3.1): returns the
        list of entity Rows for one text."""
        spark = spark or SparkSession.active()
        df = spark.createDataFrame([(0, text)], "note_id long, note_text string")
        try:
            return self.pipe(df).collect()
        finally:
            caching.release(self)


def blank() -> SparkNLP:
    return SparkNLP()


def load(path: str) -> SparkNLP:
    """Rebuild a pipeline saved with ``SparkNLP.to_disk`` (the
    ``edsnlp.load(model_dir)`` analog): re-create every component from
    its factory name + config via the registry."""
    with open(os.path.join(path, "config.json")) as f:
        payload = json.load(f)
    nlp = SparkNLP()
    for comp in payload["components"]:
        cfg = {k: v for k, v in comp.items() if k != "@factory"}
        nlp.add_pipe(comp["@factory"], **cfg)
    return nlp
