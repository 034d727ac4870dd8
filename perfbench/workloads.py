"""The benchmark's workloads: input set-up, timed passes, output checks.

Every workload is one client in a closed loop on one local session: the
next pass (or call) starts when the previous one has returned.  Each
timed pass reads its own input shard, so no pass reuses a plane that an
earlier pass left cached (the facade never releases its prepared
notes plane, and Spark would serve a re-read of the same files from it).

Untraced passes call the facade (``nlp.pipe`` / ``nlp(text)``) or the
dedup functions as a user would.  Traced runs alternate such passes
with layered ones, which call each layer through its public function
inside its own span (and Spark job group) and materialize its output,
so the event log attributes work per layer.
"""

from __future__ import annotations

import collections
import dataclasses
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from tracing import Tracer

QUALIFIERS = ("negation", "hypothesis", "family")
DEDUP_THRESHOLD = 0.5
# Nominal durations on 4 cores, which set how many passes (or calls) a
# run of --seconds makes.
CORPUS_PASS_S, DEDUP_PASS_S, SINGLE_CALL_S = 30.0, 10.0, 10.0


@dataclass(frozen=True)
class Sizes:
    notes_per_shard: int
    warm_notes: int
    docs_per_shard: int
    warm_docs: int
    single_pool: int
    # timed shards (each pass reads its own): a traced run needs one per
    # plain pass and one per layered pass
    note_shards: int = 2
    doc_shards: int = 2
    files_per_shard: int = 8


# A dedup pass has a fixed cost of about 5 s on 4 cores (49 Spark jobs,
# most of them small), and over 3000 docs that cost was nearly all of a
# pass: the cores sat ~30% idle and the pass time followed host load,
# doubling under CPU steal.  At 30000 docs per-doc work is about half of
# a pass and the cores ~10% idle.  The dedup warm-up shard has the timed
# size because the first pass over a new shard size runs ~25% slower.
FULL = Sizes(notes_per_shard=3000, warm_notes=60, docs_per_shard=30000,
             warm_docs=30000, single_pool=200)
QUICK = Sizes(notes_per_shard=40, warm_notes=10, docs_per_shard=300,
              warm_docs=100, single_pool=20, files_per_shard=2)


@dataclass
class Result:
    """What one workload measured."""
    attempted: int = 0
    failed: int = 0
    pass_s: list[float] = field(default_factory=list)
    layered: list[bool] = field(default_factory=list)   # per pass
    docs_per_pass: list[int] = field(default_factory=list)
    expected: int = 0       # ground-truth items (rows or planted dups)
    found: int = 0          # of which the output reproduced
    layer: dict = field(default_factory=dict)

    @property
    def recall(self) -> float:
        return self.found / self.expected if self.expected else 1.0

    @property
    def docs_per_s(self) -> float:
        """Throughput of the median pass."""
        rates = [n / s for n, s in zip(self.docs_per_pass, self.pass_s)]
        return statistics.median(rates)


def _shard_seed(seed: int, k: int) -> int:
    return seed * 1000 + k


# -- clinical notes ---------------------------------------------------------

class NotesInputs:
    """A warm-up shard, then the timed shards, of generated notes as
    parquet, with their expected annotation rows keyed by note id."""

    def __init__(self, seed: int, sizes: Sizes, root: str):
        self.paths: list[str] = []
        self.truth: dict[int, collections.Counter] = {}
        self.digests: dict[str, str] = {}
        self._ids: dict[str, range] = {}
        first = 0
        for k in range(1 + sizes.note_shards):
            n = sizes.notes_per_shard if k else sizes.warm_notes
            notes, rows = gen.make_notes(_shard_seed(seed, k), n, first)
            path = os.path.join(root, f"notes-{k}")
            gen.write_parquet_files(path, "note_id", "note_text", notes,
                                    sizes.files_per_shard)
            self.paths.append(path)
            self._ids[path] = range(first, first + n)
            self.digests[f"notes-{k}"] = gen.digest_rows(notes)
            for r in rows:
                self.truth.setdefault(r.note_id, collections.Counter())[
                    _key(dataclasses.asdict(r))] += 1
            first += n

    def ids(self, path: str) -> range:
        return self._ids[path]


def _key(r) -> tuple:
    """The compared columns of one annotation row (a mapping)."""
    return (r["start_char"], r["end_char"], r["label"], bool(r["negation"]),
            bool(r["hypothesis"]), bool(r["family"]))


def check_notes(inputs: NotesInputs, ids,
                got_rows) -> tuple[int, int, int, int]:
    """(notes checked, notes whose rows differ from the ground truth,
    ground-truth rows, of which the output holds)."""
    got: dict[int, collections.Counter] = {}
    for r in got_rows:
        got.setdefault(r["note_id"], collections.Counter())[_key(r)] += 1
    empty = collections.Counter()
    bad = sum(1 for i in ids
              if got.get(i, empty) != inputs.truth.get(i, empty))
    bad += sum(1 for i in got if i not in ids)
    expected = sum(sum(inputs.truth.get(i, empty).values()) for i in ids)
    found = sum(sum((got.get(i, empty) & inputs.truth.get(i, empty)).values())
                for i in ids)
    return len(ids), bad, expected, found


def _read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def build_pipeline():
    import edsnlp_spark as es
    nlp = es.blank()
    nlp.add_pipe("eds.matcher", terms=gen.TERMS)
    for q in QUALIFIERS:
        nlp.add_pipe(f"eds.{q}")
    return nlp


def facade_pass(spark, nlp, src: str, out: str) -> float:
    """read parquet -> nlp.pipe -> to_ents -> write parquet; returns the
    Spark driver time spent inside ``nlp.pipe`` (plan build before the
    action)."""
    from edsnlp_spark.sources.converters import to_ents
    from edsnlp_spark.sources.io import read_parquet, write_parquet
    notes = read_parquet(spark, src)
    t0 = time.perf_counter()
    ents = nlp.pipe(notes)
    plan_s = time.perf_counter() - t0
    write_parquet(to_ents(ents), out, mode="overwrite")
    return plan_s


class LayeredPipeline:
    """The facade's pipeline, one public layer call at a time."""

    def __init__(self):
        from edsnlp_spark import registry
        self.tokenizer = registry.create("eds.tokenizer")
        self.normalizer = registry.create("eds.normalizer")
        self.sentences = registry.create("eds.sentences")
        self.matcher = registry.create("eds.matcher", terms=gen.TERMS)
        self.qualifiers = [registry.create(f"eds.{q}") for q in QUALIFIERS]

    def run(self, spark, tracer, rid: str, src: str, out: str) -> dict:
        from pyspark.sql import functions as F
        from edsnlp_spark.sources.converters import to_ents
        from edsnlp_spark.sources.io import read_parquet, write_parquet
        held, counts = [], {}

        def keep(df):
            df = df.persist()
            held.append(df)
            return df

        with tracer.span("pass", rid):
            with tracer.span("sources.read", rid):
                notes = keep(read_parquet(spark, src))
                notes.count()
            with tracer.span("tokenizer", rid):
                toks = keep(self.normalizer(self.tokenizer(notes)))
                toks.count()
            with tracer.span("sentences", rid):
                prepared = keep(self.sentences(toks))
                counts["sentences.rows_out"] = prepared.select(
                    F.sum(F.size("sentences"))).first()[0]
            with tracer.span("matcher", rid):
                ents = keep(self.matcher.entities(prepared))
                counts["matcher.entities_out"] = ents.count()
            for q in self.qualifiers:
                with tracer.span(f"qualifiers.{q.qualifier}", rid):
                    ents = keep(q.qualify(prepared, ents))
                    ents.count()
            with tracer.span("sources.write", rid):
                write_parquet(to_ents(ents), out, mode="overwrite")
        for df in held:
            df.unpersist()
        return counts


def _measure_loop(seconds: float, nominal_s: float, items, step,
                  min_steps: int = 1) -> None:
    """Run ``step(item)`` on the first n ``items``: as many steps of
    ``nominal_s`` seconds as fill ``seconds``, at least ``min_steps``.
    The count is fixed, not a deadline: passes keep getting faster for a
    while after the warm-up, and a deadline would let a faster machine
    reach later, faster passes, which widens the spread between runs."""
    for item in items[:max(min_steps, round(seconds / nominal_s))]:
        step(item)


def _pairs(shards: list[str]) -> list[tuple[str, str]]:
    """Shards two by two: a traced run alternates a plain pass with a
    layered pass, so both meet the same point of the speed-up that
    follows the warm-up, and the plain passes are the baseline of the
    tracing overhead."""
    return list(zip(shards[::2], shards[1::2]))


def _caching_state(spark) -> dict:
    from edsnlp_spark.core.caching import tracked_scopes
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    return {"caching.tracked_planes": float(sum(tracked_scopes().values())),
            "caching.cached_mb": cached / 2**20}


class CorpusAnnotate:
    """Batch annotation of a note corpus through the facade."""

    name = "corpus_annotate"

    def setup(self, spark, seed, sizes, root):
        self.inputs = NotesInputs(seed, sizes, root)
        self.nlp = build_pipeline()
        self.layered = LayeredPipeline()
        self.out = os.path.join(root, "out-notes")
        return self.inputs.digests

    def warm_up(self, spark):
        src = self.inputs.paths[0]
        facade_pass(spark, self.nlp, src, self.out)
        n, bad, _, _ = check_notes(self.inputs, self.inputs.ids(src),
                                   _read_rows(self.out))
        if bad:
            raise RuntimeError(f"warm-up pass: {bad} of {n} notes wrong")

    def _check(self, res: Result, src: str, dt: float,
               layered: bool) -> None:
        n, bad, expected, found = check_notes(
            self.inputs, self.inputs.ids(src), _read_rows(self.out))
        res.attempted += n
        res.failed += bad
        res.expected += expected
        res.found += found
        res.pass_s.append(dt)
        res.layered.append(layered)
        res.docs_per_pass.append(n)

    def run(self, spark, tracer, seconds: float) -> Result:
        res = Result()
        shards = self.inputs.paths[1:]

        def e2e(src):
            t0 = time.perf_counter()
            with tracer.span("e2e", f"pass{len(res.pass_s)}"):
                plan = facade_pass(spark, self.nlp, src, self.out)
            self._check(res, src, time.perf_counter() - t0, False)
            res.layer.setdefault("plan_s", []).append(plan)

        if not tracer.enabled:
            _measure_loop(seconds, CORPUS_PASS_S, shards, e2e)
            return res

        def pair(srcs):
            e2e(srcs[0])
            if "caching" not in res.layer:
                res.layer["caching"] = _caching_state(spark)
            t0 = time.perf_counter()
            res.layer.setdefault("counts", []).append(self.layered.run(
                spark, tracer, f"pass{len(res.pass_s)}", srcs[1], self.out))
            self._check(res, srcs[1], time.perf_counter() - t0, True)

        _measure_loop(seconds / 2, CORPUS_PASS_S, _pairs(shards), pair)
        return res


class SingleNote:
    """Eager ``nlp(text)`` calls, one after another."""

    name = "single_note"

    def setup(self, spark, seed, sizes, root):
        self.notes, rows = gen.make_notes(_shard_seed(seed, 900),
                                          sizes.single_pool)
        self.truth: dict[int, collections.Counter] = {}
        for r in rows:
            self.truth.setdefault(r.note_id, collections.Counter())[
                _key(dataclasses.asdict(r))] += 1
        self.nlp = build_pipeline()
        self.next = 0
        return {"single-pool": gen.digest_rows(self.notes)}

    def _call(self, spark, tracer, rid):
        note_id, text = self.notes[self.next % len(self.notes)]
        self.next += 1
        t0 = time.perf_counter()
        if tracer.enabled:
            # __call__'s two steps, so the plan build can be timed
            with tracer.span("e2e", rid):
                df = spark.createDataFrame([(0, text)],
                                           "note_id long, note_text string")
                ents = self.nlp.pipe(df)
                plan = time.perf_counter() - t0
                rows = ents.collect()
        else:
            plan = None
            rows = self.nlp(text, spark)
        dt = time.perf_counter() - t0
        got = collections.Counter(_key(r) for r in rows)
        return dt, plan, got != self.truth.get(note_id, collections.Counter())

    def warm_up(self, spark):
        _, _, bad = self._call(spark, _OFF, "warm")
        if bad:
            raise RuntimeError("warm-up call: wrong rows")

    def run(self, spark, tracer, seconds: float) -> Result:
        res = Result()

        def step(_):
            dt, plan, bad = self._call(spark, tracer, f"call{res.attempted}")
            res.attempted += 1
            res.failed += bad
            res.pass_s.append(dt)
            res.layered.append(False)
            res.docs_per_pass.append(1)
            if plan is not None:
                res.layer.setdefault("plan_s", []).append(plan)

        _measure_loop(seconds, SINGLE_CALL_S, range(10**6), step,
                      min_steps=2)
        if tracer.enabled:
            res.layer["caching"] = _caching_state(spark)
        return res


# -- near-duplicate corpus ----------------------------------------------------

class DedupCorpus:
    """MinHash-LSH pairs -> connected components -> canonical docs."""

    name = "dedup_corpus"

    def setup(self, spark, seed, sizes, root):
        self.paths, self.corpora, digests = [], {}, {}
        vocab = gen.vocabulary(random.Random(f"vocab:{seed}"), 30000)
        next_id = 0
        for k in range(1 + sizes.doc_shards):
            n = sizes.docs_per_shard if k else sizes.warm_docs
            c = gen.make_dedup_corpus(_shard_seed(seed, k), n, vocab, next_id)
            next_id += n
            path = os.path.join(root, f"docs-{k}")
            gen.write_parquet_files(path, "doc_id", "text", c.docs,
                                    sizes.files_per_shard)
            self.paths.append(path)
            self.corpora[path] = c
            digests[f"docs-{k}"] = gen.digest_rows(c.docs)
        self.out_res = os.path.join(root, "out-resolution")
        self.out_canon = os.path.join(root, "out-canonical")
        return digests

    def _pass(self, spark, tracer, rid, src) -> dict:
        from pyspark.sql import functions as F
        from edsnlp_spark.operators.dedup import (
            dedup_resolve, minhash_lsh_pairs)
        from edsnlp_spark.sources.io import read_parquet, write_parquet
        counts: dict = {}
        stats: dict = {}
        traced = tracer.enabled
        with tracer.span("pass", rid):
            with tracer.span("sources.read", rid):
                docs = read_parquet(spark, src)
                if traced:
                    docs = docs.persist()
                    docs.count()
            with tracer.span("dedup.pairs", rid):
                pairs = minhash_lsh_pairs(docs, id_col="doc_id",
                                          text_col="text")
                if traced:
                    pairs = pairs.persist()
                    counts["candidates"] = pairs.count()
                    counts["useful"] = pairs.filter(
                        F.col("est_jaccard") >= DEDUP_THRESHOLD).count()
                pairs = pairs.filter(F.col("est_jaccard") >= DEDUP_THRESHOLD)
            with tracer.span("dedup.resolve", rid):
                resolved = dedup_resolve(docs, pairs, id_col="doc_id",
                                         stats=stats).persist()
                if traced:
                    resolved.count()
            with tracer.span("sources.write", rid):
                write_parquet(resolved, self.out_res, mode="overwrite")
                canon = docs.join(
                    resolved.filter("is_canonical").select("doc_id"),
                    "doc_id")
                write_parquet(canon, self.out_canon, mode="overwrite")
        resolved.unpersist()
        if traced:
            docs.unpersist()
            pairs.unpersist()
        counts["iterations"] = stats.get("iterations", 0)
        return counts

    def check(self, src) -> tuple[int, int, int, int]:
        """(docs, wrong docs, planted duplicates, duplicates found in
        their source's component)."""
        c = self.corpora[src]
        comp = {r["doc_id"]: r["component"] for r in _read_rows(self.out_res)}
        members: dict[int, set] = {}
        for d, k in comp.items():
            members.setdefault(k, set()).add(c.cluster.get(d))
        # a false merge: a component spanning several planted clusters
        bad = sum(len(v) - 1 for v in members.values())
        canon = {r["doc_id"]: r["text"] for r in _read_rows(self.out_canon)}
        texts = dict(c.docs)
        bad += sum(1 for d in canon if texts.get(d) != canon[d])
        bad += len(set(comp.values()) ^ set(canon))
        bad += len(set(texts) ^ set(comp))
        found = sum(1 for d, s in c.source.items()
                    if comp.get(d) is not None and comp.get(d) == comp.get(s))
        return len(texts), bad, len(c.source), found

    def warm_up(self, spark):
        src = self.paths[0]
        self._pass(spark, _OFF, "warm", src)
        _, bad, _, _ = self.check(src)
        if bad:
            raise RuntimeError(f"warm-up pass: {bad} wrong docs")

    def run(self, spark, tracer, seconds: float) -> Result:
        res = Result()
        shards = self.paths[1:]

        def step(src, name):
            t0 = time.perf_counter()
            if name == "e2e":
                with tracer.span("e2e", f"pass{len(res.pass_s)}"):
                    counts = self._pass(spark, _OFF, "e2e", src)
            else:
                counts = self._pass(spark, tracer, f"pass{len(res.pass_s)}",
                                    src)
                res.layer.setdefault("counts", []).append(counts)
            dt = time.perf_counter() - t0
            n, bad, p, f = self.check(src)
            res.attempted += n
            res.failed += bad
            res.expected += p
            res.found += f
            res.pass_s.append(dt)
            res.layered.append(name != "e2e")
            res.docs_per_pass.append(n)

        if not tracer.enabled:
            _measure_loop(seconds, DEDUP_PASS_S, shards,
                          lambda s: step(s, "e2e"))
        else:
            _measure_loop(seconds / 2, DEDUP_PASS_S, _pairs(shards),
                          lambda p: (step(p[0], "e2e"),
                                     step(p[1], "layered")))
        return res


_OFF = Tracer(None, enabled=False)

WORKLOADS = {w.name: w for w in (CorpusAnnotate, SingleNote, DedupCorpus)}
