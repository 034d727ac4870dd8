"""Tests: trainable plumbing, LLM async plumbing, streaming surface."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import edsnlp_spark as es
from edsnlp_spark.operators.tokenizer import Tokenizer
from edsnlp_spark.operators.trainable import (
    ner_crf_decode, resolve_overlaps, transformer_embeddings, window_tokens,
)
from edsnlp_spark.operators.llm import llm_markup_extract, llm_span_qualify
from edsnlp_spark.streaming.pipeline_stream import (
    annotate_stream, stream_notes_json,
)
from edsnlp_spark.operators.matcher import PhraseMatcher


def make_notes(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "note_id long, note_text string")
    return Tokenizer()(df)


# ---- trainable ---------------------------------------------------------

def test_window_fanout_covers_all_tokens(spark):
    notes = make_notes(spark, ["a b c d e f g h i j"])
    w = window_tokens(notes, window=4, stride=2).orderBy("win_id").collect()
    assert [r["win_start"] for r in w] == [0, 2, 4, 6, 8]
    assert w[0]["toks"] == ["a", "b", "c", "d"]
    assert w[-1]["toks"] == ["i", "j"]


def test_transformer_embeddings_one_vector_per_token(spark):
    notes = make_notes(spark, ["a b c d e f g h i j", "x y"])
    out = transformer_embeddings(notes, window=4, stride=2, dim=8)
    rows = out.collect()
    assert len(rows) == 12  # one embedding per token, overlaps resolved
    assert all(len(r["emb"]) == 8 for r in rows)
    # same token text -> same pseudo-embedding (deterministic stub)
    notes2 = make_notes(spark, ["a"])
    v1 = transformer_embeddings(notes2, window=4, stride=2, dim=8).collect()[0]
    va = [r for r in rows if r["note_id"] == 0 and r["tok_i"] == 0][0]
    assert v1["emb"] == va["emb"]


def test_ner_crf_decode_schema_invariant(spark):
    notes = make_notes(spark, ["alpha beta gamma delta"])
    tagger = lambda toks: ["B-ENT", "I-ENT", "O", "B-ENT"]
    out = ner_crf_decode(notes, tagger=tagger).orderBy("start_char").collect()
    assert [(r["lexical_variant"], r["tok_start"], r["tok_end"]) for r in out] \
        == [("alpha beta", 0, 2), ("delta", 3, 4)]
    text = "alpha beta gamma delta"
    for r in out:
        assert text[r["start_char"]:r["end_char"]] == r["lexical_variant"]
    # ML spans share the rule-matcher schema (design invariant)
    m = PhraseMatcher({"x": ["alpha"]}, attr="TEXT").entities(notes)
    assert set(out[0].asDict().keys()) == set(m.columns)


# ---- LLM ---------------------------------------------------------------

def test_llm_markup_extract_with_fake_client(spark):
    notes = spark.createDataFrame(
        [(1, "Le patient est malade."), (2, "Rien.")],
        "note_id long, note_text string")

    async def fake(prompt):
        if "malade" in prompt:
            return "Le patient est <ent label=dis>malade</ent>."
        return "Rien."

    out = llm_markup_extract(notes, complete_fn=fake).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["note_id"], r["label"], r["lexical_variant"], r["span_type"]) == \
        (1, "dis", "malade", "llm")
    assert "Le patient est malade."[r["start_char"]:r["end_char"]] == "malade"


def test_llm_span_qualify_with_fake_client(spark):
    ents = spark.createDataFrame(
        [(1, 0, 5, "dis", "fever", "ents"), (1, 6, 10, "dis", "cold", "ents")],
        "note_id long, start_char int, end_char int, label string, "
        "lexical_variant string, span_type string")

    async def fake(prompt):
        return json.dumps({"negation": "fever" in prompt})

    out = {r["lexical_variant"]: r["negation"]
           for r in llm_span_qualify(ents, complete_fn=fake).collect()}
    assert out == {"fever": True, "cold": False}


def test_llm_default_client_raises(spark):
    notes = spark.createDataFrame([(1, "x")], "note_id long, note_text string")
    with pytest.raises(Exception):
        llm_markup_extract(notes).collect()


# ---- streaming ---------------------------------------------------------

def test_streaming_annotate(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    recs = [
        {"note_id": 1, "person_id": 1,
         "note_text": "spark et merge ici", "note_datetime": None},
        {"note_id": 2, "person_id": 1,
         "note_text": "rien du tout", "note_datetime": None},
    ]
    with open(src / "batch1.jsonl", "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")

    def batch_fn(batch):
        ndf = Tokenizer()(batch)
        return PhraseMatcher({"kw": ["spark", "merge"]}, attr="TEXT").entities(ndf)

    stream = stream_notes_json(spark, str(src))
    assert stream.isStreaming
    q = annotate_stream(
        stream, batch_fn, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(60)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["lexical_variant"] for r in out.collect()) == ["merge", "spark"]


def test_streaming_negation_chain_restart(spark, tmp_path):
    """r6 (VERDICT r5 #6, SURVEY §2.12): the flagship negation chain
    (tokenize -> sentences -> phrase match -> qualifier engine) runs
    UNCHANGED per micro-batch under foreachBatch; the query survives a
    checkpoint restart (the second query run processes only the new
    file — no batch-1 duplicates), and the accumulated streaming output
    equals the batch path on the same data."""
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.queries.textops import negation_chain

    src = tmp_path / "in"
    src.mkdir()
    texts1 = ["slow spark pipeline", "filter then merge table",
              "small merge but fast spark"]
    texts2 = ["spark alone", "slow merge filter spark again"]

    def write(name, texts, base):
        with open(src / name, "w") as f:
            for i, t in enumerate(texts):
                f.write(json.dumps({
                    "note_id": base + i, "person_id": 1,
                    "note_text": t, "note_datetime": None}) + "\n")

    def batch_fn(batch):
        prepared = Pipeline([Tokenizer(mode="pretokenized"),
                             SentenceSegmenter()])(batch)
        return negation_chain(prepared)

    out_path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    write("batch1.jsonl", texts1, base=0)
    q = annotate_stream(stream_notes_json(spark, str(src)),
                        batch_fn, out_path, ckpt)
    q.awaitTermination(120)

    # restart: new file, NEW query, SAME checkpoint -> only batch 2 runs
    write("batch2.jsonl", texts2, base=100)
    q2 = annotate_stream(stream_notes_json(spark, str(src)),
                         batch_fn, out_path, ckpt)
    q2.awaitTermination(120)

    got = sorted((r.doc_id, r.pos, r.term, r.negated)
                 for r in spark.read.parquet(out_path).collect())
    # batch path: same chain over ALL the data at once
    all_notes = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts1)]
        + [(100 + i, t) for i, t in enumerate(texts2)],
        "note_id long, note_text string")
    want = sorted((r.doc_id, r.pos, r.term, r.negated)
                  for r in batch_fn(all_notes).collect())
    assert got == want and len(got) >= 6
    # no duplicate rows from the restart (checkpoint held batch 1)
    assert len(got) == len(set(got))
    # semantics spot-check: cue 'slow' negates, 'filter' terminates
    by_key = {(d, t): n for d, p, t, n in got}
    assert by_key[(0, "spark")] is True       # 'slow spark'
    assert by_key[(1, "merge")] is False      # after 'filter'
    assert by_key[(100, "spark")] is False    # no cue


def test_streaming_cache_stays_bounded(spark, tmp_path):
    """r7 (ADVICE r6 #1): a batch_fn that builds a FRESH QualifierEngine
    per micro-batch persists fresh planes every batch; a per-engine
    lease would never end for them.  annotate_stream leases each
    micro-batch's planes to the batch and releases them after its
    write, so a long-running stream holds a bounded number of cached
    planes — after N micro-batches both the lease registry and Spark's
    persistent RDDs are back to their pre-stream state."""
    from edsnlp_spark.core import caching
    from edsnlp_spark.core.base import Pipeline
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.queries.textops import negation_chain

    src = tmp_path / "in"
    src.mkdir()
    for b in range(3):
        with open(src / f"b{b}.jsonl", "w") as f:
            for i in range(2):
                f.write(json.dumps({
                    "note_id": 10 * b + i, "person_id": 1,
                    "note_text": "slow spark then filter merge table",
                    "note_datetime": None}) + "\n")

    def batch_fn(batch):
        prepared = Pipeline([Tokenizer(mode="pretokenized"),
                             SentenceSegmenter()])(batch)
        return negation_chain(prepared)

    def rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    tracked_before, rdds_before = caching.tracked_scopes(), rdd_ids()
    q = annotate_stream(
        stream_notes_json(spark, str(src), max_files_per_trigger=1),
        batch_fn, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert caching.tracked_scopes() == tracked_before
    assert not (rdd_ids() - rdds_before)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 6 * 3  # 3 targets x 2 notes x 3 batches


def test_shared_embedding_forward_runs_once(spark):
    """Shared-embedding cache analog (torch_component.py:191-208): two
    heads consume ONE materialized forward pass — the accumulator
    counts exactly one forward per window, not two."""
    from edsnlp_spark.operators.trainable import (
        SharedEmbedding, classify_spans_from_embeddings,
        ner_from_embeddings,
    )
    notes = make_notes(spark, ["a b c d e f g h", "x y z"]).persist()
    n_windows = 5  # doc1: starts 0,2,4,6 (w=4,s=2); doc2: 0, stride>len
    acc = spark.sparkContext.accumulator(0)

    def counting_forward(toks):
        acc.add(1)
        return [[float(len(t))] * 4 for t in toks]

    shared = SharedEmbedding(
        notes, window=4, stride=4, dim=4, forward=counting_forward
    ).materialize()
    ents = ner_from_embeddings(shared, notes, threshold=2.0)
    # every token has emb[0] = len(text) = 1 < 2.0 -> one run per doc
    got = {(r["note_id"], r["lexical_variant"]) for r in ents.collect()}
    assert got == {(0, "a b c d e f g h"), (1, "x y z")}
    spans = ents.select("note_id", "start_char", "end_char",
                        "tok_start", "tok_end")
    cls = classify_spans_from_embeddings(shared, spans, threshold=0.5)
    rows = cls.collect()
    assert {r["pred_label"] for r in rows} == {"POS"}  # mean emb[0] = 1.0
    assert all(abs(r["score"] - 1.0) < 1e-9 for r in rows)
    # THE invariant: both heads ran, forward executed once per window
    assert acc.value == 3  # doc1 windows at 0,4 + doc2 window at 0
    shared.release()
    notes.unpersist()


# ---- biaffine dependency parser ----------------------------------------

def _brute_force_best(score):
    """Exhaustive max one-root arborescence for tiny n (test oracle)."""
    import itertools
    import numpy as np
    n = score.shape[0]
    best, best_heads = -np.inf, None
    for combo in itertools.product(range(n), repeat=n - 1):
        heads = np.array([0] + list(combo))
        if any(heads[d] == d for d in range(1, n)):
            continue
        if sum(1 for d in range(1, n) if heads[d] == 0) != 1:
            continue
        # acyclic: every node reaches ROOT
        ok = True
        for d in range(1, n):
            seen, v = set(), d
            while v != 0:
                if v in seen:
                    ok = False
                    break
                seen.add(v)
                v = int(heads[v])
            if not ok:
                break
        if not ok:
            continue
        total = sum(score[d, heads[d]] for d in range(1, n))
        if total > best:
            best, best_heads = total, heads
    return best, best_heads


def test_mst_matches_brute_force():
    """Chu-Liu/Edmonds one-root decode == exhaustive search on random
    matrices (the reference decodes with the same algorithm,
    biaffine_dep_parser.py:22-259)."""
    import numpy as np
    from edsnlp_spark.operators.dep_parser import mst_one_root
    rng = np.random.RandomState(0)
    for trial in range(30):
        n = rng.randint(3, 7)
        score = rng.rand(n, n)
        heads = mst_one_root(score)
        total = sum(score[d, heads[d]] for d in range(1, n))
        best, _ = _brute_force_best(score)
        assert abs(total - best) < 1e-9, (trial, total, best)


def test_mst_resolves_greedy_cycle():
    import numpy as np
    from edsnlp_spark.operators.dep_parser import greedy_heads, mst_one_root
    # 2 and 3 prefer each other (cycle); root arc only viable via 1
    s = np.full((4, 4), -10.0)
    s[1, 0] = 5.0
    s[2, 3] = 9.0
    s[3, 2] = 9.0
    s[2, 1] = 4.0
    s[3, 1] = 1.0
    g = greedy_heads(s)
    assert list(g[1:]) == [0, 3, 2]  # cycle 2<->3
    m = mst_one_root(s)
    # MST must break the cycle through node 1
    assert list(m[1:]) in ([0, 1, 2], [0, 3, 1])


def test_parse_dependencies_plane(spark):
    from edsnlp_spark.operators.dep_parser import parse_dependencies
    notes = make_notes(spark, ["le patient dort bien", "bonjour"])
    out = parse_dependencies(notes, decoding_mode="mst").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["note_id"], []).append(r)
    assert len(by_doc[0]) == 4 and len(by_doc[1]) == 1
    for rows in by_doc.values():
        roots = [r for r in rows if r["head_i"] == -1]
        assert len(roots) == 1 and roots[0]["label"] == "root"
        # heads are valid token indices or ROOT
        n = len(rows)
        assert all(-1 <= r["head_i"] < n and r["head_i"] != r["tok_i"]
                   for r in rows)
    # deterministic stub: same input -> same parse
    out2 = parse_dependencies(notes, decoding_mode="mst").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_span_linker_from_shared_embedding(spark):
    """span_linker head: pooled span embedding linked to the nearest
    concept — a span whose tokens embed like concept A links to A.
    Concepts use the SAME stub embedder, so a span containing exactly a
    concept's surface token must link to that concept with cos ~1."""
    from edsnlp_spark.operators.trainable import (
        SharedEmbedding, link_spans_from_embeddings, _pseudo_vector)
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.core.base import Pipeline
    notes = Pipeline([Tokenizer()])(spark.createDataFrame(
        [(1, "patient avec diabete severe"), (2, "suspicion de cancer")],
        "note_id long, note_text string")).persist()
    shared = SharedEmbedding(notes, dim=8).materialize()
    dim = shared.dim
    concepts = spark.createDataFrame(
        [("C_DIAB", _pseudo_vector("diabete", dim)),
         ("C_CANC", _pseudo_vector("cancer", dim))],
        "kb_id string, emb array<double>")
    # spans = the single interesting token per note
    spans = spark.createDataFrame(
        [(1, 13, 20, 2, 3), (2, 13, 19, 2, 3)],
        "note_id long, start_char int, end_char int, "
        "tok_start int, tok_end int")
    out = {r["note_id"]: (r["kb_id"], r["link_score"]) for r in
           link_spans_from_embeddings(shared, spans, concepts).collect()}
    assert out[1][0] == "C_DIAB" and out[1][1] > 0.99
    assert out[2][0] == "C_CANC" and out[2][1] > 0.99
    shared.release()


def test_extractive_qa_best_sentence(spark):
    """extractive_qa head: the sentence sharing the question's tokens
    wins the cosine ranking and is returned as the answer span."""
    from edsnlp_spark.operators.trainable import (
        SharedEmbedding, extract_answers)
    from edsnlp_spark.operators.tokenizer import Tokenizer
    from edsnlp_spark.operators.sentences import SentenceSegmenter
    from edsnlp_spark.core.base import Pipeline
    text = ("Le patient dort bien. "
            "Le traitement du diabete est l'insuline. "
            "Il sort demain.")
    notes = Pipeline([Tokenizer(), SentenceSegmenter()])(
        spark.createDataFrame([(1, text)],
                              "note_id long, note_text string")).persist()
    shared = SharedEmbedding(notes, dim=8).materialize()
    out = extract_answers(shared, notes,
                          "traitement du diabete insuline").collect()[0]
    ans = text[out["start_char"]:out["end_char"]]
    assert "insuline" in ans
    shared.release()


def test_llm_few_shot_retrieval(spark):
    """Few-shot prompts include the CLOSEST example by token overlap
    (llm_markup_extractor use_retriever semantics), capped at
    max_few_shot_examples.  The fake client encodes which examples it
    saw into the returned label (executor-side state can't be
    inspected from the driver)."""
    from edsnlp_spark.operators.llm import llm_markup_extract

    async def fake(prompt):
        head = prompt.split("Annotate")[0]
        label = ("fievre" if "fievre" in head else "none") + "_" + \
            ("bio" if "biologie" in head else "nobio")
        # echo the source so offsets pass through unaligned (the
        # re-alignment path has its own tests in test_fuzzy_align.py)
        return f"patient avec <ent label={label}>fievre</ent> et toux"

    notes = spark.createDataFrame(
        [(1, "patient avec fievre et toux")],
        "note_id long, note_text string").coalesce(1)
    exs = [
        ("rapport de biologie sanguine", "<ent label=bio>NFS</ent>"),
        ("le patient a de la fievre", "<ent label=sym>fievre</ent>"),
    ]
    out = llm_markup_extract(
        notes, complete_fn=fake, few_shot_examples=exs,
        max_few_shot_examples=1).collect()
    # only the closest (fievre) example was included, the other not
    assert len(out) == 1 and out[0]["label"] == "fievre_nobio"


# ---- training loop smoke (trainer.py:444-1003 shape) -------------------

def test_training_smoke_loop(spark):
    """One epoch-bounded training loop wired from the engine's pieces:
    Stream.loop (epoch replication) -> seeded shuffle -> padded-words
    batching -> injectable batch forward (budget asserted inside the
    'GPU' stage) -> GenericScorer-style P/R/F aggregation per epoch.
    Gradients are out of scope (no torch in container, CLAUDE.md); the
    loop's data-plane contract is what this verifies:
      * every epoch presents every document exactly once,
      * no minibatch exceeds the padded budget,
      * metrics computed from predictions are exact.
    """
    from edsnlp_spark.core.stream_ops import (
        batchify_by_padded_words, loop, shuffle)
    from edsnlp_spark.operators.metrics import ner_exact_metrics
    from edsnlp_spark.operators.trainable import transformer_embeddings

    texts = [f"alpha beta w{i} gamma spark" for i in range(20)]
    notes = make_notes(spark, texts)
    n_epochs, budget = 2, 64

    stream = shuffle(loop(notes, n_epochs), seed=7)
    stream = batchify_by_padded_words(stream, budget, text_col="note_text")

    # data-plane contract: per epoch, each doc exactly once
    per_epoch = stream.groupBy("epoch").agg(
        F.count("*").alias("n"),
        F.count_distinct("note_id").alias("d")).collect()
    assert len(per_epoch) == n_epochs
    assert all(r["n"] == 20 and r["d"] == 20 for r in per_epoch)
    # padded budget holds per batch
    b = stream.withColumn("__l", F.size(F.split("note_text", " "))) \
        .groupBy("batch_id").agg(F.count("*").alias("c"),
                                 F.max("__l").alias("m")).collect()
    assert all(r["c"] * r["m"] <= budget for r in b if r["c"] > 1)

    # "model" stage over epoch 0 with a batch forward that asserts the
    # padded budget inside the Arrow stage itself
    def batch_forward(tok_lists):
        assert len(tok_lists) * max(len(t) for t in tok_lists) <= budget
        return [[[float(len(t))] * 4 for t in toks] for toks in tok_lists]

    ep0 = stream.filter(F.col("epoch") == 0).drop("epoch", "batch_id")
    emb = transformer_embeddings(ep0, window=8, stride=4, dim=4,
                                 padded_budget=budget,
                                 batch_forward=batch_forward)
    # one embedding per token; 'w{i}' splits letter|digits -> 6 tokens
    assert emb.count() == 20 * 6

    # scorer: fake tagger predicts 'spark' tokens; gold = the same span
    # set => exact F1 1.0 for the label, shape mirrors GenericScorer's
    # per-label + micro table
    toks = notes.select(
        "note_id", F.posexplode(F.split("note_text", " ")).alias("i", "t"))
    pred = toks.filter(F.col("t") == "spark").select(
        "note_id", F.col("i").alias("start_char"),
        (F.col("i") + 1).alias("end_char"), F.lit("SYS").alias("label"))
    gold = pred
    m = {r["label"]: r for r in ner_exact_metrics(pred, gold).collect()}
    assert m["SYS"]["f1"] == 1.0 and m["micro"]["tp"] == 20


def test_llm_span_qualifier_schema_and_context(spark):
    """Reference test_llm_span_qualifier_async_multiple_spans shape:
    typed multi-attribute schema, XML-marked word context per span,
    per-span JSON answers landing in typed columns."""
    import datetime
    src = "Le patient a une tuberculose et une pneumonie."
    notes = spark.createDataFrame([(1, src)],
                                  "note_id long, note_text string")
    s1, s2 = src.index("tuberculose"), src.index("pneumonie")
    ents = spark.createDataFrame(
        [(1, s1, s1 + 11, "DIAG", "tuberculose", "ents"),
         (1, s2, s2 + 9, "DIAG", "pneumonie", "ents")],
        "note_id long, start_char int, end_char int, label string, "
        "lexical_variant string, span_type string")

    seen = []

    async def fake(prompt):
        seen.append(prompt)
        if "tuberculose" in prompt:
            assert "<DIAG>tuberculose</DIAG>" in prompt
            return '{"negation": true}'
        assert "<DIAG>pneumonie</DIAG>" in prompt
        return '{"negation": false, "date": "2024-06-01"}'

    out = llm_span_qualify(
        ents, complete_fn=fake,
        schema={"negation": "boolean", "date": "date"},
        notes=notes, context_words=2).collect()
    vals = {r["lexical_variant"]: (r["negation"], r["date"]) for r in out}
    assert vals == {
        "tuberculose": (True, None),
        "pneumonie": (False, datetime.date(2024, 6, 1)),
    }


def test_llm_span_qualifier_error_modes(spark):
    """on_error='skip' leaves attributes null; 'raise' propagates
    (reference test_llm_span_qualifier_async_error)."""
    import pytest as _pytest
    ents = spark.createDataFrame(
        [(1, 0, 5, "dis", "fever", "ents")],
        "note_id long, start_char int, end_char int, label string, "
        "lexical_variant string, span_type string")

    async def bad(prompt):
        raise RuntimeError("boom")

    out = llm_span_qualify(ents, complete_fn=bad, on_error="skip").collect()
    assert len(out) == 1 and out[0]["negation"] is None

    with _pytest.raises(Exception):
        llm_span_qualify(ents, complete_fn=bad, on_error="raise").collect()

    async def garbage(prompt):
        return "not json at all"

    out = llm_span_qualify(ents, complete_fn=garbage).collect()
    assert out[0]["negation"] is None
