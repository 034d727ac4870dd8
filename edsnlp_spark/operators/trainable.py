"""Trainable-pipe surface: the mapInPandas/GPU plumbing (SURVEY.md §2.9).

Parity targets:
- eds.transformer (pipes/trainable/embeddings/transformer/transformer.py:
  60-547): long docs are chunked into overlapping windows (512/256
  default); overlapping token embeddings resolve to the occurrence most
  central in its window (:69-87).
- eds.ner_crf (pipes/trainable/ner_crf/ner_crf.py:57-640): token tagger
  whose decoded spans land in the SAME entities schema as rule matchers —
  the key design invariant.

Torch is not in this container, so the model forward is pluggable: the
default ``forward`` is a deterministic md5-based pseudo-embedding /
pseudo-tagger (clearly a stub).  Everything around it — window fan-out,
Arrow batching, most-central overlap resolution, span decode to the
entities plane — is real Spark and tested:

- window fan-out is a native ``explode`` over ``sequence`` (so Catalyst
  sees and can repartition the windowed rows, e.g. to GPU executors with
  a stage-level resource profile);
- the forward runs in ``mapInPandas`` (Arrow columnar transfer, one
  batch = one model minibatch; sort-by-length happens inside via
  pandas sort to cut padding — changelog.md:553's 2x trick);
- overlap resolution is a grouped ``min_by`` on distance-to-window-center.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..core import caching


def _pseudo_vector(token: str, dim: int) -> list[float]:
    h = hashlib.md5(token.encode()).digest()
    return [h[i % 16] / 255.0 for i in range(dim)]


def window_tokens(notes: DataFrame, window: int = 128, stride: int = 64,
                  tokens_col: str = "tokens") -> DataFrame:
    """Fan a doc out into overlapping token windows (native explode).

    Output: (note_id, win_id, win_start, toks array<string>) — one row
    per window, ready for Arrow transfer to the model stage.
    """
    toks = F.col(tokens_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        notes.select("note_id", toks.alias("__toks"),
                     F.explode(starts).alias("win_start"))
        .filter((F.col("win_start") < F.size("__toks")) & (F.size("__toks") > 0))
        .select(
            "note_id",
            (F.col("win_start") / stride).cast("int").alias("win_id"),
            "win_start",
            F.transform(
                F.slice(F.col("__toks"), F.col("win_start") + 1, window),
                lambda t: t["text"],
            ).alias("toks"),
        )
    )


def embed_windows(windows: DataFrame, dim: int = 16,
                  forward: Callable[[list[str]], list[list[float]]] | None = None,
                  padded_budget: int | None = None,
                  batch_forward: Callable[[list[list[str]]],
                                          list[list[list[float]]]] | None = None,
                  ) -> DataFrame:
    """Model stage: rows sorted by length inside each Arrow chunk to
    minimize padding waste (changelog.md:553's 2x trick).

    ``padded_budget`` sub-batches each Arrow chunk under the PADDED
    budget — minibatch cost = windows x longest window, the tensor a
    real GPU forward allocates (utils/batching.py:181 batchify_by_padded
    semantics via ``greedy_padded_groups``).  ``batch_forward`` is the
    GPU-shaped injectable: it receives one whole minibatch (list of
    token lists) per call; the per-window ``forward`` remains for simple
    fakes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.stream_ops import greedy_padded_groups
        fwd = forward or (lambda toks: [_pseudo_vector(t, dim) for t in toks])
        for pdf in batches:
            pdf = pdf.assign(__len=pdf["toks"].map(len)).sort_values("__len")
            rows = list(zip(pdf["note_id"], pdf["win_id"], pdf["win_start"],
                            pdf["toks"]))
            if padded_budget is not None:
                gids = greedy_padded_groups((len(r[3]) for r in rows),
                                            padded_budget)
            else:
                gids = [0] * len(rows)
            out_rows = []
            start = 0
            while start < len(rows):
                end = start
                while end < len(rows) and gids[end] == gids[start]:
                    end += 1
                chunk = rows[start:end]
                if batch_forward is not None:
                    all_vecs = batch_forward([list(r[3]) for r in chunk])
                else:
                    all_vecs = [fwd(list(r[3])) for r in chunk]
                for (note_id, win_id, win_start, _), vecs in zip(chunk,
                                                                 all_vecs):
                    for i, v in enumerate(vecs):
                        out_rows.append(
                            (note_id, win_id, int(win_start) + i, v))
                start = end
            yield pd.DataFrame(
                out_rows, columns=["note_id", "win_id", "tok_i", "emb"])

    return windows.mapInPandas(
        run, "note_id long, win_id int, tok_i int, emb array<float>")


def resolve_overlaps(embedded: DataFrame, window: int = 128) -> DataFrame:
    """Per token, keep the embedding from the window where the token is
    most central (transformer.py:69-87) — a grouped min_by, no UDF."""
    center = F.col("win_id") * F.lit(window // 2) + F.lit(window / 2.0)
    dist = F.abs(F.col("tok_i") - center)
    return embedded.groupBy("note_id", "tok_i").agg(
        F.min_by(F.col("emb"), F.struct(dist.alias("d"),
                                        F.col("win_id").alias("w"))).alias("emb")
    )


def transformer_embeddings(notes: DataFrame, window: int = 128,
                           stride: int = 64, dim: int = 16,
                           forward=None, padded_budget: int | None = None,
                           batch_forward=None) -> DataFrame:
    """Full eds.transformer pipeline: fan-out -> model -> overlap resolve."""
    w = window_tokens(notes, window, stride)
    e = embed_windows(w, dim, forward, padded_budget=padded_budget,
                      batch_forward=batch_forward)
    return resolve_overlaps(e, window)


class SharedEmbedding:
    """Spark analog of the reference's shared-embedding cache
    (edsnlp/core/torch_component.py:191-208): sibling components that
    share one transformer compute its output ONCE per batch and read a
    cache.  Here the cache is a persisted embeddings plane — the
    mapInPandas forward executes once, and every downstream head
    (ner_from_embeddings, classify_spans_from_embeddings, ...) reads
    the same materialized rows instead of re-running the model
    subtree.

    ``materialize()`` forces the forward (one count()) so later
    consumers never race to compute it.  The plane is leased to this
    object (or, when built inside another leased call, to that call's
    owner); ``release()`` ends the lease once the heads' results are
    consumed — the disable_cache analog.
    """

    def __init__(self, notes: DataFrame, window: int = 128,
                 stride: int = 64, dim: int = 16, forward=None):
        self.dim = dim
        with caching.lease(self):
            self.embeddings = caching.persist(transformer_embeddings(
                notes, window, stride, dim, forward))

    def materialize(self) -> "SharedEmbedding":
        self.embeddings.count()
        return self

    def release(self) -> None:
        caching.release(self)


def ner_from_embeddings(shared: SharedEmbedding, notes: DataFrame,
                        tokens_col: str = "tokens",
                        threshold: float = 0.25) -> DataFrame:
    """NER head over a shared embedding (ner_crf.py:57-640 contract —
    output lands in the rule-matcher entities schema).  The 'tagger' is
    a deterministic linear-probe stub (emb[0] < threshold => entity
    token); the BIO decode is native window sessionization, so NO
    second forward pass happens: the only mapInPandas in this plan is
    the shared embedding's."""
    tok = notes.select(
        "note_id", F.posexplode(tokens_col).alias("tok_i", "tok"))
    j = tok.join(shared.embeddings, ["note_id", "tok_i"])
    is_ent = F.element_at("emb", 1) < threshold
    w = Window.partitionBy("note_id").orderBy("tok_i")
    j = j.select(
        "note_id", "tok_i",
        F.col("tok.text").alias("text"),
        F.col("tok.start").alias("start"),
        F.col("tok.end").alias("end"),
        is_ent.alias("is_ent"),
    ).withColumn(
        "start_flag",
        (F.col("is_ent")
         & ~F.coalesce(F.lag("is_ent").over(w), F.lit(False))).cast("int"),
    ).withColumn("eid", F.sum("start_flag").over(w))
    arr = F.sort_array(F.collect_list(F.struct("tok_i", "text")))
    return (
        j.filter("is_ent")
        .groupBy("note_id", "eid")
        .agg(
            F.min("start").alias("start_char"),
            F.max("end").alias("end_char"),
            F.lit("ENT").alias("label"),
            F.concat_ws(" ", arr["text"]).alias("lexical_variant"),
            F.lit("ml").alias("span_type"),
            F.min("tok_i").alias("tok_start"),
            (F.max("tok_i") + 1).alias("tok_end"),
        )
        .drop("eid")
    )


def classify_spans_from_embeddings(shared: SharedEmbedding,
                                   spans: DataFrame,
                                   threshold: float = 0.45) -> DataFrame:
    """Span-classifier head over the SAME shared embedding
    (span_classifier contract: pooled span embedding -> label).  Mean
    pooling is native HOF algebra (zip_with sum over collected token
    vectors / count); the probe is a deterministic threshold stub."""
    s = spans.select(
        F.col("note_id").alias("s_note_id"), "start_char", "end_char",
        "tok_start", "tok_end",
    )
    j = s.join(
        shared.embeddings,
        (F.col("s_note_id") == F.col("note_id"))
        & (F.col("tok_i") >= F.col("tok_start"))
        & (F.col("tok_i") < F.col("tok_end")),
    )
    zero = F.array_repeat(F.lit(0.0), shared.dim)

    def add(acc, x):
        return F.zip_with(acc, x, lambda a, b: a + b)

    pooled = F.aggregate(
        F.collect_list(F.col("emb").cast("array<double>")), zero, add)
    g = j.groupBy("s_note_id", "start_char", "end_char").agg(
        pooled.alias("sum_emb"), F.count(F.lit(1)).alias("n_tok"))
    mean0 = F.element_at("sum_emb", 1) / F.col("n_tok")
    return g.select(
        F.col("s_note_id").alias("note_id"), "start_char", "end_char",
        F.when(mean0 > threshold, F.lit("POS")).otherwise(F.lit("NEG"))
        .alias("pred_label"),
        F.round(mean0, 6).alias("score"),
    )


def ner_crf_decode(notes: DataFrame,
                   tagger: Callable[[list[str]], list[str]] | None = None,
                   label_whitelist: tuple[str, ...] = ("ENT",),
                   tokens_col: str = "tokens") -> DataFrame:
    """BIO tag + decode to the entities plane (ner_crf.py:57-640 contract:
    ML spans share the rule-matcher schema).

    The default tagger is a deterministic stub (tags tokens whose md5
    starts with a hex digit < '4' — clearly fake); the decode from BIO
    runs in the same mapInPandas pass and emits char offsets from the
    token structs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def default_tagger(toks: list[str]) -> list[str]:
            return [
                "B-ENT" if hashlib.md5(t.encode()).hexdigest()[0] < "4" else "O"
                for t in toks
            ]

        tag = tagger or default_tagger
        for pdf in batches:
            rows = []
            for note_id, toks in zip(pdf["note_id"], pdf[tokens_col]):
                texts = [t["text"] for t in toks]
                tags = tag(texts)
                i = 0
                while i < len(tags):
                    if tags[i].startswith("B-"):
                        label = tags[i][2:]
                        j = i + 1
                        while j < len(tags) and tags[j] == f"I-{label}":
                            j += 1
                        if label in label_whitelist:
                            rows.append((
                                note_id,
                                int(toks[i]["start"]), int(toks[j - 1]["end"]),
                                label,
                                " ".join(texts[i:j]),
                                "ml", i, j,
                            ))
                        i = j
                    else:
                        i += 1
            yield pd.DataFrame(rows, columns=[
                "note_id", "start_char", "end_char", "label",
                "lexical_variant", "span_type", "tok_start", "tok_end"])

    return notes.select("note_id", tokens_col).mapInPandas(
        run,
        "note_id long, start_char int, end_char int, label string, "
        "lexical_variant string, span_type string, tok_start int, tok_end int",
    )


def link_spans_from_embeddings(shared: SharedEmbedding, spans: DataFrame,
                               concepts: DataFrame) -> DataFrame:
    """Span-linker head (eds.span_linker contract: pooled span embedding
    -> nearest concept in a knowledge base).  The pooling and cosine
    ranking are REAL native algebra over the shared embedding; the
    concept table (kb_id, emb array<double>) is broadcast — the
    synonym-similarity design of the reference's span_linker with the
    torch forward replaced by the shared stub embedder.

    Plan: span->token equi-join on note_id + tok interval, grouped mean
    pool, broadcast cross-score vs concepts, max_by(kb_id, cos).
    """
    s = spans.select(
        F.col("note_id").alias("s_note_id"), "start_char", "end_char",
        "tok_start", "tok_end",
    )
    j = s.join(
        shared.embeddings,
        (F.col("s_note_id") == F.col("note_id"))
        & (F.col("tok_i") >= F.col("tok_start"))
        & (F.col("tok_i") < F.col("tok_end")),
    )
    zero = F.array_repeat(F.lit(0.0), shared.dim)
    pooled_sum = F.aggregate(
        F.collect_list(F.col("emb").cast("array<double>")), zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b))
    g = j.groupBy("s_note_id", "start_char", "end_char").agg(
        pooled_sum.alias("sum_emb"), F.count(F.lit(1)).alias("n_tok"))
    mean = F.transform("sum_emb", _div_by_n_factory())
    g = g.select("s_note_id", "start_char", "end_char", mean.alias("se"))
    c = concepts.select(
        F.col("kb_id"), F.col("emb").cast("array<double>").alias("ce"))
    x = g.join(F.broadcast(c))
    dot = F.aggregate(F.zip_with("se", "ce", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    nrm = lambda col: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(col, lambda v: v * v), F.lit(0.0),
        lambda acc, v: acc + v))
    cos = dot / (nrm("se") * nrm("ce") + F.lit(1e-12))
    return x.groupBy(F.col("s_note_id").alias("note_id"),
                     "start_char", "end_char").agg(
        F.max_by("kb_id", cos).alias("kb_id"),
        F.round(F.max(cos), 6).alias("link_score"),
    )


def _div_by_n_factory():
    """Closure factory (HOF-lambda gotcha): n_tok bound via column ref."""
    return lambda v: v / F.col("n_tok")


def extract_answers(shared: SharedEmbedding, notes: DataFrame,
                    question: str, forward=None) -> DataFrame:
    """Extractive-QA head (eds.extractive_qa contract) at sentence
    granularity: the question goes through the SAME embedder, each
    sentence's pooled embedding is cosine-scored against it, and the
    best sentence per note is the extracted answer span.

    Real retrieval algebra (pool + cosine + max_by) over the shared
    embedding; only the embedder forward is the deterministic stub.
    """
    q_emb = (_pseudo_vector(question, shared.dim) if forward is None
             else forward([question])[0])
    sents = notes.select(
        "note_id", F.posexplode("sentences").alias("s_i", "s"))
    sents = sents.select(
        "note_id", "s_i", F.col("s.start").alias("a_start"),
        F.col("s.end").alias("a_end"),
        F.col("s.tok_start").alias("s_ts"), F.col("s.tok_end").alias("s_te"))
    j = sents.join(
        shared.embeddings.withColumnRenamed("note_id", "e_note"),
        (F.col("note_id") == F.col("e_note"))
        & (F.col("tok_i") >= F.col("s_ts"))
        & (F.col("tok_i") < F.col("s_te")),
    )
    zero = F.array_repeat(F.lit(0.0), shared.dim)
    pooled = F.aggregate(
        F.collect_list(F.col("emb").cast("array<double>")), zero,
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b))
    g = j.groupBy("note_id", "s_i", "a_start", "a_end").agg(
        pooled.alias("sum_emb"), F.count(F.lit(1)).alias("n_tok"))
    qa = F.array(*[F.lit(float(v)) for v in q_emb])
    mean = F.transform("sum_emb", _div_by_n_factory())
    dot = F.aggregate(F.zip_with(mean, qa, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    n1 = F.sqrt(F.aggregate(F.transform(mean, lambda v: v * v),
                            F.lit(0.0), lambda acc, v: acc + v))
    n2 = F.lit(float(sum(v * v for v in q_emb)) ** 0.5)
    cos = dot / (n1 * n2 + F.lit(1e-12))
    scored = g.select("note_id", "a_start", "a_end",
                      F.round(cos, 6).alias("answer_score"))
    return scored.groupBy("note_id").agg(
        F.max_by(F.struct("a_start", "a_end"), F.col("answer_score"))
        .alias("ans"),
        F.max("answer_score").alias("answer_score"),
    ).select("note_id", F.col("ans.a_start").alias("start_char"),
             F.col("ans.a_end").alias("end_char"), "answer_score")


# ---- Numerically real NER head: linear logits + CRF Viterbi ------------
#
# VERDICT r8 #5: the injectable-fake forwards above prove the PLUMBING;
# this head is a real numeric forward with no torch — an integer linear
# layer over deterministic md5-byte token features plus exact Viterbi
# decoding under a CRF transition matrix (ner_crf.py:57-640 semantics:
# constrained BIO decode whose spans land in the rule-matcher entities
# schema).  Everything is integer arithmetic, so a DuckDB oracle
# (recursive CTE carrying per-state scores + argmax paths) reproduces
# the decode bit-for-bit — the "trained weights" are plan literals, the
# shape production inference takes after a training job exports them.

# demo weights: 3 tags (O=0, B-ENT=1, I-ENT=2) over 4 md5-byte features
NER_CRF_W = ((0, 0, 0, 0), (2, 1, 0, 0), (0, 0, 1, 1))
NER_CRF_B = (450, 0, 60)
# start[I] and T[O][I] are -1e6: an entity cannot begin with I —
# the CRF constraint that makes Viterbi differ from per-token argmax
NER_CRF_START = (0, 0, -1000000)
NER_CRF_T = ((0, 0, -1000000), (-1, -2, 3), (-1, -2, 2))


def _md5_features(token: str, dim: int = 4) -> list[int]:
    """First ``dim`` md5 bytes as integer features (0..255) — the
    deterministic, engine-portable stand-in for a learned embedding."""
    return list(hashlib.md5(token.encode()).digest()[:dim])


def ner_linear_crf(notes: DataFrame,
                   weights=NER_CRF_W, bias=NER_CRF_B,
                   start=NER_CRF_START, transitions=NER_CRF_T,
                   feature_scale: float | None = None,
                   id_col: str = "note_id",
                   text_col: str = "note_text") -> DataFrame:
    """Real numeric NER forward + exact Viterbi decode ->
    (note_id, start_char, end_char, label, lexical_variant, span_type,
    tok_start, tok_end) — the entities-plane schema shared with rule
    matchers (the reference's key trainable-pipe invariant).

    Per token t: logits = W @ md5_features(t) + b (integers).  Decode
    maximizes sum(logits[path]) + sum(T[path_i, path_i+1]) + start[s0]
    by dynamic programming; argmax ties break to the LOWEST state index
    on both engines (numpy argmax first-max == DuckDB list_position
    first occurrence).  All-integer scores make the oracle exact — no
    float ulp risk in the dp comparisons.

    Scale shape: one mapInPandas projection (Arrow batches, numpy
    vectorized logits, O(n_tokens * n_states^2) dp per note) — no
    shuffle, no per-row Python UDF, embarrassingly parallel like every
    other per-note matcher; weights ship as plan literals in the
    closure (a trained export would broadcast the same way).
    """
    import numpy as np

    # integer params (the oracle-exact demo/export path) keep int64 dp
    # scores; trained params (floats, e.g. from train_ner_perceptron)
    # switch the dp to float64 — no oracle rides on that path
    # ``feature_scale`` must match the value used at training time
    # (train_ner_perceptron default 1/255); None = raw integer bytes,
    # the oracle-exact demo/export path
    _raw = [np.asarray(x, dtype=np.float64)
            for x in (weights, bias, start, transitions)]
    dtype = np.int64 if feature_scale is None and \
        all(np.all(a == np.round(a)) for a in _raw) else np.float64
    W = np.asarray(weights, dtype=dtype)
    b = np.asarray(bias, dtype=dtype)
    s0 = np.asarray(start, dtype=dtype)
    T = np.asarray(transitions, dtype=dtype)
    n_states = W.shape[0]
    dim = W.shape[1]
    if not (b.shape == (n_states,) and s0.shape == (n_states,)
            and T.shape == (n_states, n_states)):
        raise ValueError("inconsistent CRF parameter shapes")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # executor-side

        feat_cache: dict[str, list[int]] = {}
        for pdf in batches:
            rows = []
            for note_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = text.split(" ")
                n = len(toks)
                emb = np.empty((n, dim), dtype=np.int64)
                for i, t in enumerate(toks):
                    f = feat_cache.get(t)
                    if f is None:
                        f = _md5_features(t, dim)
                        feat_cache[t] = f
                    emb[i] = f
                feats = emb if feature_scale is None \
                    else emb * feature_scale
                logits = feats @ W.T + b        # int or float dp
                dp = np.empty_like(logits)
                bp = np.zeros((n, n_states), dtype=np.int64)
                dp[0] = s0 + logits[0]
                for i in range(1, n):
                    cand = dp[i - 1][:, None] + T
                    bp[i] = np.argmax(cand, axis=0)  # first-max ties
                    dp[i] = cand[bp[i], np.arange(n_states)] + logits[i]
                path = np.empty(n, dtype=np.int64)
                path[-1] = int(np.argmax(dp[-1]))
                for i in range(n - 1, 0, -1):
                    path[i - 1] = bp[i, path[i]]
                # char offsets: cursor over single-space tokens
                starts = np.zeros(n, dtype=np.int64)
                cur = 0
                for i, t in enumerate(toks):
                    starts[i] = cur
                    cur += len(t) + 1
                i = 0
                while i < n:
                    if path[i] == 1:             # B-ENT
                        j = i + 1
                        while j < n and path[j] == 2:   # I-ENT
                            j += 1
                        rows.append((
                            note_id,
                            int(starts[i]),
                            int(starts[j - 1]) + len(toks[j - 1]),
                            "ENT",
                            " ".join(toks[i:j]),
                            "ml", i, j,
                        ))
                        i = j
                    else:
                        i += 1
            yield pd.DataFrame(rows, columns=[
                id_col, "start_char", "end_char", "label",
                "lexical_variant", "span_type", "tok_start", "tok_end"])

    id_type = notes.schema[id_col].dataType.simpleString()
    return notes.select(id_col, text_col).mapInPandas(
        run,
        f"{id_col} {id_type}, start_char int, end_char int, "
        "label string, lexical_variant string, span_type string, "
        "tok_start int, tok_end int",
    )


def quantize_crf_params(weights, bias, start, transitions,
                        feature_scale: float = 1.0 / 255.0,
                        scale_bits: int = 16):
    """Quantize trained float CRF params onto a fixed 2^scale_bits grid
    (VERDICT r9 #2), folding ``feature_scale`` into the weights so the
    quantized model consumes RAW md5 bytes: logits_q = W_q @ bytes +
    b_q ~ 2^k * (W @ (bytes*feature_scale) + b).  The result is
    all-integer, so :func:`ner_linear_crf` (feature_scale=None) runs
    the exact int64 dp and a DuckDB recursive-CTE Viterbi reproduces
    the decode bit-for-bit — the trained model becomes oracle-exact.

    Magnitudes: |W_q| ~ 2^16/255 * |W|; a logit is <= 4*255*|W_q| and a
    20k-token doc's dp score stays ~1e10 << 2^63.  Returns plain
    Python int lists (SQL-literal-ready)."""
    import numpy as np

    s = float(1 << scale_bits)
    W = np.round(np.asarray(weights, dtype=np.float64)
                 * s * feature_scale).astype(np.int64)
    b = np.round(np.asarray(bias, dtype=np.float64) * s).astype(np.int64)
    s0 = np.round(np.asarray(start, dtype=np.float64) * s).astype(np.int64)
    T = np.round(np.asarray(transitions, dtype=np.float64)
                 * s).astype(np.int64)
    return (W.tolist(), b.tolist(), s0.tolist(), T.tolist())


def _viterbi_ints(logits, T, s0):
    """Shared exact Viterbi (first-max ties) over (n, S) logits."""
    import numpy as np

    n, S = logits.shape
    dp = np.empty_like(logits)
    bp = np.zeros((n, S), dtype=np.int64)
    dp[0] = s0 + logits[0]
    for i in range(1, n):
        cand = dp[i - 1][:, None] + T
        bp[i] = np.argmax(cand, axis=0)
        dp[i] = cand[bp[i], np.arange(S)] + logits[i]
    path = np.empty(n, dtype=np.int64)
    path[-1] = int(np.argmax(dp[-1]))
    for i in range(n - 1, 0, -1):
        path[i - 1] = bp[i, path[i]]
    return path


def _perceptron_pass(docs, W, b, s0, T, dim, scale=1.0, acc=None):
    """One sequential structured-perceptron sweep (Collins, EMNLP 2002)
    over ``docs`` = [(toks, gold_path)], mutating the param arrays:
    decode with current params; on error add Φ(gold) - Φ(pred)
    (per-state emission feature sums + bias, transition counts, start
    indicator).  Returns the number of mis-decoded docs.

    ``acc`` (optional dict of arrays W/b/s/T + int ``steps``)
    accumulates the parameter vector AFTER EVERY document — including
    correctly-decoded ones, per Collins's averaged perceptron — so the
    caller can return the trajectory average instead of the endpoint.

    ``scale`` multiplies the md5-byte emissions: raw bytes (0..255)
    drown the ±1 transition/bias features by two orders of magnitude,
    and B-vs-I is a TRANSITION distinction (the token's own features
    are identically distributed for both), so unscaled training
    oscillates on emission noise — measured: errors stuck at ~100%%
    while the boundary structure was already learned.  1/255 puts all
    feature families on the same scale."""
    import numpy as np

    errs = 0
    for toks, gold in docs:
        n = len(toks)
        emb = np.array([_md5_features(t, dim) for t in toks],
                       dtype=np.float64) * scale
        logits = emb @ W.T + b
        pred = _viterbi_ints(logits, T, s0)
        if not np.array_equal(pred, gold):
            errs += 1
            for i in range(n):
                g, p = gold[i], pred[i]
                if g != p:
                    W[g] += emb[i]
                    W[p] -= emb[i]
                    b[g] += 1.0
                    b[p] -= 1.0
                if i > 0:
                    T[gold[i - 1], g] += 1.0
                    T[pred[i - 1], p] -= 1.0
            s0[gold[0]] += 1.0
            s0[pred[0]] -= 1.0
        if acc is not None:
            acc["W"] += W
            acc["b"] += b
            acc["s"] += s0
            acc["T"] += T
            acc["steps"] += 1
    return errs


@caching.leased
def train_ner_perceptron(notes: DataFrame, gold_spans: DataFrame,
                         n_epochs: int = 5, n_states: int = 3, dim: int = 4,
                         feature_scale: float = 1.0 / 255.0,
                         n_shards: int | None = None,
                         average: bool = False,
                         id_col: str = "note_id",
                         text_col: str = "note_text"):
    """Distributed structured-perceptron training for the linear+CRF
    NER head — NO torch: exact Viterbi decode + additive updates
    (Collins, EMNLP 2002), parallelized by ITERATIVE PARAMETER MIXING
    (McDonald, Hall & Mann, NAACL 2010): each epoch, every partition
    runs a sequential perceptron over its own documents starting from
    the epoch's global parameters, and the driver averages the
    per-partition results uniformly before the next epoch.  McDonald
    et al. prove the mixed perceptron retains the separable-case
    convergence guarantee.

    ``gold_spans``: (id_col, tok_start, tok_end) non-overlapping entity
    token ranges (the entities-plane convention shared with
    :func:`ner_linear_crf`'s output, so a training set can be its own
    silver output).  Returns ``(weights, bias, start, transitions,
    history)`` for :func:`ner_linear_crf` — pass the SAME
    ``feature_scale`` there; ``history`` is the per-epoch global
    mis-decode count (-> 0 on separable data; see
    :func:`_perceptron_pass` for why emissions are scaled).

    ``average=True`` returns Collins's AVERAGED perceptron composed
    with the mixing (McDonald et al. 2010 §4 "averaging parameters"):
    the uniform average of the parameter vector after EVERY document on
    every shard in every epoch (correct decodes included).  The
    training trajectory itself is unchanged — each epoch still starts
    from the mixed endpoint params — only the returned model differs;
    on non-separable (noisy/silver) data the trajectory average
    generalizes better than the oscillating endpoint (pinned by
    test_ner_perceptron_averaged_on_noisy_silver).

    Scale shape: one spans groupBy + one equi-join build the training
    plane ONCE (persisted); each epoch is a single mapInPandas over it
    (params ship as closure literals, exactly like inference) emitting
    ONE parameter row per task — the collect is bounded by partition
    count, the corpus never moves to the driver.
    """
    import numpy as np

    if n_epochs < 1:
        raise ValueError("train_ner_perceptron requires n_epochs >= 1")
    spans = gold_spans.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("tok_start").alias("ts"),
                                F.col("tok_end").alias("te")))
        .alias("__spans"))
    # The spans JOIN reshuffles to spark.sql.shuffle.partitions no
    # matter how ``notes`` was partitioned (measured: a coalesce(1)
    # input silently became 32 training shards and the 32-way average
    # washed every epoch's updates out) — so the shard count is pinned
    # EXPLICITLY here: repartition(n_shards, id) + sortWithinPartitions
    # gives a deterministic doc->shard assignment AND a deterministic
    # per-shard order (perceptron updates are order-sensitive; task
    # retries reproduce the exact same parameters, and n_shards=1 is
    # bit-identical to a sequential sweep).
    if n_shards is None:
        n_shards = notes.sparkSession.sparkContext.defaultParallelism
    plane = caching.persist(
        notes.select(id_col, text_col)
        .join(spans, id_col, "left")
        .repartition(n_shards, id_col)
        .sortWithinPartitions(id_col)
        .select(text_col, "__spans")
    )
    plane.count()

    W = np.zeros((n_states, dim), dtype=np.float64)
    b = np.zeros(n_states, dtype=np.float64)
    s0 = np.zeros(n_states, dtype=np.float64)
    T = np.zeros((n_states, n_states), dtype=np.float64)
    history: list[int] = []
    # Collins-averaging accumulators: parameter-trajectory sums across
    # every (doc, shard, epoch) step; one extra bounded row field per
    # shard, the corpus still never moves
    aW = np.zeros_like(W)
    ab = np.zeros_like(b)
    as0 = np.zeros_like(s0)
    aT = np.zeros_like(T)
    a_steps = 0

    out_schema = ("w array<double>, b array<double>, s array<double>, "
                  "t array<double>, wsum array<double>, "
                  "bsum array<double>, ssum array<double>, "
                  "tsum array<double>, n_steps long, "
                  "n_err long, n_docs long")

    try:
        for _ in range(n_epochs):
            Wl = W.tolist()
            bl = b.tolist()
            sl = s0.tolist()
            Tl = T.tolist()

            def epoch(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
                import numpy as np  # executor-side

                Wp = np.array(Wl, dtype=np.float64)
                bp = np.array(bl, dtype=np.float64)
                sp = np.array(sl, dtype=np.float64)
                Tp = np.array(Tl, dtype=np.float64)
                acc = {"W": np.zeros_like(Wp), "b": np.zeros_like(bp),
                       "s": np.zeros_like(sp), "T": np.zeros_like(Tp),
                       "steps": 0}
                errs = 0
                n_docs = 0
                for pdf in batches:
                    docs = []
                    for text, sps in zip(pdf[text_col], pdf["__spans"]):
                        if text is None:
                            continue
                        toks = text.split(" ")
                        gold = np.zeros(len(toks), dtype=np.int64)
                        for sp_ in (sps if sps is not None else []):
                            # clamp: a span from a different
                            # tokenization must not crash the task
                            ts = int(sp_["ts"])
                            te = min(int(sp_["te"]), len(toks))
                            if ts < 0 or ts >= len(toks) or te <= ts:
                                continue
                            gold[ts] = 1
                            gold[ts + 1:te] = 2
                        docs.append((toks, gold))
                    n_docs += len(docs)
                    errs += _perceptron_pass(docs, Wp, bp, sp, Tp,
                                             dim=len(Wp[0]),
                                             scale=feature_scale,
                                             acc=acc)
                yield pd.DataFrame([{
                    "w": Wp.ravel().tolist(), "b": bp.tolist(),
                    "s": sp.tolist(), "t": Tp.ravel().tolist(),
                    "wsum": acc["W"].ravel().tolist(),
                    "bsum": acc["b"].tolist(),
                    "ssum": acc["s"].tolist(),
                    "tsum": acc["T"].ravel().tolist(),
                    "n_steps": acc["steps"],
                    "n_err": errs, "n_docs": n_docs,
                }])

            parts = plane.mapInPandas(epoch, out_schema).collect()
            parts = [r for r in parts if r["n_docs"] > 0]
            if not parts:
                raise ValueError("train_ner_perceptron: no training docs")
            mu = 1.0 / len(parts)
            W = sum(np.array(r["w"]).reshape(n_states, dim)
                    for r in parts) * mu
            b = sum(np.array(r["b"]) for r in parts) * mu
            s0 = sum(np.array(r["s"]) for r in parts) * mu
            T = sum(np.array(r["t"]).reshape(n_states, n_states)
                    for r in parts) * mu
            aW += sum(np.array(r["wsum"]).reshape(n_states, dim)
                      for r in parts)
            ab += sum(np.array(r["bsum"]) for r in parts)
            as0 += sum(np.array(r["ssum"]) for r in parts)
            aT += sum(np.array(r["tsum"]).reshape(n_states, n_states)
                      for r in parts)
            a_steps += int(sum(r["n_steps"] for r in parts))
            history.append(int(sum(r["n_err"] for r in parts)))
            if history[-1] == 0:
                break
    finally:
        plane.unpersist()
    if average:
        if a_steps == 0:
            raise ValueError("train_ner_perceptron: no averaging steps")
        inv = 1.0 / a_steps
        return ((aW * inv).tolist(), (ab * inv).tolist(),
                (as0 * inv).tolist(), (aT * inv).tolist(), history)
    return (W.tolist(), b.tolist(), s0.tolist(), T.tolist(), history)


# ---- Multiclass document classifier (trained language-ID / quality) ----
#
# The parameter-mixing machinery generalized beyond BIO sequences
# (VERDICT r9 brief #5): a multiclass averaged perceptron over hashed
# char-ngram COUNT features — the model-based replacement for the
# stopword-vote lang_id_heuristic, trainable on any labeled doc table
# (language ID, quality buckets, source domains...).  Features are
# md5-hashed ngram buckets (engine-portable, no vocabulary to ship);
# the trained weights quantize onto an integer grid so the SCORER is a
# pure Spark projection with an exact DuckDB oracle.


def _gram_buckets(text: str, ngram: int, n_buckets: int) -> list[int]:
    """Hashed char-ngram buckets; MUST mirror the scorer's engine-side
    recipe exactly: bucket = int(md5(gram).hexdigest()[:4], 16) %
    n_buckets over every length-``ngram`` window (none when the text is
    shorter than ``ngram``)."""
    return [
        int(hashlib.md5(text[i:i + ngram].encode()).hexdigest()[:4], 16)
        % n_buckets
        for i in range(len(text) - ngram + 1)
    ]


@caching.leased
def train_doc_classifier(docs: DataFrame, n_classes: int,
                         n_buckets: int = 64, ngram: int = 3,
                         n_epochs: int = 5, n_shards: int = 8,
                         average: bool = True,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         label_col: str = "label"):
    """Distributed multiclass perceptron (Collins 2002 updates,
    McDonald et al. 2010 iterative parameter mixing, optional Collins
    averaging — the same recipe as :func:`train_ner_perceptron`, with
    documents instead of tag sequences): per doc, features are the
    NORMALIZED bucket loads of hashed char-ngram buckets (x = counts /
    n_grams * n_buckets — length-invariant, and the average component
    is ~1 so the ±1 bias updates sit on the same scale as the feature
    family; with raw relative frequencies (~1/64 per bucket) the bias
    updates dominate the margin ~60x and the model degenerates to the
    class prior — the same feature-scale-beats-margin failure the NER
    trainer hit, measured: 0.50 accuracy vs 1.00 after rescaling);
    predict argmax_c(W_c . x + b_c) with first-max (lowest class)
    ties; on error W[y] += x, W[p] -= x, b[y] += 1, b[p] -= 1.

    Deterministic like the NER trainer: explicit ``repartition(
    n_shards, id)`` + ``sortWithinPartitions`` + fixed collect order —
    every run produces bit-identical parameters, so quantized exports
    can be pinned for SQL oracles.  Returns (W, b, history) as plain
    lists; ``history`` is the per-epoch global error count.

    Scale shape: identical to the NER trainer — the labeled plane is
    built once (persisted), each epoch is ONE mapInPandas emitting one
    bounded parameter row per shard; the corpus never moves.

    Perf (r14, guide §4): the hashed-ngram buckets are PRECOMPUTED on
    the persisted plane with the JVM md5 recipe (the exact expression
    :func:`classify_docs` scores with — conv(substring(md5(gram),1,4),
    16,10) % n_buckets — which equals the Python
    ``_gram_buckets`` bucket-for-bucket: same code-point windowing,
    same UTF-8 md5), so each epoch ships int arrays and does one
    ``np.bincount`` per doc instead of re-hashing every gram in Python
    n_epochs times.  Counts are exact small ints, so
    ``bincount(...).astype(float) * (n_buckets/n)`` is bit-identical
    to the former per-gram increment loop — trained parameters do not
    change (pinned-weights tests enforce this).
    """
    import numpy as np

    if n_epochs < 1:
        raise ValueError("train_doc_classifier requires n_epochs >= 1")
    if n_classes < 2:
        raise ValueError("train_doc_classifier requires n_classes >= 2")
    ln = F.length(F.col(text_col))
    grams = F.when(
        ln >= ngram,
        F.transform(
            F.sequence(F.lit(1), ln - (ngram - 1)),
            _substr_fn(text_col, ngram)),
    ).otherwise(F.array().cast("array<string>"))
    bucket_of = (lambda g: (F.conv(F.substring(F.md5(g), 1, 4), 16, 10)
                            .cast("int") % n_buckets))
    # Bucket ship format (r15, guide §4): for n_buckets <= 256 every
    # bucket id is one Unicode code point in U+0000..U+00FF, so the
    # per-doc bucket list ships as ONE string (char(b) per gram,
    # array_join) and the worker reads it back with np.frombuffer over
    # the latin-1 bytes — identical values to the array<int> path
    # (latin-1 encodes code points 0..255 as exactly those byte
    # values; verified incl. char(0) = '\\x00' and char(128) =
    # '\\x80'), but the Arrow transfer is a flat byte buffer instead
    # of a nested list column and the per-row parse is one frombuffer
    # instead of an object-array materialization.  Epoch job wall
    # (identity fn, 8 shards, sf0.1): 0.46s -> 0.40s.  Larger bucket
    # spaces keep the array path.
    packed = n_buckets <= 256
    if packed:
        bks_col = F.when(
            F.col(text_col).isNotNull(),
            F.array_join(F.transform(grams, lambda g: F.char(bucket_of(g))),
                         ""))
    else:
        bks_col = F.when(
            F.col(text_col).isNotNull(),
            F.transform(grams, bucket_of))
    plane = caching.persist(
        docs.select(id_col, text_col, label_col)
        .repartition(n_shards, id_col)
        .sortWithinPartitions(id_col)
        .select(bks_col.alias("__bks"), label_col)
    )
    plane.count()

    W = np.zeros((n_classes, n_buckets), dtype=np.float64)
    b = np.zeros(n_classes, dtype=np.float64)
    history: list[int] = []
    aW = np.zeros_like(W)
    ab = np.zeros_like(b)
    a_steps = 0

    out_schema = ("w array<double>, b array<double>, "
                  "wsum array<double>, bsum array<double>, "
                  "n_steps long, n_err long, n_docs long")

    try:
        for _ in range(n_epochs):
            Wl = W.tolist()
            bl = b.tolist()

            def epoch(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
                import numpy as np  # executor-side

                Wp = np.array(Wl, dtype=np.float64)
                bp = np.array(bl, dtype=np.float64)
                Ws = np.zeros_like(Wp)
                bs = np.zeros_like(bp)
                steps = 0
                errs = 0
                n_docs = 0
                for pdf in batches:
                    # Vectorized feature build (r15, guide §4.2): the
                    # whole batch's count matrix comes from ONE
                    # np.add.at pass instead of per-row
                    # asarray+bincount+astype+scale.  Bit-identical to
                    # the former per-row path: add.at of 1.0s yields
                    # the exact integer counts bincount did, and the
                    # per-row scale multiplies by the same
                    # n_buckets/len scalar.  Only the inherently
                    # sequential predict/update loop stays per-row.
                    col = pdf["__bks"]
                    if packed:
                        # flat byte read of the char-packed buckets —
                        # exact inverse of char()+array_join (values
                        # 0..255, latin-1 == code point == bucket)
                        rows = [np.frombuffer(s.encode("latin-1"),
                                              dtype=np.uint8)
                                .astype(np.int64)
                                for s in col if s is not None]
                    else:
                        rows = [np.asarray(b, dtype=np.int64)
                                for b in col if b is not None]
                    labels = [int(lb) for b, lb in
                              zip(col, pdf[label_col]) if b is not None]
                    nv = len(rows)
                    if not nv:
                        continue
                    lens = np.fromiter((r.size for r in rows),
                                       dtype=np.int64, count=nv)
                    X = np.zeros((nv, n_buckets), dtype=np.float64)
                    if lens.sum():
                        flat = np.concatenate(
                            [r for r in rows if r.size])
                        row_idx = np.repeat(np.arange(nv), lens)
                        np.add.at(X, (row_idx, flat), 1.0)
                        nz = lens > 0
                        X[nz] *= (n_buckets / lens[nz])[:, None]
                    n_docs += nv
                    for i in range(nv):
                        x = X[i]
                        scores = Wp @ x + bp
                        pred = int(np.argmax(scores))  # first-max ties
                        y = labels[i]
                        if pred != y:
                            errs += 1
                            Wp[y] += x
                            Wp[pred] -= x
                            bp[y] += 1.0
                            bp[pred] -= 1.0
                        Ws += Wp
                        bs += bp
                        steps += 1
                yield pd.DataFrame([{
                    "w": Wp.ravel().tolist(), "b": bp.tolist(),
                    "wsum": Ws.ravel().tolist(), "bsum": bs.tolist(),
                    "n_steps": steps, "n_err": errs, "n_docs": n_docs,
                }])

            parts = plane.mapInPandas(epoch, out_schema).collect()
            parts = [r for r in parts if r["n_docs"] > 0]
            if not parts:
                raise ValueError("train_doc_classifier: no training docs")
            mu = 1.0 / len(parts)
            W = sum(np.array(r["w"]).reshape(n_classes, n_buckets)
                    for r in parts) * mu
            b = sum(np.array(r["b"]) for r in parts) * mu
            aW += sum(np.array(r["wsum"]).reshape(n_classes, n_buckets)
                      for r in parts)
            ab += sum(np.array(r["bsum"]) for r in parts)
            a_steps += int(sum(r["n_steps"] for r in parts))
            history.append(int(sum(r["n_err"] for r in parts)))
            if history[-1] == 0:
                break
    finally:
        plane.unpersist()
    if average:
        if a_steps == 0:
            raise ValueError("train_doc_classifier: no averaging steps")
        inv = 1.0 / a_steps
        return ((aW * inv).tolist(), (ab * inv).tolist(), history)
    return (W.tolist(), b.tolist(), history)


def quantize_linear(weights, bias, scale_bits: int = 16,
                    n_buckets: int = 64):
    """Quantize a trained linear classifier onto the 2^scale_bits
    integer grid.  The trained decision argmax_c(W_c . x + b_c) with
    x = counts/n * n_buckets is order-equivalent to
    argmax_c(S*W_c . counts + (n*S/n_buckets) * b_c) (multiply through
    by the positive n*S/n_buckets), so the integer scorer needs NO
    division: score_c = sum_g Wq_c[bucket(g)] + n_grams * bq_c with
    Wq = round(S*W) and bq = round(S*b / n_buckets) — exact int64
    arithmetic on both engines."""
    import numpy as np

    s = float(1 << scale_bits)
    Wq = np.round(np.asarray(weights, dtype=np.float64) * s).astype(np.int64)
    bq = np.round(np.asarray(bias, dtype=np.float64)
                  * s / n_buckets).astype(np.int64)
    return Wq.tolist(), bq.tolist()


def classify_docs(docs: DataFrame, weights_int, bias_int,
                  class_names: list[str] | None = None,
                  ngram: int = 3, n_buckets: int = 64,
                  id_col: str = "doc_id",
                  text_col: str = "text",
                  keep_cols: tuple = ()) -> DataFrame:
    """Pure-projection scorer for an integer-quantized
    :func:`train_doc_classifier` export -> (id_col, pred, pred_name?,
    score_<c>...): one transform pass hashes every char-ngram to its
    bucket (pre-hash THEN fold — the r8 simhash lesson), then one
    scalar-accumulator fold per class sums the class's bucket weights
    (linear, codegen-friendly; never an array-growing accumulator).
    All-integer scores, first-max (lowest class) ties -> exact DuckDB
    parity.  No shuffle, no Python — the trained model IS a Spark
    projection, exactly like the rule-based scorers.

    ``keep_cols`` (r14): extra input columns carried through the
    projection, so callers that would otherwise JOIN the scores back
    onto the instance plane by id (a corpus-scale shuffle for a pure
    per-row computation) can read everything off one pass."""
    n_classes = len(weights_int)
    ln = F.length(F.col(text_col))
    grams = F.when(
        ln >= ngram,
        F.transform(
            F.sequence(F.lit(1), ln - (ngram - 1)),
            _substr_fn(text_col, ngram)),
    ).otherwise(F.array().cast("array<string>"))
    bks = F.transform(
        grams,
        lambda g: (F.conv(F.substring(F.md5(g), 1, 4), 16, 10)
                   .cast("int") % n_buckets))
    n_grams = F.size(F.col("__bks")).cast("bigint")

    def score(c: int):
        warr = F.array(*[F.lit(int(w)) for w in weights_int[c]])

        def step(acc, bk):
            return acc + F.element_at(warr, bk + 1)

        return (F.aggregate(F.col("__bks"), F.lit(0).cast("bigint"), step)
                + n_grams * F.lit(int(bias_int[c])))

    keep = [F.col(c) for c in keep_cols]
    scored = docs.withColumn("__bks", bks).select(
        F.col(id_col), *keep, *[score(c).alias(f"score_{c}")
                                for c in range(n_classes)])
    best = F.array_min(F.array(*[
        F.struct((-F.col(f"score_{c}")).alias("neg"),
                 F.lit(c).cast("int").alias("c"))
        for c in range(n_classes)
    ]))["c"]
    out = scored.select(
        id_col, *keep_cols, best.alias("pred"),
        *[F.col(f"score_{c}") for c in range(n_classes)])
    if class_names is not None:
        names = F.array(*[F.lit(n) for n in class_names])
        out = out.select(
            id_col, *keep_cols, "pred",
            F.element_at(names, F.col("pred") + 1).alias("pred_name"),
            *[F.col(f"score_{c}") for c in range(n_classes)])
    return out


def _substr_fn(text_col: str, ngram: int):
    """Closure factory (NEVER a default-arg lambda — pyspark passes the
    array index into a 2-arg callable)."""
    def f(i):
        return F.col(text_col).substr(i, F.lit(ngram))
    return f
