"""Unigram-LM subword tokenizer (SentencePiece, Kudo 2018): Viterbi-EM
training + integer-dp encoding.

The unigram complement to ``operators/bpe.py``: instead of greedy
merge adoption, a piece VOCABULARY with log-prob scores is trained by
hard (Viterbi) EM and encoding segments each word by maximizing the
sum of piece scores.

Determinism policy (the repo's pinned-constant-oracle pattern,
CLAUDE.md r10): E-step piece counts are exact integers (best-segmentation
usage x word count), aggregated by Spark's exact int64 sum; M-step
scores are quantized to ints (``round(log(c/T) * scale)``) in ONE
driver-side pass over the sorted bounded vocabulary — so the trained
vocab is a reproducible constant of (data, config), snapshotted by
``scripts/pin_unigram_vocab.py`` and replayed exactly by the DuckDB
encode oracle.

Encoding dp maximizes a single COMBINED int per word,
``sum(score_q)*64 - n_pieces`` (prefer higher score, then fewer
pieces), from which (n_pieces, score_q) decompose uniquely — tie
ambiguity can never leak into the output.  Words must be < 64 chars
for the decomposition (guarded in the data path).

Scale shape: training never collects the corpus — the unit of work is
the DISTINCT-WORD plane (words x counts), seed/EM candidate counts are
groupBy aggregations with map-side combine, and only the
config-bounded vocabulary (<= seed_size rows) ever reaches the driver
(the PQ-centroid precedent).  Encoding is one mapInPandas over
distinct words with a per-task memo, joined back to the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..core import caching

#: combined = score*COMB - n_pieces; words must be shorter than COMB
_COMB = 64
_MAX_WORD = _COMB - 1


def _viterbi(word: str, vocab: dict, unk: int, max_len: int):
    """Best segmentation of ``word`` -> (pieces, combined_int).

    dp[i] = best combined for prefix of length i; a piece w[j:i]
    contributes vocab[piece]*64 - 1 (unknown single chars score
    ``unk``).  Strict ``>`` keeps the longest-piece candidate on
    combined ties — deterministic, and output-invariant anyway (the
    combined int pins both total score and piece count).
    """
    L = len(word)
    if L > _MAX_WORD:
        raise ValueError(
            f"unigram encode: word longer than {_MAX_WORD} chars "
            f"({word[:20]!r}...); pre-split or chunk upstream")
    NEG = float("-inf")
    dp = [0] + [NEG] * L
    back = [0] * (L + 1)
    for i in range(1, L + 1):
        best, bj = NEG, i - 1
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            s = vocab.get(piece)
            if s is None:
                if i - j != 1:
                    continue
                s = unk
            cand = dp[j] + s * _COMB - 1
            if cand > best:
                best, bj = cand, j
        dp[i] = best
        back[i] = bj
    pieces = []
    i = L
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    pieces.reverse()
    return pieces, (dp[L] if L else 0)


def _scores_from_counts(counts: dict, scale: int) -> dict:
    total = sum(counts.values())
    return {
        p: round(math.log(c / total) * scale)
        for p, c in sorted(counts.items())
    }


@caching.leased
def unigram_train(docs: DataFrame, vocab_size: int = 300,
                  seed_size: int = 800, max_piece_len: int = 6,
                  iterations: int = 2, scale: int = 4096,
                  text_col: str = "text",
                  word_freqs: DataFrame | None = None) -> tuple[dict, int]:
    """Train a unigram-LM piece vocabulary -> (vocab, unk_score).

    1. Distinct-word counts (one explode + groupBy).
    2. Seed: every substring up to ``max_piece_len`` weighted by word
       count; ALL single chars kept, multi-char pieces top-(seed_size)
       by (count desc, piece asc) via orderBy().limit() —
       TakeOrderedAndProject, never a global sort materialization.
    3. ``iterations`` rounds of hard EM: Viterbi-segment the distinct
       words under current scores (mapInPandas, integer dp), re-count
       piece usage (exact ints), re-score, prune multi-char pieces to
       vocab_size keeping every single char (count floor 1 so chars
       never hit log(0)).

    ``word_freqs``: optional pre-aggregated AND PERSISTED
    ``(word, wcount)`` plane — the exact explode+groupBy this function
    would derive from ``docs``.  A caller that needs the distinct-word
    set anyway (the lifecycle query encodes it) passes the shared
    plane so the corpus is exploded and shuffled once per run (r15,
    guide §2.3 compute-once); counts are identical either way.
    """
    words = word_freqs if word_freqs is not None else caching.persist(
        docs.select(F.explode(F.split(F.col(text_col), " ", -1))
                    .alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("wcount")))
    try:
        subs = F.expr(
            f"flatten(transform(sequence(1, length(word)), i -> "
            f"transform(sequence(1, least({int(max_piece_len)}, "
            f"length(word) - i + 1)), l -> substring(word, i, l))))")
        # persisted: referenced twice (singles collect + multi top-k) —
        # unpersisted, the substring-explode aggregation subtree executed
        # twice per training run (r15, guide §2.3 compute-once)
        piece_counts = caching.persist(
            words.select(F.explode(subs).alias("piece"), F.col("wcount"))
            .filter(F.length("piece") >= 1)
            .groupBy("piece").agg(F.sum("wcount").alias("c")))
        singles = {
            r["piece"]: int(r["c"])
            for r in piece_counts.filter(F.length("piece") == 1).collect()
        }
        multi = {
            r["piece"]: int(r["c"])
            for r in (piece_counts.filter(F.length("piece") > 1)
                      .orderBy(F.col("c").desc(), F.col("piece"))
                      .limit(int(seed_size)).collect())
        }
        piece_counts.unpersist()  # seed-only; EM reads words
        counts = dict(singles)
        counts.update(multi)
        if not counts:  # empty corpus: everything encodes as unk
            return {}, -int(scale)
        vocab = _scores_from_counts(counts, scale)
        unk = min(vocab.values()) - scale

        max_len = int(max_piece_len)
        for _ in range(int(iterations)):
            vb, ub = dict(vocab), unk

            def e_step(batches):
                import pandas as pd
                for pdf in batches:
                    agg: dict = {}
                    for w, c in zip(pdf["word"], pdf["wcount"]):
                        for piece in _viterbi(w, vb, ub, max_len)[0]:
                            agg[piece] = agg.get(piece, 0) + int(c)
                    yield pd.DataFrame(
                        {"piece": list(agg), "c": list(agg.values())})

            used_rows = (words.mapInPandas(e_step, "piece string, c long")
                         .groupBy("piece").agg(F.sum("c").alias("c")))
            used = {r["piece"]: int(r["c"]) for r in used_rows.collect()}
            new_counts = {p: max(used.get(p, 0), 1) for p in singles}
            kept_multi = sorted(
                ((p, c) for p, c in used.items() if len(p) > 1),
                key=lambda pc: (-pc[1], pc[0]),
            )[: max(0, int(vocab_size) - len(new_counts))]
            new_counts.update(dict(kept_multi))
            vocab = _scores_from_counts(new_counts, scale)
            unk = min(vocab.values()) - scale
        return vocab, unk
    finally:
        if words is not word_freqs:
            words.unpersist()


def unigram_encode_words(words: DataFrame, vocab: dict, unk: int,
                         max_piece_len: int = 6,
                         word_col: str = "word") -> DataFrame:
    """Viterbi-encode a plane of (distinct) words under a trained
    vocabulary -> (word, n_pieces, score_q, pieces_str).

    One mapInPandas with a per-task memo (the bpe arrow-path shape);
    (n_pieces, score_q) decompose from the combined dp int so they are
    engine-exact against the recursive-CTE oracle; ``pieces_str``
    (the '|'-joined best segmentation) is tie-dependent and excluded
    from oracle comparisons.
    """
    vb, ub, ml = dict(vocab), int(unk), int(max_piece_len)

    def encode(batches):
        import pandas as pd
        memo: dict = {}
        for pdf in batches:
            out = []
            for w in pdf[word_col]:
                r = memo.get(w)
                if r is None:
                    pieces, comb = _viterbi(w, vb, ub, ml)
                    n = (-comb) % _COMB
                    r = (w, n, (comb + n) // _COMB, "|".join(pieces))
                    memo[w] = r
                out.append(r)
            yield pd.DataFrame(
                out, columns=[word_col, "n_pieces", "score_q",
                              "pieces_str"])

    return words.select(word_col).mapInPandas(
        encode,
        f"{word_col} string, n_pieces long, score_q long, "
        f"pieces_str string")
