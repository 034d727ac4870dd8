"""WordPiece tokenizer: likelihood-scored merges + greedy encode.

Completes the subword-tokenizer family next to BPE (operators/bpe.py,
count-scored merges) and the unigram LM (operators/unigram.py,
Viterbi): WordPiece (Schuster & Nakajima 2012; the BERT tokenizer, HF
`tokenizers` trainer semantics) selects the merge maximizing the
LIKELIHOOD ratio score(l, r) = count(lr) / (count(l) * count(r)) and
ENCODES by greedy longest-match-first over the learned vocabulary,
with '##'-prefixed continuation pieces and whole-word [UNK] fallback.

Scale shape mirrors bpe_train_batched: one corpus shuffle builds the
word-frequency table; each training round is two vocabulary-table
aggregations (pair counts + symbol counts — both partial-aggregated,
bounded by the symbol inventory), one bounded top-M collect, and one
in-row batch fold; the encode is one Arrow pass over the DISTINCT-word
plane with a per-task memo.  Disjoint-batch adoption is exact within a
round for the WordPiece score too: a merge changes only its own
operands' counts, so pairwise-disjoint candidates' scores are mutually
unaffected (same cross-round approximation as the BPE trainer,
batch=1 degenerates to exact sequential).

Determinism: candidate ranking orders by (score desc, count desc, l,
r) — score is one IEEE division of two exact int64 counts, identical
across runs on the same engine, so retraining reproduces the pinned
vocabulary bit-for-bit (the lifecycle-oracle contract).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import caching
from .bpe import _apply_merge_batch


def wp_merged(left: str, right: str) -> str:
    """Merge output under the '##' continuation convention."""
    return left + (right[2:] if right.startswith("##") else right)


def _adopt_disjoint_wp(candidates: list[tuple[str, str]],
                       want: int) -> list[tuple[str, str]]:
    """Greedy scan of a (score desc, count desc, l, r)-ordered
    candidate list, adopting up to ``want`` pairs whose operands AND
    merge outputs are pairwise disjoint (the output check is ADVICE
    r9 #1's lesson, inherited from the BPE adopter)."""
    adopted: list[tuple[str, str]] = []
    used: set[str] = set()
    for left, right in candidates:
        m = wp_merged(left, right)
        if left in used or right in used or m in used:
            continue
        adopted.append((left, right))
        used.update((left, right, m))
        if len(adopted) >= want:
            break
    return adopted


def _wp_sym0(col_w):
    """Initial symbol array: first char bare, continuations '##c'."""
    chars = F.split(col_w, "", -1).cast("array<string>")

    def tag(c, i):
        return F.when(i == 0, c).otherwise(F.concat(F.lit("##"), c))

    return F.transform(chars, tag)


@caching.leased
def wordpiece_train(docs: DataFrame, n_merges: int = 48,
                    batch: int = 16, id_col: str = "doc_id",
                    text_col: str = "text",
                    word_freqs: DataFrame | None = None) -> list[str]:
    """Learn a WordPiece vocabulary -> ordered piece list: the sorted
    initial alphabet (bare first-chars + '##'-prefixed continuations
    actually present) followed by merge outputs in adoption order.
    Stops early when no pair occurs twice.

    ``word_freqs``: optional pre-aggregated ``(w, freq)`` plane (the
    exact explode+groupBy this function would derive from ``docs``).
    A caller that needs the distinct-word set anyway (the lifecycle
    query encodes it) passes the shared persisted plane so the corpus
    is exploded and shuffled ONCE per run instead of twice (r15, guide
    §2.3 compute-once); the ''-word filter stays here, so counts are
    identical either way."""
    if n_merges < 1 or batch < 1:
        raise ValueError("wordpiece_train requires n_merges >= 1 "
                         "and batch >= 1")
    words = word_freqs if word_freqs is not None else docs.select(
        F.explode(F.split(F.col(text_col), " ", -1)).alias("w")
    ).groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    words = words.filter(F.col("w") != "")
    vocab = caching.persist(
        words.select("freq", _wp_sym0(F.col("w")).alias("sym")))
    # the initial alphabet (bounded by the corpus CHARACTER set x2,
    # bare + '##' forms) is read off round 1's cached agg plane below
    # — its NULL-r sentinel rows ARE the distinct symbol set — instead
    # of a dedicated full-scan distinct+collect (r15: ~0.5s/run)
    pieces: list[str] = []
    merges: list[tuple[str, str]] = []
    retired: DataFrame | None = None
    agg: DataFrame | None = None
    first_round = True
    try:
        while len(merges) < n_merges:
            # ONE scan + ONE shuffle per round (r15, guide §2.3/§2.4): the
            # explode emits the adjacent PAIRS and a NULL-r sentinel row
            # per SYMBOL, so pair counts and symbol counts come out of the
            # same aggregation (measured 0.13-0.17s/round at sf0.1, counts
            # bit-identical to the former two-aggregation shape).  The agg
            # plane is vocabulary-bounded; persisted because the score
            # projection reads it on three legs (pairs + both symc joins).
            ent = vocab.select(
                "freq",
                F.explode(F.concat(
                    F.zip_with(
                        F.slice(F.col("sym"), 1, F.size("sym") - 1),
                        F.slice(F.col("sym"), 2, F.size("sym") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    ),
                    F.transform(F.col("sym"), lambda s: F.struct(
                        s.alias("l"),
                        F.lit(None).cast("string").alias("r"))),
                )).alias("p"))
            # no explicit .count() barrier: the round's FIRST collect
            # (round 1: the alphabet read; later rounds: the top-M collect)
            # materializes the cache — partition-level BlockManager locking
            # makes the 3-leg read compute each partition once (r15: one
            # fewer job per round)
            agg = caching.persist(
                ent.groupBy(F.col("p.l").alias("l"),
                            F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("c")))
            if first_round:
                # round 1's symbols are exactly the initial alphabet
                pieces = sorted(
                    r["l"] for r in
                    agg.filter(F.col("r").isNull()).select("l").collect())
                first_round = False
            pairs = agg.filter(F.col("r").isNotNull())
            symc = agg.filter(F.col("r").isNull()).select(
                F.col("l").alias("s"), F.col("c").alias("cs"))
            scored = (
                pairs.filter(F.col("c") >= 2)
                .join(symc.select(F.col("s").alias("l"),
                                  F.col("cs").alias("cl")), "l")
                .join(symc.select(F.col("s").alias("r"),
                                  F.col("cs").alias("cr")), "r")
                .select("l", "r", "c",
                        (F.col("c").cast("double")
                         / (F.col("cl") * F.col("cr")).cast("double"))
                        .alias("score")))
            want = min(batch, n_merges - len(merges))
            top = (scored.orderBy(F.col("score").desc(), F.col("c").desc(),
                                  "l", "r")
                   .limit(4 * want + 8).collect())
            agg.unpersist()  # round-local
            if retired is not None:
                retired.unpersist()
                retired = None
            adopted = _adopt_disjoint_wp(
                [(row["l"], row["r"]) for row in top], want)
            if not adopted:
                break
            merges.extend(adopted)
            pieces.extend(wp_merged(l, r) for l, r in adopted)
            if len(merges) >= n_merges:
                # the final round's successor vocab is never read (the
                # trainer returns pieces only) — skip its fold + eager
                # checkpoint (r15, guide §1.2; mirrors bpe_train_batched)
                break
            new_vocab = vocab.select(
                "freq",
                _apply_merge_batch(
                    F.col("sym"), adopted,
                    merged=[wp_merged(l, r) for l, r in adopted])
                .alias("sym"))
            retired = vocab
            # LAZY checkpoint (r15): the next round's top-M collect is the
            # first materialization, so it computes the fold AND saves the
            # checkpoint blocks in the SAME job — the eager variant paid a
            # dedicated job per round for the same work.  Lineage is still
            # cut at materialization time (the r6 iterative-plan rule), and
            # ``retired`` stays cached until after that collect, so the
            # fold always reads its predecessor from cache.
            vocab = caching.persist(
                new_vocab.localCheckpoint(eager=False))
    finally:
        for plane in (vocab, retired, agg):
            if plane is not None:
                plane.unpersist()
    return pieces


def wordpiece_encode_word(word: str, vs: set, maxlen: int,
                          unk: str) -> list[str]:
    """Greedy longest-match-first WordPiece encode of one word (HF
    semantics: ANY unmatchable position makes the whole word [UNK];
    the empty word encodes to [])."""
    pieces: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        prefix = "" if i == 0 else "##"
        hit = None
        for ln in range(min(maxlen - len(prefix), n - i), 0, -1):
            cand = prefix + word[i:i + ln]
            if cand in vs:
                hit = cand
                i += ln
                break
        if hit is None:
            return [unk]
        pieces.append(hit)
    return pieces


def wordpiece_encode_words(words: DataFrame, vocab: list[str],
                           unk: str = "[UNK]",
                           word_col: str = "word") -> DataFrame:
    """Encode a DISTINCT-word plane -> (word, pieces array<string>,
    n_pieces, is_unk) in one Arrow pass with a per-task memo (the
    bpe_encode arrow-path recipe — per-word work is pure Python string
    scanning, never a Spark expression tree)."""
    vs = set(vocab)
    maxlen = max((len(p) for p in vocab), default=1)
    ddl = (f"{word_col} string, pieces array<string>, "
           "n_pieces long, is_unk boolean")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in batches:
            rows = []
            for w in pdf[word_col]:
                if w is None:
                    rows.append((None, None, None, None))
                    continue
                got = memo.get(w)
                if got is None:
                    got = wordpiece_encode_word(w, vs, maxlen, unk)
                    memo[w] = got
                rows.append((w, got, len(got),
                             got == [unk] and w != unk))
            yield pd.DataFrame(rows, columns=[
                word_col, "pieces", "n_pieces", "is_unk"])

    return words.mapInPandas(run, ddl)
