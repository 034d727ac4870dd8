"""Repo-wide driver-materialization audit (companion to
test_broadcast_guard).

``.collect()`` / ``.toPandas()`` / ``.first()`` pull data onto the
driver — fine only when the result is bounded by construction (metric
scalars, k-row centroid seeds, fixed dictionaries, explicit
"give me a pandas frame" exports), NEVER by corpus size.  The one
corpus-sized offender (from_markup's collect) was distributed in r4;
this test keeps new ones from slipping in unaudited.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "edsnlp_spark"

_CALL_RX = re.compile(r"\.(collect|toPandas|first)\(\)")

# (relative file, substring of the code line) -> boundedness argument.
ALLOWED = {
    ("training/scorer.py", 'F.sum(F.size("tokens")).alias("n")).collect()'):
        "1-row global aggregate (token count scalar)",
    ("training/scorer.py", '.alias("n")).collect()'):
        "1-row global aggregate",
    ("training/scorer.py", "res.collect()"):
        "per-label metric rows (bounded by label vocabulary)",
    ("operators/bpe.py", '.limit(1).collect()'):
        "BPE merge argmax: exactly one row per training iteration",
    ("operators/bpe.py", '.limit(4 * want + 8).collect()'):
        "batched BPE top-M pair collect: M bounded by the batch config",
    ("operators/trainable.py",
     "plane.mapInPandas(epoch, out_schema).collect()"):
        "perceptron parameter mixing: ONE param row per shard per epoch"
        " (bounded by n_shards, never corpus rows)",
    ("operators/dedup.py",
     'spark.read.parquet(f"{path}/meta").first()'):
        "saved MinHash postings-index config: exactly one row by "
        "construction (minhash_postings_index coalesce(1) meta record)",
    ("operators/endlines.py", 'F.min("cv"), F.max("cv")).first()'):
        "1-row min/max aggregate for decile binning",
    ("operators/scores.py", '== "").collect()'):
        "ADICAP dimension dictionary rows (checked-in resource)",
    ("sources/io.py", "df.toPandas()"):
        "to_pandas export — the caller explicitly asked for a local frame",
    ("sources/io.py", "pl.from_pandas(df.toPandas())"):
        "to_polars export — explicit local materialization",
    ("core/facade.py", "self.pipe(df).collect()"):
        "facade .collect() mirrors the reference API (caller's choice)",
    ("operators/unigram.py", 'F.length("piece") == 1).collect()'):
        "unigram seed singles: bounded by the corpus CHARACTER set",
    ("operators/unigram.py", ".limit(int(seed_size)).collect()"):
        "unigram multi-char seeds: top-seed_size rows (config-bounded)"
        " via TakeOrderedAndProject",
    ("operators/unigram.py", "used_rows.collect()"):
        "unigram E-step piece usage: groupBy over the current "
        "vocabulary — at most vocab_size+charset rows per iteration",
    ("operators/dedup.py", '.agg(F.max("n_buckets")).first()'):
        "component-index meta: exactly one n_buckets record",
    ("operators/dedup.py", ".distinct().collect()"):
        "affected comp-hash buckets: bounded by the batch's reach "
        "(remap + new-node rows), never corpus rows",
    ("operators/dedup.py",
     'touched.select("bucket").distinct().collect()'):
        "written bucket ids: subset of the affected-bucket set",
    ("operators/wordpiece.py", '.isNull()).select("l").collect()'):
        "initial alphabet off round 1's agg plane (NULL-r sentinel "
        "rows): bounded by the corpus CHARACTER set x2 "
        "(bare + '##' forms)",
    ("operators/wordpiece.py", ".limit(4 * want + 8).collect()"):
        "wordpiece top-M candidate collect: M bounded by batch config",
}


def _code_lines(path):
    for i, line in enumerate(path.read_text().splitlines(), 1):
        s = line.strip()
        if s and not s.startswith("#"):
            yield i, s


def test_every_driver_materialization_is_audited():
    """Every materialization site is in ALLOWED, and every ALLOWED entry
    still names a site (a stale entry would pre-approve new code)."""
    matched = set()
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        for i, s in _code_lines(p):
            if not _CALL_RX.search(s) or "`" in s:  # backticks = prose
                continue
            keys = {(f, sub) for f, sub in ALLOWED if rel == f and sub in s}
            assert keys, (
                f"unaudited driver materialization at "
                f"edsnlp_spark/{rel}:{i}: {s!r} — prove the result is "
                f"bounded and add it to ALLOWED"
            )
            matched |= keys
    stale = sorted(ALLOWED.keys() - matched)
    assert not stale, f"ALLOWED entries that match no code line: {stale}"


def test_from_markup_collect_stays_dead():
    for i, s in _code_lines(PKG / "sources" / "converters.py"):
        assert ".collect()" not in s, f"converters.py:{i}"
