"""Repo-wide broadcast audit (VERDICT r3 #1).

A ``F.broadcast(...)`` hint is a promise that the hinted side stays
executor-memory-sized at ANY corpus scale — bounded by configuration,
checked-in resources, an eval set, or a 1-row aggregate; NEVER by
corpus row count.  Every hint site must appear in the audited
allowlist below with its boundedness argument; a new unaudited site
fails the test until it is justified here.

Two sites were corpus-sized and are now dead:
- ``operators/endlines.py`` broadcast a one-row-per-document stats
  table (now a ``Window.partitionBy(note_id)`` over the same lineage);
- ``queries/textops.py`` unigram_logppl broadcast a vocab-sized LM
  (hint removed; AQE broadcasts at runtime exactly when it fits).
"""

import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "edsnlp_spark"

# (relative file, substring of the code line) -> why the side is bounded.
ALLOWED = {
    ("operators/metrics.py", "F.broadcast(auc)"):
        "1-row AUC scalar aggregate (binary_auc_calibration)",
    ("operators/metrics.py", "F.broadcast(parts)"):
        "<= 62 range-offset rows by construction (s6 in [0, 1e6] DIV "
        "16384; the prefix-sum range plane, never corpus-scale)",
    ("queries/lexicon.py", "F.broadcast(ranked)"):
        "checked-in resource lexicon (config-scale)",
    ("queries/textops.py", "F.broadcast(eval_sh)"):
        "eval-split shingles; eval sets are tiny next to the corpus",
    ("queries/textops.py", "F.broadcast(total)"):
        "1-row global aggregate",
    ("queries/textops.py", "F.broadcast(tot)"):
        "1-row global aggregate",
    ("queries/textops.py", "F.broadcast(quota)"):
        "one row per configured source",
    ("operators/disorders.py", "F.broadcast(meta)"):
        "one row per configured disorder label",
    ("operators/trainable.py", "F.broadcast(c)"):
        "span-linker concept KB (model artifact, not corpus)",
    ("operators/matcher.py", "F.broadcast(terms_df)"):
        "phrase-matcher pattern terms (pipeline config)",
    ("operators/scores.py", "F.broadcast(adicap_dim)"):
        "ADICAP dimension dictionary (checked-in resource)",
    ("operators/terminology.py", "F.broadcast(terms)"):
        "gated by broadcast_terms flag; scale tier uses shuffle join",
    ("operators/simstring.py", "F.broadcast(t_grams)"):
        "simstring lexicon char-grams (resource-scale)",
}


def _code_lines(path):
    """(lineno, stripped line) for non-comment lines. Docstring text is
    fine to skip via the '#' check only — assertions below match code
    call shapes like '.join(F.broadcast(' that prose never contains."""
    for i, line in enumerate(path.read_text().splitlines(), 1):
        s = line.strip()
        if s and not s.startswith("#"):
            yield i, s


def test_every_broadcast_site_is_audited():
    """Every hint site is in ALLOWED, and every ALLOWED entry still
    names a hint site (a stale entry would pre-approve new code)."""
    matched = set()
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        for i, s in _code_lines(p):
            if "F.broadcast(" not in s:
                continue
            keys = {(f, sub) for f, sub in ALLOWED if rel == f and sub in s}
            assert keys, (
                f"unaudited F.broadcast at edsnlp_spark/{rel}:{i}: {s!r}"
                " — prove the side is bounded and add it to ALLOWED"
            )
            matched |= keys
    stale = sorted(ALLOWED.keys() - matched)
    assert not stale, f"ALLOWED entries that match no code line: {stale}"


def test_former_unbounded_broadcasts_stay_dead():
    for i, s in _code_lines(PKG / "operators" / "endlines.py"):
        assert "F.broadcast(stats" not in s, f"endlines.py:{i}"
    for i, s in _code_lines(PKG / "queries" / "textops.py"):
        assert "F.broadcast(lm" not in s, f"textops.py:{i}"
