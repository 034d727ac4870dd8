#!/usr/bin/env python3
"""Self-tests of the benchmark, on its quick (tiny-input) mode.

Run from the repository root:

    python3 perfbench/selftest.py

Checks that:

* the same seed produces identical input digests, and another seed
  different ones;
* the ground-truth oracle agrees with the engine (every workload of a
  quick ``--workload all`` run, and quick traced runs, report no failure);
* every metric name matches ``[A-Za-z0-9_.-]+`` and is a metric of
  ``BENCHMARK.json`` with the same unit, and every name in
  ``predictions.json`` is one too;
* a traced run writes its spans file;
* in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
  benchmark exits non-zero without printing a result.

Exits non-zero when a check fails.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME_RX = re.compile(r"[A-Za-z0-9_.-]+")
SEED = 7


def _run(args: list[str], cwd: Path = ROOT, timeout: int = 600):
    p = subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"),
                        *args], cwd=cwd, capture_output=True, text=True,
                       timeout=timeout)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def _result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def check_digests() -> list[str]:
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    import workloads as W
    errors = []
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as tmp:
        def digests(seed, sub):
            return {o.name: o.setup(None, seed, W.QUICK, f"{tmp}/{sub}")
                    for o in (W.CorpusAnnotate(), W.SingleNote(),
                              W.DedupCorpus())}
        a, b, c = digests(SEED, "a"), digests(SEED, "b"), digests(SEED + 1, "c")
    if a != b:
        errors.append("same seed gave different input digests")
    for name in a:
        if any(a[name][k] == c[name][k] for k in a[name]):
            errors.append(f"{name}: another seed gave an identical input")
    return errors


def check_metrics(result: dict, allowed: dict[str, str], what: str) -> list[str]:
    errors = []
    for name, m in result["metrics"].items():
        if not NAME_RX.fullmatch(name):
            errors.append(f"{what}: bad metric name {name!r}")
        if name not in allowed:
            errors.append(f"{what}: {name} is not in BENCHMARK.json")
        elif m["unit"] != allowed[name]:
            errors.append(f"{what}: {name} unit {m['unit']} != "
                          f"{allowed[name]}")
    missing = set(allowed) - set(result["metrics"])
    if missing:
        errors.append(f"{what}: missing metrics {sorted(missing)}")
    return errors


def check_runs(bench: dict) -> list[str]:
    errors = []
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    code, lines, err = _run(["--workload", "all", "--seed", str(SEED),
                             "--seconds", "1", "--quick"])
    if code:
        return [f"quick 'all' run failed ({code}): {err[-2000:]}"]
    r = _result(lines)
    if not r["correct"] or r["failed"]:
        errors.append(f"oracle disagrees with the engine: {r}")
    for w in bench["workloads"]:
        for trace, allowed in ((0, e2e), (1, layer)):
            code, lines, err = _run(["--workload", w["name"], "--seed",
                                     str(SEED), "--seconds", "1",
                                     "--trace", str(trace), "--quick"])
            what = f"{w['name']} --trace {trace}"
            if code:
                errors.append(f"{what} failed ({code}): {err[-2000:]}")
                continue
            r = _result(lines)
            if not r["correct"]:
                errors.append(f"{what}: incorrect result {r}")
            errors += check_metrics(r, allowed, what)
            spans = (ROOT / ".perfbench_work"
                     / f"{w['name']}-seed{SEED}-trace{trace}" / "spans.jsonl")
            if trace and not spans.is_file():
                errors.append(f"{what}: no spans file")
    return errors


def check_predictions(bench: dict) -> list[str]:
    pred = json.loads((HERE / "predictions.json").read_text())
    names = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}
    return [f"predictions.json names unknown metric {n}"
            for n in [*pred["end_to_end"], *pred["per_layer"]]
            if n not in names]


def check_bare_directory() -> list[str]:
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_work") as tmp:
        bare = Path(tmp)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines, _ = _run(["--workload", "corpus_annotate", "--seed", "1",
                               "--seconds", "1"], cwd=bare, timeout=180)
    if code == 0:
        return ["run in a bare directory exited 0"]
    if lines and lines[-1].startswith("{"):
        return ["run in a bare directory printed a result"]
    return []


def main() -> int:
    (ROOT / ".perfbench_work").mkdir(exist_ok=True)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failed = 0
    for check, args in ((check_digests, ()), (check_predictions, (bench,)),
                        (check_bare_directory, ()), (check_runs, (bench,))):
        errors = check(*args)
        print(f"{'FAIL' if errors else 'ok  '} {check.__name__}", flush=True)
        for e in errors:
            print(f"     {e}")
        failed += bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
