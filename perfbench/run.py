#!/usr/bin/env python3
"""Benchmark of the edsnlp_spark engine on generated clinical inputs.

Run from the repository root:

    python3 perfbench/run.py --workload corpus_annotate --seed 1 \
        --seconds 20 --trace 0

Workloads (see ``workloads.py`` and ``BENCHMARK.json``):

* ``corpus_annotate`` -- ``nlp.pipe`` over parquet note shards;
* ``dedup_corpus``    -- MinHash-LSH pairs -> components -> canonical docs;
* ``single_note``     -- eager ``nlp(text)`` calls (not in BENCHMARK.json:
  a warm call takes ~10 s on 4 cores, too few samples per run);
* ``all``             -- the three in one session, printing every
  end-to-end metric under its per-workload name (``--trace 0`` only).

A run sets up (session start, input generation and parquet write, and
a warm-up pass), measures about ``--seconds`` (as many passes as
nominally fill it), checks every output against the generator's ground
truth and prints, as its last line, ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  ``--quick`` shrinks the inputs for the self-tests.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root: inputs and outputs (removed at the end), the input
digests, and with ``--trace 1`` the spans (``spans.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

from workloads import QUALIFIERS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
ALL_WORKLOADS = ("corpus_annotate", "single_note", "dedup_corpus")

END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "docs/s",
                    "recall": "fraction"}
# The per-workload names the end-to-end metrics carry in ``--workload all``.
NAMED_UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB",
    "corpus_notes_per_s": "notes/s", "corpus_failed_frac": "fraction",
    "single_latency_p50_s": "s", "single_latency_tail_s": "s",
    "single_failed_frac": "fraction",
    "dedup_docs_per_s": "docs/s", "dedup_recall": "fraction",
    "dedup_failed_frac": "fraction",
}
LAYER_UNITS = {
    "facade.plan_s": "s", "facade.jobs": "count", "facade.stages": "count",
    "tokenizer.self_s": "s", "sentences.self_s": "s",
    "sentences.rows_out": "count", "matcher.self_s": "s",
    "matcher.entities_out": "count",
    **{f"qualifiers.{q}.self_s": "s" for q in QUALIFIERS},
    "qualifiers.jobs": "count", "qualifiers.shuffle_write_mb": "MB",
    "qualifiers.spill_mb": "MB", "qualifiers.cpu_s": "s",
    "sources.read_s": "s", "sources.write_s": "s", "sources.write_mb": "MB",
    "dedup.pairs.self_s": "s", "dedup.pairs.candidates": "count",
    "dedup.pairs.useful_ratio": "ratio", "dedup.pairs.shuffle_write_mb": "MB",
    "dedup.resolve.self_s": "s", "dedup.resolve.iterations": "count",
    "caching.tracked_planes": "count", "caching.cached_mb": "MB",
    "executor.cpu_s": "s", "executor.gc_s": "s", "executor.tasks": "count",
    "executor.failed_tasks": "count", "executor.busy_frac": "fraction",
    "peak_rss_mb": "MB", "trace.overhead_ratio": "ratio",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=(*ALL_WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--quick", action="store_true",
                   help="tiny inputs (self-tests)")
    args = p.parse_args(argv)
    if args.workload == "all" and args.trace:
        p.error("--workload all runs untraced only")
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _prepare_env(work: Path) -> None:
    """Session hygiene, set before the JVM starts: the program's own
    session defaults on every core, the package importable by the Python
    workers, and every scratch file inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)


def _start_session(trace: bool, work: Path):
    import edsnlp_spark as es
    from tracing import event_log_conf
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update(event_log_conf(str(work / "eventlog")))
    return es.get_spark(app_name="perfbench", extra_conf=conf)


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM.  After ``spark.stop()``
    the JVM outlives this process by about a second; closing its stdin
    makes it exit, and its Python workers end with it."""
    from pyspark import SparkContext
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _setup(spark, names, seed, sizes, work: Path):
    """Input generation + parquet write + pipeline build, then one
    warm-up pass per workload.  Returns (workload objects, input
    seconds, warm-up seconds, digests)."""
    import workloads as W
    t0 = time.perf_counter()
    objs = [W.WORKLOADS[n]() for n in names]
    digests = {o.name: o.setup(spark, seed, sizes, str(work / "inputs"))
               for o in objs}
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for o in objs:
        o.warm_up(spark)
    return objs, inputs_s, time.perf_counter() - t0, digests


def _tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest of p99.9/p99/p95/p90/p75/p50 with
    at least ten samples beyond it; None with fewer than 20 samples."""
    xs = sorted(samples)
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            return p, xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return None


def _named(name: str, res) -> dict:
    """One workload's results under its per-workload metric names."""
    frac = res.failed / res.attempted
    if name == "corpus_annotate":
        return {"corpus_notes_per_s": res.docs_per_s,
                "corpus_failed_frac": frac}
    if name == "single_note":
        out = {"single_latency_p50_s": statistics.median(res.pass_s),
               "single_failed_frac": frac}
        tail = _tail(res.pass_s)
        if tail is not None:
            out["single_latency_tail_s"] = tail[1]
        return out
    return {"dedup_docs_per_s": res.docs_per_s, "dedup_recall": res.recall,
            "dedup_failed_frac": frac}


def _layer_metrics(name, res, tracer, totals, cores) -> dict:
    from tracing import sum_totals
    e2e_s = [t for t, lay in zip(res.pass_s, res.layered) if not lay]
    lay_s = [t for t, lay in zip(res.pass_s, res.layered) if lay]
    n_e2e, n_lay = len(e2e_s), len(lay_s)
    st = tracer.self_times()
    counts = res.layer.get("counts", [])

    def per_pass(value, n=n_lay):
        return value / n if n else 0.0

    def mean_count(key):
        vals = [c[key] for c in counts if key in c]
        return statistics.mean(vals) if vals else 0.0

    e2e = sum_totals(totals, "e2e")
    facade = name in ("corpus_annotate", "single_note")
    qual = sum_totals(totals, "qualifiers")
    pairs = sum_totals(totals, "dedup.pairs")
    measured = sum_totals(totals)
    n_all = len(res.pass_s)
    cand = sum(c.get("candidates", 0) for c in counts)
    m = {
        "facade.plan_s": statistics.median(res.layer["plan_s"])
        if facade else 0.0,
        "facade.jobs": per_pass(e2e["jobs"], n_e2e) if facade else 0.0,
        "facade.stages": per_pass(e2e["stages"], n_e2e) if facade else 0.0,
        "tokenizer.self_s": per_pass(st.get("tokenizer", 0.0)),
        "sentences.self_s": per_pass(st.get("sentences", 0.0)),
        "sentences.rows_out": mean_count("sentences.rows_out"),
        "matcher.self_s": per_pass(st.get("matcher", 0.0)),
        "matcher.entities_out": mean_count("matcher.entities_out"),
        **{f"qualifiers.{q}.self_s": per_pass(st.get(f"qualifiers.{q}", 0.0))
           for q in QUALIFIERS},
        "qualifiers.jobs": per_pass(qual["jobs"]),
        "qualifiers.shuffle_write_mb": per_pass(qual["shuffle_write_mb"]),
        "qualifiers.spill_mb": per_pass(qual["spill_mb"]),
        "qualifiers.cpu_s": per_pass(qual["cpu_s"]),
        "sources.read_s": per_pass(st.get("sources.read", 0.0)),
        "sources.write_s": per_pass(st.get("sources.write", 0.0)),
        "sources.write_mb": per_pass(
            sum_totals(totals, "sources.write")["output_mb"]),
        "dedup.pairs.self_s": per_pass(st.get("dedup.pairs", 0.0)),
        "dedup.pairs.candidates": mean_count("candidates"),
        "dedup.pairs.useful_ratio":
            sum(c.get("useful", 0) for c in counts) / cand if cand else 0.0,
        "dedup.pairs.shuffle_write_mb": per_pass(pairs["shuffle_write_mb"]),
        "dedup.resolve.self_s": per_pass(st.get("dedup.resolve", 0.0)),
        "dedup.resolve.iterations": mean_count("iterations"),
        "caching.tracked_planes": 0.0, "caching.cached_mb": 0.0,
        **res.layer.get("caching", {}),
        "executor.cpu_s": per_pass(measured["cpu_s"], n_all),
        "executor.gc_s": per_pass(measured["gc_s"], n_all),
        "executor.tasks": per_pass(measured["tasks"], n_all),
        "executor.failed_tasks": per_pass(measured["failed_tasks"], n_all),
        "executor.busy_frac": measured["run_s"] / (sum(res.pass_s) * cores),
        "trace.overhead_ratio":
            statistics.median(lay_s) / statistics.median(e2e_s)
            if n_e2e and n_lay else 0.0,
    }
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "edsnlp_spark" / "__init__.py").is_file():
        print(f"perfbench: no edsnlp_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    names = ALL_WORKLOADS if args.workload == "all" else (args.workload,)
    work = WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, str(ROOT))
    import workloads as W
    from tracing import Tracer, event_log_totals, peak_rss_mb
    sizes = W.QUICK if args.quick else W.FULL
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    t0 = time.perf_counter()
    spark = _start_session(bool(args.trace), work)
    session_s = time.perf_counter() - t0
    try:
        objs, inputs_s, warm_s, digests = _setup(
            spark, names, args.seed, sizes, work)
        setup_s = session_s + inputs_s + warm_s
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        results = {o.name: o.run(spark, tracer, args.seconds) for o in objs}
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current(
            ).pid()
        rss = peak_rss_mb(jvm_pid)
    finally:
        _shutdown(spark)

    (work / "digests.json").write_text(json.dumps(digests, indent=1))
    attempted = sum(r.attempted for r in results.values())
    failed = sum(r.failed for r in results.values())
    print(f"setup: session {session_s:.2f} s, inputs+build {inputs_s:.2f} s, "
          f"warm-up {warm_s:.2f} s")
    named = {"setup_s": setup_s, "peak_rss_mb": rss}
    for n, r in results.items():
        named.update(_named(n, r))
        print(f"{n}: {len(r.pass_s)} timed passes "
              f"[{', '.join(f'{s:.2f}' for s in r.pass_s)}] s, "
              f"{r.attempted} items, {r.failed} failed")
        if n == "single_note":
            tail = _tail(r.pass_s)
            print("single_latency_tail_s: " + (
                f"p{tail[0]:g} over {len(r.pass_s)} calls" if tail else
                f"not reported, {len(r.pass_s)} calls < 20"))
    for k, v in named.items():
        print(f"{k} {v:.6g} {NAMED_UNITS[k]}")

    if args.workload == "all":
        metrics = {k: {"value": v, "unit": NAMED_UNITS[k]}
                   for k, v in named.items()}
    elif args.trace:
        (res,) = results.values()
        tracer.write(str(work / "spans.jsonl"))
        totals = event_log_totals(str(work / "eventlog"))
        layer = _layer_metrics(args.workload, res, tracer, totals, cores)
        layer["peak_rss_mb"] = rss
        if layer["trace.overhead_ratio"]:
            print(f"tracing overhead: layered pass "
                  f"{layer['trace.overhead_ratio']:.3f}x the plain pass")
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        (res,) = results.values()
        values = {"setup_s": setup_s, "docs_per_s": res.docs_per_s,
                  "recall": res.recall}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    for d in work.iterdir():
        if d.is_dir():
            shutil.rmtree(d)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
