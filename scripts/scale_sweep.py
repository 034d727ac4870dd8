"""Run EVERY registered query against the 10x replica (count-only smoke).

The sweep proves each query executes cleanly at 10x — no codegen
fallback, no broadcast-size failure, no driver collect — and records
per-query wall seconds to SCALE_SWEEP.json for the scale story in
SCALE.md.

Notes on the replica (scripts/gen_scale10x.py): tables are 10
key-shifted copies; cross-table references resolve within copy 0, so
some queries legitimately change shape (e.g. shifted customer copies
have no orders).  Counts are recorded, not value-compared — value parity is
the sf0.01 oracle gate's job.

Usage: python scripts/scale_sweep.py [scale_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from edsnlp_spark.queries import all_queries  # noqa: E402
from edsnlp_spark.session import get_spark  # noqa: E402


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scale_dir = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.join(repo, ".scale10x")
    out_path = sys.argv[2] if len(sys.argv) > 2 else \
        os.path.join(repo, "SCALE_SWEEP.json")
    spark = get_spark(app_name="scale-sweep")
    results: dict[str, dict] = {}
    for name, (fn, _sql) in sorted(all_queries().items()):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            n = fn(spark, scale_dir).count()
            results[name] = {"sec": round(time.perf_counter() - t0, 2),
                             "rows": n, "err": None}
        except Exception as e:  # noqa: BLE001 — record and continue
            results[name] = {
                "sec": round(time.perf_counter() - t0, 2), "rows": None,
                "err": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}
            traceback.print_exc(limit=1)
        print(name, results[name], file=sys.stderr)
    ok = sum(1 for r in results.values() if r["err"] is None)
    summary = {"scale_dir": scale_dir, "ok": ok, "total": len(results),
               "queries": results}
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps({"ok": ok, "total": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
