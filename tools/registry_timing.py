"""Time EVERY registered query (cold + warm) at $SPARK_GRAFT_SF_DIR.

Optimization-round census: the bench covers 18 queries; this sweeps all ~195
so non-bench outliers surface. Each record carries the cold run, the best
warm run and, of the warm runs, the best DataFrame build alone (``fn()``
without an action: the Python/py4j plan-construction share). Prints one JSON
line per query plus a sorted summary. Not part of the `__spark_entry__`
contract — a measurement tool only.

Usage: python tools/registry_timing.py [out.json] [warm_runs]
"""

from __future__ import annotations

import json
import os
import sys

from matrixone_spark import obs
from matrixone_spark.queries import load_all
from matrixone_spark.session import get_spark


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/registry_timing.json"
    warm_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark("mospark-registry-timing")
    spark.sparkContext.setLogLevel("ERROR")
    obs.warm_up(spark, sf_dir)

    results: dict[str, dict] = {}
    for name, q in registry.items():
        runs = [obs.measure(spark, lambda: q.fn(spark, sf_dir))]
        while runs[-1].error is None and len(runs) <= warm_runs:
            runs.append(obs.measure(spark, lambda: q.fn(spark, sf_dir)))
        if runs[-1].error is not None:
            rec = {"err": runs[-1].error[:200]}
        else:
            warm = runs[1:]
            rec = {
                "cold": round(runs[0].total_ms / 1e3, 3),
                "rows": runs[0].rows,
                "warm": round(min(r.total_ms for r in warm) / 1e3, 3),
                "build": round(min(r.build_ms for r in warm) / 1e3, 3),
            }
        results[name] = rec
        print(json.dumps({name: rec}), flush=True)

    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    ok = {n: r for n, r in results.items() if "warm" in r}
    top = sorted(ok.items(), key=lambda kv: -kv[1]["warm"])[:30]
    print("\n== slowest warm ==")
    for n, r in top:
        print(f"{r['warm']:8.3f}s  (cold {r['cold']:7.3f}s, {r['rows']} rows)  {n}")
    errs = {n: r["err"] for n, r in results.items() if "err" in r}
    if errs:
        print("\n== errors ==")
        for n, e in errs.items():
            print(f"{n}: {e}")
    print(f"\ntotal warm: {sum(r['warm'] for r in ok.values()):.2f}s over {len(ok)} queries")
    print(f"total build: {sum(r['build'] for r in ok.values()):.3f}s")


if __name__ == "__main__":
    main()
