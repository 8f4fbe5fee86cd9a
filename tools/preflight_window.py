"""Preflight the driver's 50-row correctness window locally.

Mirrors the driver's per-query gate at sf0.01: run the Spark callable and
(when present) the DuckDB oracle, compare via the strict frame comparator;
for rows-only queries, ALSO canonicalize the Spark result exactly the way
the driver's rows-only hasher does (pandas sort_values over every column,
then per-cell hashing) so unhashable cells (array columns — the r03
approx_percentile_tdigest red row) are caught here, not in the round report.

Usage:
    python tools/preflight_window.py [N] [--sf /root/testdata/sf0.01] [name...]
"""

from __future__ import annotations

import json
import sys
import time
import traceback

sys.path.insert(0, ".")


def _driver_canon(pdf):
    """Re-create the driver's rows-only canonicalization failure mode:
    sort_values over all columns requires every cell to be hashable and
    comparable."""
    if len(pdf.columns):
        pdf = pdf[sorted(pdf.columns)]
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    for col in pdf.columns:
        for v in pdf[col].head(1000):
            hash(v if not isinstance(v, float) else round(v, 9))
    return pdf


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    n = 50
    names = []
    for a in args:
        if a.isdigit():
            n = int(a)
        else:
            names.append(a)

    from matrixone_spark import obs
    from matrixone_spark.queries import load_all
    from matrixone_spark.session import get_spark

    reg = load_all()
    window = names or list(reg)[:n]
    spark = get_spark("preflight")
    results = {}
    t_all = time.time()
    for name in window:
        t0 = time.time()
        try:
            chk = obs.check(spark, reg[name], sf_dir)
            if chk.problems is None:
                _driver_canon(chk.got)
                status = f"rows_only({len(chk.got)})"
            else:
                status = "pass" if not chk.problems else "FAIL: " + "; ".join(chk.problems[:3])
        except Exception as e:  # noqa: BLE001
            status = "ERROR: " + repr(e)[:300]
            traceback.print_exc()
        dt = time.time() - t0
        results[name] = (status, round(dt, 2))
        flag = "" if status.startswith(("pass", "rows_only")) else "  <<<<"
        print(f"{name:40s} {dt:6.2f}s  {status}{flag}", flush=True)
    bad = {k: v for k, v in results.items() if not v[0].startswith(("pass", "rows_only"))}
    print(f"\n{len(window)} queries, {time.time()-t_all:.1f}s total, {len(bad)} bad")
    if bad:
        print(json.dumps({k: v[0] for k, v in bad.items()}, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
