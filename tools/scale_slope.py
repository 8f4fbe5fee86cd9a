"""Measure per-query wall time across SF decades and report the scaling
exponent (VERDICT r8 ask #8: confirm the worst sf0.1→sf1 exponents hold one
decade further).

For each query and each SF directory, runs the registered callable to
completion (collect) min-of-N; the printed exponent between consecutive
decades is log(t2/t1)/log(10x) — stable-or-falling exponents are the
pass signal, a rising exponent predicts a 100 TB problem.

Usage: python tools/scale_slope.py [--runs N] [name ...]
       (default queries: the 5 worst r7 exponents; default dirs:
        /root/testdata/sf0.1 /tmp/mospark_sf1 /tmp/mospark_sf3)
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "text_token_stats",
    "pipeline_clean_corpus",
    "tpch_q3",
    "tpch_q18",
    "geo_s2_join_bench",
]
DIRS = [
    ("sf0.1", "/root/testdata/sf0.1", 0.1),
    ("sf1", "/tmp/mospark_sf1", 1.0),
    ("sf3", "/tmp/mospark_sf3", 3.0),
]


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    names = args or DEFAULT_QUERIES

    from matrixone_spark import obs
    from matrixone_spark.queries import load_all
    from matrixone_spark.session import get_spark

    reg = load_all()
    spark = get_spark("scale-slope")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        q = reg[name]
        times = []
        for label, d, sf in DIRS:
            if not os.path.isdir(d):
                times.append(None)
                continue
            recs = [obs.measure(spark, lambda: q.fn(spark, d)) for _ in range(runs)]
            for r in recs:
                if r.error is not None:
                    raise RuntimeError(f"{name} at {label}: {r.error}")
            times.append(min(r.total_ms for r in recs) / 1e3)
        row = [f"{t:.2f}s" if t else "-" for t in times]
        exps = []
        for i in range(1, len(times)):
            if times[i] and times[i - 1]:
                ratio = times[i] / times[i - 1]
                decade = math.log10(DIRS[i][2] / DIRS[i - 1][2])
                exps.append(f"{math.log10(ratio) / decade:.2f}")
            else:
                exps.append("-")
        print(f"{name:28s} " + " ".join(f"{r:>9s}" for r in row)
              + "   exponents: " + " ".join(exps), flush=True)


if __name__ == "__main__":
    main()
