"""Noise-robust A/B measurement for query variants.

Wall-clock on this shared host swings ±30% in bursts of tens of seconds, so
back-to-back wall comparisons of sub-second queries are useless.  This harness
runs the variants INTERLEAVED (A B A B ...) in one session and reports, per
run, both wall time and the task `executorRunTime` of the stages the run
started, read from the live AppStatusStore by `obs.measure` — CPU-time-ish
work actually done by tasks, which a co-tenant noise burst inflates far less
than wall clock (tasks still run, they just time-slice).  min/median over
runs of BOTH metrics is printed; a change that helps should move
executor-run-time down regardless of which runs caught a burst.

Usage (library):
    from tools.ab_bench import run_ab
    run_ab(spark, {"old": lambda: q_old(spark, sf), "new": lambda: q_new(spark, sf)}, reps=5)
"""

from __future__ import annotations

import statistics

from matrixone_spark import obs


def run_ab(spark, variants: "dict[str, callable]", reps: int = 5, warmup: int = 1) -> dict:
    """Interleave variant thunks (each returns a DataFrame to .collect()) and
    report wall + executor-run-time per rep.  Returns {name: {...}}."""
    for _ in range(warmup):
        for fn in variants.values():
            fn().collect()
    wall: dict[str, list[float]] = {n: [] for n in variants}
    ert: dict[str, list[int]] = {n: [] for n in variants}
    for _ in range(reps):
        for name, fn in variants.items():
            rec = obs.measure(spark, fn)
            if rec.error is not None:
                raise RuntimeError(f"{name}: {rec.error}")
            wall[name].append(rec.total_ms / 1e3)
            ert[name].append(rec.run_ms)
    out = {}
    for name in variants:
        out[name] = {
            "wall_min": round(min(wall[name]), 3),
            "wall_med": round(statistics.median(wall[name]), 3),
            "ert_min_ms": min(ert[name]),
            "ert_med_ms": int(statistics.median(ert[name])),
            "wall_runs": [round(w, 3) for w in wall[name]],
            "ert_runs": ert[name],
        }
        print(name, out[name])
    return out
