"""Driver-style correctness pass at sf1 (VERDICT r7 item #9).

The r7 scale measurement proved TIME scales sublinearly sf0.1→sf1; this
proves ANSWERS scale too: run the registry queries against their DuckDB
oracles on the sf1 fixtures (tools/make_sf.py output), hash-gated by
obs.check (oracle.compare_frames: bit-exact, order/column-name
insensitive).

Usage: python tools/sf1_correctness.py [sf_dir [names...]]
(default sf_dir /tmp/mospark_sf1)

Writes the committed sf1 record, CORRECTNESS_SF1.json at the repo root, only
for the default sf_dir; any other sf_dir writes CORRECTNESS_<basename>.json,
so a quick run at a small scale never replaces the sf1 record.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF1_DIR = "/tmp/mospark_sf1"


def output_path(sf_dir: str) -> str:
    """Where the record for ``sf_dir`` is written."""
    sf_dir = os.path.abspath(sf_dir)
    name = "SF1" if sf_dir == SF1_DIR else os.path.basename(sf_dir)
    return os.path.join(REPO, f"CORRECTNESS_{name}.json")


def _close_frames(a, b, rel: float = 1e-9) -> bool:
    """Order/name-insensitive frame equality with relative float
    tolerance (non-floats exact)."""
    if len(a) != len(b) or len(a.columns) != len(b.columns):
        return False

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return sorted(
            (
                tuple(
                    float(f"{v:.9g}") if isinstance(v, float) else v
                    for v in row
                )
                for row in df.itertuples(index=False, name=None)
            ),
            key=repr,
        )

    for ra, rb in zip(canon(a), canon(b)):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if abs(va - vb) > rel * max(abs(va), abs(vb), 1.0):
                    return False
            elif va != vb:
                return False
    return True


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF1_DIR
    from matrixone_spark import obs
    from matrixone_spark.queries import load_all
    from matrixone_spark.session import get_spark

    spark = get_spark("sf1-correctness")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    # optional explicit names after sf_dir; by default the WHOLE registry
    # minus the bvt_* replay batteries (baked fixture SQL — the scale
    # factor is meaningless there)
    names = sys.argv[2:] or [n for n in registry if not n.startswith("bvt_")]
    out: "dict[str, dict]" = {}
    for name in names:
        if name not in registry:
            out[name] = {"status": "missing"}
            continue
        t0 = time.time()
        try:
            chk = obs.check(spark, registry[name], sf_dir)
        except Exception as e:
            out[name] = {"status": "error", "error": str(e)[:300]}
            print(name, "ERROR", str(e)[:120])
            continue
        rec: "dict[str, object]" = {
            "rows": int(len(chk.got)), "sec": round(time.time() - t0, 2),
        }
        if chk.problems is None:
            rec["status"] = "rows_only"
        elif not chk.problems:
            rec["status"] = "match"
        elif _close_frames(chk.got, chk.want):
            # sf1 magnitudes expose 1-ulp double→decimal rounding
            # drift in per-row products (sum_charge: …94159 vs
            # …941593) — value-identical to 1e-9 relative; the
            # sf0.01 gate stays bit-exact
            rec["status"] = "match_float_tol"
        else:
            rec["status"] = "MISMATCH"
            rec["problems"] = [str(p)[:200] for p in chk.problems[:3]]
        out[name] = rec
        print(name, rec["status"], rec["rows"], f"{rec['sec']}s")
    summary = {
        "sf_dir": sf_dir,
        "match": sum(1 for r in out.values() if r.get("status") == "match"),
        "rows_only": sum(
            1 for r in out.values() if r.get("status") == "rows_only"
        ),
        "fail": sum(
            1 for r in out.values()
            if r.get("status") in ("MISMATCH", "error", "missing")
        ),
        "queries": out,
    }
    with open(output_path(sf_dir), "w") as f:
        json.dump(summary, f, indent=1)
    print("match:", summary["match"], "rows_only:", summary["rows_only"],
          "fail:", summary["fail"])


if __name__ == "__main__":
    main()
