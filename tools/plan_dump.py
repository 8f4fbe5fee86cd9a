"""Dump .explain('formatted') for bench-tagged (or named) queries, or
compare two dumps.

Usage:
  python tools/plan_dump.py before            # all bench queries -> plans/$ROUND/<q>_before.txt
  python tools/plan_dump.py after q1 q2 ...   # named queries -> plans/$ROUND/<q>_after.txt
  python tools/plan_dump.py compare DIR_A DIR_B

Round directory from $SPARK_GRAFT_PLAN_ROUND (default r13).

``compare`` pairs the files of two dump directories by name, normalises
expression ids (``#123``), exchange plan ids, RDD ids, codegen and
query-stage ids, the checkout root of layout-cache paths and lambda
variable names (``lambda x_2#1440`` becomes ``lambda λ1``, numbered by
first appearance in the file, so the binding structure is kept), prints a
unified diff per differing plan and a summary line, and exits 1 on any
difference or unpaired file.
"""

from __future__ import annotations

import difflib
import os
import re
import sys

from matrixone_spark.engine import _explain_text
from matrixone_spark.queries import load_all
from matrixone_spark.session import get_spark

_LAMBDA_VAR = re.compile(r"lambda ([A-Za-z_][A-Za-z_0-9]*#\d+)")
_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
# scans of checkpointed or Python-built frames name their RDD, numbered in
# creation order across the whole process
_RDD_ID = re.compile(r"RDD\[\d+\]")
_CHECKOUT = re.compile(r"file:\S*?/\.layout_cache/")
# AQE numbers codegen stages and query stages in the order stages finish,
# which varies run to run on the same code
_CODEGEN_ID = re.compile(r"codegen id : \d+")
_STAGE_ID = re.compile(r"(\(\d+\) \w*QueryStage\n(?:Output [^\n]*\n)?)Arguments: \d+")


def normalize_plan(text: str) -> str:
    names: "dict[str, str]" = {}

    def canon(m: "re.Match[str]") -> str:
        return "lambda λ" + names.setdefault(m.group(1), str(len(names) + 1))

    text = _EXPR_ID.sub("#N", _LAMBDA_VAR.sub(canon, text))
    text = _CHECKOUT.sub("file:.../.layout_cache/", _PLAN_ID.sub("plan_id=N", text))
    text = _RDD_ID.sub("RDD[N]", text)
    return _STAGE_ID.sub(r"\1Arguments: N", _CODEGEN_ID.sub("codegen id : N", text))


def compare(dir_a: str, dir_b: str) -> int:
    """Number of differing or unpaired plan files between two dumps."""
    files_a, files_b = set(os.listdir(dir_a)), set(os.listdir(dir_b))
    bad = 0
    for name in sorted(files_a ^ files_b):
        print(f"only in {dir_a if name in files_a else dir_b}: {name}")
        bad += 1
    for name in sorted(files_a & files_b):
        with open(os.path.join(dir_a, name)) as fa, open(os.path.join(dir_b, name)) as fb:
            a, b = normalize_plan(fa.read()), normalize_plan(fb.read())
        if a != b:
            bad += 1
            sys.stdout.writelines(difflib.unified_diff(
                a.splitlines(True), b.splitlines(True),
                os.path.join(dir_a, name), os.path.join(dir_b, name)))
    print(f"{len(files_a & files_b)} plans compared, {bad} differences")
    return bad


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    if suffix == "compare":
        sys.exit(1 if compare(sys.argv[2], sys.argv[3]) else 0)
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    registry = load_all()
    if not names:
        names = sorted(n for n, q in registry.items() if "bench" in q.tags)
    spark = get_spark("mospark-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = registry[name].fn(spark, sf_dir)
            # execute first so AQE's FINAL plan (isFinalPlan=true, runtime
            # join conversions, coalesced reads) is what gets recorded.
            # collect() (not a noop write) because the write wraps the plan
            # in a NEW query execution — the df's own AQE plan would stay
            # unexecuted and explain would print the initial plan.
            df.collect()
            plan = _explain_text(df)
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
