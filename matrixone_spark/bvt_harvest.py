"""Harvest constant SELECT expressions from the reference's BVT .sql suites.

The reference ships 959 BVT .sql files (test/distributed/cases/README.md);
each mixes DDL/DML state with plain `select <exprs>;` statements. The
stateless subset — constant scalar expressions with no table references — is
directly replayable against any engine, which makes it a cross-engine parity
corpus: run each expression through Engine.mysql_sql (our MySQL→Spark
translation, mysql_dialect.py) AND through the DuckDB oracle, and compare.

`harvest_constant_selects` extracts that subset. `curate` (the offline tool
that generated queries/bvt.py's embedded battery; run as
``python -m matrixone_spark.bvt_harvest``) executes every candidate on both
engines and keeps the expressions that (a) parse and run on both and (b)
agree after ROUND(...,6) / string normalisation — surviving entries become
the `bvt_select_battery` driver query. Exclusion counts are printed so the
coverage claim stays honest.
"""

from __future__ import annotations

import glob
import os
import re

_REFERENCE_CASES = "/root/reference/test/distributed/cases"

# statements are split on ';' outside quoted spans
_QUOTE_RE = re.compile(r"""'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.)*"|`[^`]*`""", re.DOTALL)

# nondeterministic / session-stateful / engine-specific names that cannot be
# cross-engine constants
_EXCLUDE_RE = re.compile(
    r"\b(rand|now|curdate|curtime|current_date|current_time|current_timestamp|"
    r"sysdate|uuid|uuid_short|sleep|connection_id|database|schema|user|"
    r"current_user|session_user|system_user|version|git_version|found_rows|"
    r"row_count|last_insert_id|last_query_id|benchmark|get_lock|release_lock|"
    r"charset|collation|current_role|utc_date|utc_time|utc_timestamp|"
    r"unix_timestamp|load_file|sequence|nextval|currval|setval|"
    r"current_account|current_account_id|current_account_name|current_role_id|"
    r"current_role_name|current_user_id|current_user_name|purge_log|"
    r"mo_ctl|mo_memory_usage|mo_enable_memory_usage_detail)\s*\(",
    re.IGNORECASE,
)


def _strip_comments(text: str) -> str:
    out = []
    for line in text.splitlines():
        s = line.strip()
        if s.startswith("#") or s.startswith("--"):
            continue
        # trailing `-- comment` after a statement on the same line
        # (dtype/bit.sql `…values (6, 'ab');  -- error, data too long`):
        # MySQL comments need whitespace (or EOL) after `--`; require
        # whitespace/';' BEFORE it too so `5--3` arithmetic survives.
        # Quote-masked so literals containing '--' are untouched.
        masked = _QUOTE_RE.sub(lambda m: "\x02" * len(m.group(0)), line)
        for mm in re.finditer(r"--(?:\s|$)", masked):
            if mm.start() == 0 or masked[mm.start() - 1] in " \t;":
                line = line[: mm.start()].rstrip()
                break
        out.append(line)
    return "\n".join(out)


def split_statements(text: str) -> "list[str]":
    """Split SQL text on top-level ';' (quote-aware)."""
    masked = _QUOTE_RE.sub(lambda m: "\x02" * len(m.group(0)), text)
    stmts, start = [], 0
    for i, ch in enumerate(masked):
        if ch == ";":
            stmts.append(text[start:i].strip())
            start = i + 1
    tail = text[start:].strip()
    if tail:
        stmts.append(tail)
    return [s for s in stmts if s]


def is_constant_select(stmt: str) -> bool:
    """True for `select <scalar exprs>` with no FROM / subquery / variables."""
    masked = _QUOTE_RE.sub("\x02", stmt)
    low = masked.lower()
    if not low.startswith("select"):
        return False
    if re.search(r"\b(from|into|union|except|intersect)\b", low):
        return False
    if "@" in masked or "select" in low[6:]:  # session vars / subqueries
        return False
    if _EXCLUDE_RE.search(masked):
        return False
    return True


def select_exprs(stmt: str) -> "list[str]":
    """Split the select list of a constant SELECT into top-level expressions
    (paren- and quote-aware); strips trailing aliases only if `AS x` form."""
    body = stmt.strip()
    body = body[len("select") :].strip()
    masked = _QUOTE_RE.sub(lambda m: "\x02" * len(m.group(0)), body)
    exprs, depth, start = [], 0, 0
    for i, ch in enumerate(masked):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            exprs.append(body[start:i].strip())
            start = i + 1
    exprs.append(body[start:].strip())
    return [e for e in exprs if e]


def harvest_constant_selects(pattern: str = "function/*.sql") -> "dict[str, list[str]]":
    """file → constant-select statements, for reference BVT files matching
    ``pattern`` under test/distributed/cases. Returns {} when the reference
    tree is absent (repo must stay standalone)."""
    root = os.path.join(_REFERENCE_CASES, pattern)
    out: "dict[str, list[str]]" = {}
    for path in sorted(glob.glob(root)):
        try:
            with open(path, encoding="utf-8", errors="replace") as f:
                text = _strip_comments(f.read())
        except OSError:
            continue
        stmts = [s for s in split_statements(text) if is_constant_select(s)]
        if stmts:
            out[os.path.relpath(path, _REFERENCE_CASES)] = stmts
    return out


def curate(
    patterns: "tuple[str, ...]" = ("function/*.sql", "function/*.test", "operator/*.sql", "expression/*.sql"),
    cap: int = 160,
    per_file_cap: int = 10,
):
    """Offline tool: cross-engine-validate harvested expressions; print the
    surviving battery as Python source for queries/bvt.py. ``per_file_cap``
    spreads the battery across many BVT files instead of exhausting the
    first one."""
    import duckdb

    from matrixone_spark.mysql_dialect import translate
    from matrixone_spark.session import get_spark

    spark = get_spark("bvt-curate")
    con = duckdb.connect()
    seen: "set[str]" = set()
    numeric: "list[tuple[str, str]]" = []  # (source_file, expr)
    strings: "list[tuple[str, str]]" = []
    per_file: "dict[str, int]" = {}
    stats = {"harvested": 0, "exprs": 0, "kept": 0, "spark_fail": 0, "duck_fail": 0, "mismatch": 0}

    for pattern in patterns:
        for src, stmts in harvest_constant_selects(pattern).items():
            stats["harvested"] += len(stmts)
            for stmt in stmts:
                for expr in select_exprs(stmt):
                    expr = re.sub(r"\s+as\s+\w+\s*$", "", expr, flags=re.IGNORECASE).strip()
                    if not expr or len(expr) > 120:
                        continue
                    key = expr.lower()
                    if key in seen:
                        continue
                    seen.add(key)
                    stats["exprs"] += 1
                    if len(numeric) + len(strings) >= cap or per_file.get(src, 0) >= per_file_cap:
                        continue
                    mode = _validate(spark, con, translate, expr)
                    if mode == "num":
                        numeric.append((src, expr))
                        stats["kept"] += 1
                        per_file[src] = per_file.get(src, 0) + 1
                    elif mode == "str":
                        strings.append((src, expr))
                        stats["kept"] += 1
                        per_file[src] = per_file.get(src, 0) + 1
                    else:
                        stats[mode] += 1

    print(f"# curation stats: {stats}")
    print("BVT_NUMERIC = [")
    for src, e in numeric:
        print(f"    ({src!r}, {e!r}),")
    print("]")
    print("BVT_STRING = [")
    for src, e in strings:
        print(f"    ({src!r}, {e!r}),")
    print("]")


def _validate(spark, con, translate, expr: str) -> str:
    """Compare with ENGINE-side ROUND(...,6), exactly as the battery query
    will evaluate — Python-side rounding masked e.g. Spark ROUND promoting
    9.999999999999998e16 to 1e17 where DuckDB does not."""
    import math

    from matrixone_spark.functions.sql_surface import run_sql

    try:
        d = con.execute(
            f"SELECT ROUND(CAST(({expr}) AS DOUBLE), 6) AS v"
        ).fetchone()[0]
        duck_mode = "num"
    except Exception:
        try:
            d = con.execute(f"SELECT CAST(({expr}) AS VARCHAR) AS v").fetchone()[0]
            duck_mode = "str"
        except Exception:
            return "duck_fail"
    try:
        t = translate(expr)
        if duck_mode == "num":
            s = run_sql(spark, f"SELECT ROUND(CAST(({t}) AS DOUBLE), 6) AS v").collect()[0][0]
        else:
            s = run_sql(spark, f"SELECT CAST(({t}) AS STRING) AS v").collect()[0][0]
    except Exception:
        return "spark_fail"
    if duck_mode == "num":
        if s is None and d is None:
            return "num"
        if s is None or d is None:
            return "mismatch"
        if math.isnan(s) and math.isnan(d):
            return "num"
        return "num" if repr(float(s)) == repr(float(d)) else "mismatch"
    return "str" if (s == d or (s is None and d is None)) else "mismatch"


if __name__ == "__main__":
    curate()
