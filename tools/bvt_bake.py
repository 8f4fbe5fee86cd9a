"""Bake stateful BVT categories into driver-oracle batteries.

The driver correctness gate needs (spark DataFrame, one oracle SQL string).
Stateful BVT scripts (CREATE/INSERT/UPDATE/SELECT sequences) don't fit that
shape directly, so this tool compiles them into it:

1. Replay each category script statement-by-statement (BvtSession on Spark,
   DuckDB co-execution, both-or-neither state transitions — bvt_runner).
2. At every SELECT both engines ran with matching rows, snapshot the live
   table states and emit a CASE: fixture tables rendered as VALUES relations
   (renamed ``__c<sid>_<table>`` so cases can't collide), the SELECT text
   rewritten to reference them, and a canonicalizing wrapper that folds each
   result row to one string — ``SELECT sid, val``.
3. Assemble per-category union batteries (one WITH hoisting every case's
   fixtures + UNION ALL legs) for BOTH engines, re-validate the final
   artifacts end-to-end (drop any case that disagrees), and write
   ``matrixone_spark/queries/bvt_baked_data.py``.

The baked battery gives the driver a hard row-hash gate over real reference
script content — the stateful analogue of bvt_select_battery's harvest.

Usage: python tools/bvt_bake.py [cat ...]   (default: subquery union distinct)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CASES_DIR = "/root/reference/test/distributed/cases"
MAX_CASES_PER_CAT = 60
MAX_FIXTURE_ROWS = 300

from matrixone_spark.bvt_harvest import _strip_comments, split_statements  # noqa: E402
from matrixone_spark.bvt_runner import BvtSession, _duckify  # noqa: E402
from matrixone_spark.functions.sql_surface import run_sql  # noqa: E402
from matrixone_spark.mysql_dialect import mask_literals, translate, unmask_literals  # noqa: E402
from matrixone_spark.oracle import canonical_rows  # noqa: E402


# ---------------------------------------------------------------- rendering

def _kind(spark_type: str) -> str:
    t = spark_type.lower()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t in ("float", "double") or t.startswith("decimal") or t.startswith("numeric"):
        return "float"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "ts"
    if t == "string":
        return "str"
    raise ValueError(f"unbaked type {spark_type}")


def _type_name(spark_type: str, engine: str) -> str:
    t = spark_type.lower()
    if t == "string":
        return "STRING" if engine == "spark" else "VARCHAR"
    return t.upper()


def _lit(v, spark_type: str, engine: str) -> str:
    if v is None:
        return f"CAST(NULL AS {_type_name(spark_type, engine)})"
    k = _kind(spark_type)
    if k == "int":
        return str(int(v))
    if k == "float":
        return repr(float(v)) if not spark_type.lower().startswith(("decimal", "numeric")) else str(v)
    if k == "bool":
        return "true" if v else "false"
    if k == "date":
        return f"DATE '{v}'"
    if k == "ts":
        return f"TIMESTAMP '{v}'"
    s = str(v)
    if any(ord(ch) < 32 for ch in s):
        raise ValueError("control char in fixture string")
    body = s.replace("'", "''")
    if engine == "spark":
        body = body.replace("\\", "\\\\")
    return f"'{body}'"


def _fixture_sql(name: str, cols: "list[tuple[str, str]]", rows, engine: str) -> str:
    """One named relation: name(c...) AS (typed VALUES or empty shell)."""
    sel = ", ".join(
        f"CAST(col{i + 1} AS {_type_name(t, engine)}) AS {c}"
        for i, (c, t) in enumerate(cols)
    )
    if not rows:
        null_sel = ", ".join(
            f"CAST(NULL AS {_type_name(t, engine)}) AS {c}" for c, t in cols
        )
        return f"{name} AS (SELECT {null_sel} WHERE 1=0)"
    body = ", ".join(
        "(" + ", ".join(_lit(v, cols[i][1], engine) for i, v in enumerate(r)) + ")"
        for r in rows
    )
    if engine == "spark":
        return f"{name} AS (SELECT {sel} FROM VALUES {body})"
    alias = ", ".join(f"col{i + 1}" for i in range(len(cols)))
    return f"{name} AS (SELECT {sel} FROM (VALUES {body}) __v({alias}))"


def _canon_col(col: str, dtype: str, engine: str) -> str:
    k = _kind(dtype)
    if k == "int":
        inner = (
            f"CAST(CAST({col} AS BIGINT) AS STRING)"
            if engine == "spark"
            else f"CAST(CAST({col} AS BIGINT) AS VARCHAR)"
        )
    elif k == "float":
        inner = f"printf('%.4f', CAST({col} AS DOUBLE))"
    elif k == "bool":
        inner = f"CASE WHEN {col} THEN 'T' ELSE 'F' END"
    elif k == "date":
        inner = (
            f"date_format({col}, 'yyyy-MM-dd')"
            if engine == "spark"
            else f"strftime({col}, '%Y-%m-%d')"
        )
    elif k == "ts":
        inner = (
            f"date_format({col}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
            if engine == "spark"
            else f"strftime({col}, '%Y-%m-%d %H:%M:%S.%f')"
        )
    else:
        inner = f"CAST({col} AS STRING)" if engine == "spark" else f"CAST({col} AS VARCHAR)"
    return f"CASE WHEN {col} IS NULL THEN '<null>' ELSE {inner} END"


def _rename_tables(select_sql: str, tables: "list[str]", sid: int) -> str:
    masked, spans = mask_literals(select_sql)
    for t in sorted(tables, key=len, reverse=True):
        masked = re.sub(rf"(?<![\w.`]){re.escape(t)}(?![\w`])", f"__c{sid}_{t}", masked)
    return unmask_literals(masked, spans)


class Case:
    def __init__(self, sid, src, fixtures, select, out_types):
        self.sid = sid          # battery-unique int
        self.src = src          # "<cat>/<file>:<stmt idx>"
        self.fixtures = fixtures  # [(renamed, cols, rows)]
        self.select = select    # table-renamed SELECT text (MySQL dialect)
        self.out_types = out_types  # spark dtypes of the result columns

    def leg(self, engine: str) -> str:
        n = len(self.out_types)
        alias = ", ".join(f"c{i}" for i in range(n))
        cols = ", ".join(_canon_col(f"c{i}", t, engine) for i, t in enumerate(self.out_types))
        sel = translate(self.select) if engine == "spark" else _duckify(self.select)
        sep = "concat_ws('|', " + cols + ")" if n > 1 else cols
        return (
            f"SELECT {self.sid} AS sid, {sep} AS val "
            f"FROM ({sel}) AS __case({alias})"
        )

    def ctes(self, engine: str) -> "list[str]":
        return [_fixture_sql(nm, cols, rows, engine) for nm, cols, rows in self.fixtures]


def _battery_sql(cases: "list[Case]", engine: str) -> str:
    ctes = [c for case in cases for c in case.ctes(engine)]
    legs = " UNION ALL ".join(case.leg(engine) for case in cases)
    return ("WITH " + ", ".join(ctes) + " " if ctes else "") + legs


# ---------------------------------------------------------------- harvest

def _snapshot_fixtures(sess: BvtSession, sid: int):
    fixtures = []
    for name, df in sess.tables.items():
        if name not in sess.schemas:
            return None  # views etc. — skip case
        cols = sess.schemas[name]
        try:
            for _, t in cols:
                _kind(t)
            rows = df.limit(MAX_FIXTURE_ROWS + 1).collect()
        except Exception:
            return None
        if len(rows) > MAX_FIXTURE_ROWS:
            return None
        fixtures.append((f"__c{sid}_{name}", cols, [tuple(r) for r in rows]))
    return fixtures


_NONDET_RE = re.compile(
    r"\b(rand|random|now|curdate|curtime|current_timestamp|current_date|uuid"
    r"|sleep|connection_id|last_insert_id|database|version|user)\s*\(",
    re.IGNORECASE,
)


def harvest_category(spark, cat: str, sid_base: int) -> "tuple[list[Case], dict]":
    import duckdb

    cases: "list[Case]" = []
    stats = {"selects": 0, "kept": 0, "state_skip": 0, "run_fail": 0, "mismatch": 0}
    d = os.path.join(CASES_DIR, cat)
    for fname in sorted(os.listdir(d)):
        if not fname.endswith(".sql"):
            continue
        text = open(os.path.join(d, fname), errors="replace").read()
        sess = BvtSession(spark)
        con = duckdb.connect()
        for i, stmt in enumerate(split_statements(_strip_comments(text))):
            masked, _ = mask_literals(stmt)
            head = masked.strip().lstrip("(").split(None, 1)[0].lower() if masked.strip() else ""
            if head not in ("select", "with", "values", "table"):
                # state transition: both-or-neither (mirror CoExecutor)
                try:
                    con.execute("BEGIN")
                except Exception:
                    pass
                snap = sess.snapshot()
                duck_ok = spark_ok = True
                try:
                    con.execute(_duckify(stmt))
                except Exception:
                    duck_ok = False
                try:
                    sess.execute(stmt)
                except Exception:
                    spark_ok = False
                if spark_ok and duck_ok:
                    con.execute("COMMIT")
                else:
                    if spark_ok:
                        sess.restore(snap)
                    try:
                        con.execute("ROLLBACK")
                    except Exception:
                        pass
                continue
            if len(cases) >= MAX_CASES_PER_CAT:
                break
            if head != "select" or _NONDET_RE.search(masked):
                continue
            if re.search(r"\blimit\b", masked, re.IGNORECASE) and not re.search(
                r"\border\s+by\b", masked, re.IGNORECASE
            ):
                # LIMIT over an unordered relation picks an arbitrary row —
                # engine- and run-dependent, never a fair compare
                continue
            stats["selects"] += 1
            sid = sid_base + len(cases)
            fixtures = _snapshot_fixtures(sess, sid)
            if fixtures is None:
                stats["state_skip"] += 1
                continue
            renamed = _rename_tables(stmt, list(sess.tables), sid)
            case = Case(sid, f"{cat}/{fname}:{i}", fixtures, renamed, [])
            # validate this case standalone on both engines
            try:
                probe = run_sql(spark, translate(renamed) if not fixtures else
                                "WITH " + ", ".join(case.ctes("spark")) + " " + translate(renamed))
                case.out_types = [f.dataType.simpleString() for f in probe.schema.fields]
                for t in case.out_types:
                    _kind(t)
                s_rows = run_sql(spark, _battery_sql([case], "spark")).collect()
                d_rows = con.execute(_battery_sql([case], "duck")).fetchall()
            except Exception:
                stats["run_fail"] += 1
                continue
            if sorted(map(tuple, s_rows)) != sorted(map(tuple, d_rows)):
                stats["mismatch"] += 1
                continue
            stats["kept"] += 1
            cases.append(case)
    return cases, stats


def main() -> None:
    cats = [a for a in sys.argv[1:] if not a.startswith("-")] or [
        "subquery",
        "union",
        "distinct",
    ]
    from matrixone_spark.session import get_spark

    spark = get_spark("bvt-bake")
    spark.sparkContext.setLogLevel("ERROR")

    out: "dict[str, tuple[str, str, int, str]]" = {}
    sid_base = 0
    for cat in cats:
        cases, stats = harvest_category(spark, cat, sid_base)
        sid_base += MAX_CASES_PER_CAT
        print(f"{cat}: {stats}")
        if not cases:
            continue
        srcs = ", ".join(sorted({c.src.split(":")[0] for c in cases}))
        out[cat] = (
            _battery_sql(cases, "spark"),
            _battery_sql(cases, "duck"),
            len(cases),
            srcs,
        )

    # final end-to-end validation of the emitted artifacts
    import duckdb

    con = duckdb.connect()
    for cat, (s_sql, d_sql, n, _srcs) in out.items():
        s_rows = sorted(map(tuple, run_sql(spark, s_sql).collect()))
        d_rows = sorted(map(tuple, con.execute(d_sql).fetchall()))
        assert s_rows == d_rows, f"{cat}: baked artifacts diverge"
        print(f"{cat}: validated {n} cases, {len(s_rows)} rows")

    # merge with previously baked categories (regenerating a subset must not
    # drop the others); requested categories always take the fresh result
    try:
        from matrixone_spark.queries.bvt_baked_data import BAKED as _OLD

        for cat, tup in _OLD.items():
            if cat not in cats:
                out.setdefault(cat, tup)
    except ImportError:
        pass

    path = os.path.join(REPO, "matrixone_spark", "queries", "bvt_baked_data.py")
    with open(path, "w") as f:
        f.write(
            '"""GENERATED by tools/bvt_bake.py — stateful BVT categories baked\n'
            "into driver-oracle battery SQL (see that tool's docstring). Content\n"
            "derives from the reference's public BVT scripts\n"
            "(test/distributed/cases/<cat>/*.sql) used as a correctness corpus,\n"
            'with per-case fixture snapshots; regenerate, never hand-edit."""\n\n'
        )
        f.write("BAKED: \"dict[str, tuple[str, str, int, str]]\" = {\n")
        for cat, tup in out.items():
            f.write(f"    {cat!r}: (\n")
            for part in tup[:2]:
                f.write(f"        {part!r},\n")
            f.write(f"        {tup[2]!r},\n        {tup[3]!r},\n    ),\n")
        f.write("}\n")
    print(f"wrote {path}: " + ", ".join(f"{c}={v[2]}" for c, v in out.items()))


if __name__ == "__main__":
    main()
