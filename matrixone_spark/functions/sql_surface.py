"""SQL-text surface for the reference's scalar function names.

The DataFrame tier (functions/mysql.py, json_fns.py, vector.py, crypto.py)
already implements these semantics as Column builders, but a builder is
invisible to ``spark.sql`` TEXT — the reference's BVT scripts call the
functions BY NAME.  This module registers the names, in two tiers:

1. **Pure-SQL tier** — Spark ``CREATE OR REPLACE TEMPORARY FUNCTION …
   RETURN <expr>`` (Catalyst inlines the body straight into whole-stage
   codegen: zero Python at runtime, distributes like a builtin) plus a
   DuckDB ``CREATE MACRO`` twin so the BVT co-executor's second engine can
   run the same statement.  Used wherever the semantics are expressible as
   a portable scalar expression.

2. **Kernel tier** — non-trivial semantics (MySQL TIME strings beyond 24 h,
   inet6, zlib COMPRESS, the binary-JSON family, vector codecs) written
   ONCE as plain-Python scalars and registered as Arrow-batched pandas
   UDFs on Spark and as native scalar functions on DuckDB
   (``con.create_function``), so the two replay engines agree by
   construction.

``spark.udf.register`` replaces a same-named Spark builtin for the
session (st_asbinary, st_geomfromwkb and st_srid are deliberate overrides
of Spark 4.1 builtins), but ``CREATE TEMPORARY FUNCTION`` cannot, so
builtin-colliding names with pure-SQL semantics (dayname, date_add,
to_date, …) keep their mysql_dialect compose rewrites.  DuckDB-
colliding names (week, microsecond, format, …) are renamed ``mo_*`` by
``bvt_runner._duckify`` before reaching DuckDB.

Reference: pkg/sql/plan/function/list_builtIn.go (the 578-name registry);
per-function semantics cited inline.
"""

from __future__ import annotations

import ipaddress
import json
import re
import zlib

from matrixone_spark.functions.json_fns import _jq_run, _k_json_contains, _try_jq_run

# --------------------------------------------------------------------------
# Tier 1: pure-SQL bodies.  SPARK_SQL entries are full CREATE statements;
# DUCK_SQL are CREATE MACRO twins (omitted where DuckDB's builtin already
# has the MySQL semantics).  Bodies deliberately mirror the Column builders
# in functions/mysql.py — same reference citations apply.
# --------------------------------------------------------------------------

# MySQL day-number epoch offset: TO_DAYS('1970-01-01') = 719528
# (func_unary.go to_days)
_DAYS0 = 719528

_SEC_TO_TIME_SPARK = (
    "CASE WHEN x IS NULL THEN NULL ELSE concat("
    "CASE WHEN x < 0 THEN '-' ELSE '' END, "
    "lpad(CAST(abs(CAST(x AS BIGINT)) div 3600 AS STRING), 2, '0'), ':', "
    "lpad(CAST((abs(CAST(x AS BIGINT)) % 3600) div 60 AS STRING), 2, '0'), ':', "
    "lpad(CAST(abs(CAST(x AS BIGINT)) % 60 AS STRING), 2, '0')) END"
)

# WEEK(d) mode 0 (MySQL default; func_unary.go week): Sunday-start weeks,
# week 0 for days before the year's first Sunday.  off = Sunday-based
# weekday of Jan 1 (0 when Jan 1 IS a Sunday, in which case Jan 1 opens
# week 1 directly).
_WEEK0_SPARK = (
    "CASE WHEN d IS NULL THEN NULL ELSE "
    "FLOOR((dayofyear(CAST(d AS DATE)) - 1 "
    "+ dayofweek(trunc(CAST(d AS DATE), 'YEAR')) - 1) / 7) "
    "+ IF(dayofweek(trunc(CAST(d AS DATE), 'YEAR')) = 1, 1, 0) END"
)


def _wk0_spark(e: str) -> str:
    """Mode-0 week number of DATE expression ``e`` (0 before the year's
    first Sunday) — the parametrized core of _WEEK0_SPARK."""
    return (
        f"(FLOOR((dayofyear({e}) - 1 + dayofweek(trunc({e}, 'YEAR')) - 1) / 7)"
        f" + IF(dayofweek(trunc({e}, 'YEAR')) = 1, 1, 0))"
    )


# YEARWEEK default mode 0 uses WeekYear semantics (date.go
# calcWeekFromCalendar): Sunday-first weeks 1–53; a date before the year's
# first Sunday belongs to the LAST week of the previous year
# (YEARWEEK('1987-01-01') = 198652, not 198701).  Mode 2 is identical;
# modes 1/3 are ISO.
_YW0_SPARK = (
    "CASE WHEN d IS NULL THEN NULL WHEN "
    + _wk0_spark("CAST(d AS DATE)")
    + " >= 1 THEN year(CAST(d AS DATE)) * 100 + CAST("
    + _wk0_spark("CAST(d AS DATE)")
    + " AS INT) ELSE (year(CAST(d AS DATE)) - 1) * 100 + CAST("
    + _wk0_spark("make_date(year(CAST(d AS DATE)) - 1, 12, 31)")
    + " AS INT) END"
)
_YW_ISO_SPARK = (
    "year(date_add(CAST(d AS DATE), 3 - weekday(CAST(d AS DATE)))) * 100 "
    "+ weekofyear(CAST(d AS DATE))"
)

SPARK_SQL: "list[str]" = [
    # ---- temporal (func_unary.go / func_binary.go) ----
    f"CREATE OR REPLACE TEMPORARY FUNCTION sec_to_time(x DOUBLE) "
    f"RETURNS STRING RETURN {_SEC_TO_TIME_SPARK}",
    "CREATE OR REPLACE TEMPORARY FUNCTION time_to_sec(x STRING) "
    "RETURNS BIGINT RETURN "
    "CASE WHEN x IS NULL THEN NULL ELSE "
    "IF(startswith(x, '-'), -1, 1) * ("
    "CAST(split(regexp_replace(x, '^-', ''), ':')[0] AS BIGINT) * 3600 + "
    "CAST(split(regexp_replace(x, '^-', ''), ':')[1] AS BIGINT) * 60 + "
    "CAST(CAST(split(regexp_replace(x, '^-', ''), ':')[2] AS DOUBLE) AS BIGINT)) END",
    "CREATE OR REPLACE TEMPORARY FUNCTION period_add(p DOUBLE, n DOUBLE) "
    "RETURNS BIGINT RETURN "
    "CAST((CAST(p AS BIGINT) div 100) * 12 + CAST(p AS BIGINT) % 100 - 1 "
    "+ CAST(n AS BIGINT) AS BIGINT) div 12 * 100 "
    "+ ((CAST(p AS BIGINT) div 100) * 12 + CAST(p AS BIGINT) % 100 - 1 "
    "+ CAST(n AS BIGINT)) % 12 + 1",
    "CREATE OR REPLACE TEMPORARY FUNCTION period_diff(p1 DOUBLE, p2 DOUBLE) "
    "RETURNS BIGINT RETURN "
    "((CAST(p1 AS BIGINT) div 100) * 12 + CAST(p1 AS BIGINT) % 100) - "
    "((CAST(p2 AS BIGINT) div 100) * 12 + CAST(p2 AS BIGINT) % 100)",
    f"CREATE OR REPLACE TEMPORARY FUNCTION to_days(x STRING) RETURNS BIGINT "
    f"RETURN datediff(CAST(x AS DATE), DATE'1970-01-01') + {_DAYS0}",
    f"CREATE OR REPLACE TEMPORARY FUNCTION from_days(n DOUBLE) RETURNS DATE "
    f"RETURN date_add(DATE'1970-01-01', CAST(n - {_DAYS0} AS INT))",
    f"CREATE OR REPLACE TEMPORARY FUNCTION week(d STRING) RETURNS INT "
    f"RETURN CAST(({_WEEK0_SPARK}) AS INT)",
    # mode-parameterized WEEK: modes 1/3 are the ISO-adjacent family the
    # BVT corpus uses; other modes fall back to mode 0's Sunday weeks
    "CREATE OR REPLACE TEMPORARY FUNCTION mo_week2(d STRING, m INT) "
    "RETURNS INT RETURN CASE "
    "WHEN m IN (1, 3) THEN weekofyear(CAST(d AS DATE)) "
    f"ELSE CAST(({_WEEK0_SPARK}) AS INT) END",
    f"CREATE OR REPLACE TEMPORARY FUNCTION yearweek(d STRING) RETURNS BIGINT "
    f"RETURN {_YW0_SPARK}",
    # mode-parameterized YEARWEEK: 1/3 → ISO, everything else (incl. the
    # default 0 and its WeekYear twin 2) → the mode-0 borrow formula
    f"CREATE OR REPLACE TEMPORARY FUNCTION mo_yearweek2(d STRING, m INT) "
    f"RETURNS BIGINT RETURN CASE WHEN m IN (1, 3) THEN {_YW_ISO_SPARK} "
    f"ELSE {_YW0_SPARK} END",
    "CREATE OR REPLACE TEMPORARY FUNCTION makedate(y DOUBLE, n DOUBLE) "
    "RETURNS DATE RETURN CASE WHEN n >= 1 THEN "
    "date_add(make_date(CAST(y AS INT), 1, 1), CAST(n AS INT) - 1) END",
    "CREATE OR REPLACE TEMPORARY FUNCTION maketime(h DOUBLE, m DOUBLE, s DOUBLE) "
    "RETURNS STRING RETURN CASE WHEN h IS NULL OR m IS NULL OR s IS NULL "
    "OR m < 0 OR m > 59 OR s < 0 OR s > 59 THEN NULL ELSE concat("
    "CASE WHEN h < 0 THEN '-' ELSE '' END, "
    "lpad(CAST(CAST(abs(h) AS BIGINT) AS STRING), 2, '0'), ':', "
    "lpad(CAST(CAST(m AS INT) AS STRING), 2, '0'), ':', "
    "lpad(CAST(CAST(s AS INT) AS STRING), 2, '0')) END",
    # MICROSECOND reads the textual fraction so MySQL TIME strings beyond
    # 24 h ('272:59:59.999') work the same as datetimes (func_unary.go);
    # a negative TIME's microsecond carries the sign (time_precision_
    # comprehensive.sql: -12:34:56.123 → -123000)
    "CREATE OR REPLACE TEMPORARY FUNCTION microsecond(x STRING) RETURNS INT "
    "RETURN CASE WHEN x IS NULL THEN NULL ELSE "
    "IF(startswith(x, '-'), -1, 1) * COALESCE("
    "CAST(rpad(regexp_extract(x, '\\\\.([0-9]{1,6})', 1), 6, '0') AS INT), 0) END",
    # current-time family: emitted at SECOND precision on both engines so
    # the co-executed values compare equal; the dialect pads the optional
    # precision argument away (sub-second digits could never agree across
    # two engines anyway)
    "CREATE OR REPLACE TEMPORARY FUNCTION utc_time() RETURNS STRING "
    "RETURN date_format(to_utc_timestamp(now(), current_timezone()), 'HH:mm:ss')",
    "CREATE OR REPLACE TEMPORARY FUNCTION utc_date() RETURNS DATE "
    "RETURN to_date(to_utc_timestamp(now(), current_timezone()))",
    "CREATE OR REPLACE TEMPORARY FUNCTION utc_timestamp() RETURNS STRING "
    "RETURN date_format(to_utc_timestamp(now(), current_timezone()), "
    "'yyyy-MM-dd HH:mm:ss')",
    "CREATE OR REPLACE TEMPORARY FUNCTION curtime() RETURNS STRING "
    "RETURN date_format(now(), 'HH:mm:ss')",
    # MO_LOG_DATE (func_builtin.go:1278): first d{1,4}/d{1,2}/d{1,2} run in
    # the text, parsed %Y/%m/%d, NULL when absent/invalid
    "CREATE OR REPLACE TEMPORARY FUNCTION mo_log_date(x STRING) RETURNS DATE "
    "RETURN try_to_date(regexp_extract(x, "
    "'([0-9]{1,4}/[0-9]{1,2}/[0-9]{1,2})', 1), 'y/M/d')",
    # ---- string / misc ----
    "CREATE OR REPLACE TEMPORARY FUNCTION strcmp(a STRING, b STRING) "
    "RETURNS INT RETURN CASE WHEN a IS NULL OR b IS NULL THEN NULL "
    "WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END",
    # FORMAT(x, d): thousands separators, d fractional digits clamped to
    # [0, 30] (func_binary.go format); the 3-arg locale form drops the
    # locale in the dialect (en_US rendering).  STRING x converts by its
    # NUMERIC PREFIX like MySQL ('-.12334.2' → -0.12334 → '-0.12')
    # exact DECIMAL paths first: format over a 38-digit decimal must keep
    # every digit (double round-trips print trailing garbage zeros)
    "CREATE OR REPLACE TEMPORARY FUNCTION format(x STRING, d STRING) "
    "RETURNS STRING RETURN CASE WHEN x IS NULL THEN NULL "
    "WHEN try_cast(x AS DECIMAL(38,9)) IS NOT NULL THEN "
    "format_number(try_cast(x AS DECIMAL(38,9)), "
    "CAST(LEAST(30, GREATEST(0, COALESCE(try_cast(d AS INT), 0))) AS INT)) "
    "WHEN try_cast(x AS DECIMAL(38,0)) IS NOT NULL THEN "
    "format_number(try_cast(x AS DECIMAL(38,0)), "
    "CAST(LEAST(30, GREATEST(0, COALESCE(try_cast(d AS INT), 0))) AS INT)) "
    "ELSE format_number(COALESCE(try_cast(x AS DOUBLE), "
    "try_cast(regexp_extract(x, "
    "'^[ \\\\t]*[+-]?([0-9]+(\\\\.[0-9]*)?|\\\\.[0-9]+)([eE][+-]?[0-9]+)?', 0) "
    "AS DOUBLE), 0.0D), "
    "CAST(LEAST(30, GREATEST(0, COALESCE(try_cast(d AS INT), 0))) AS INT)) END",
    "CREATE OR REPLACE TEMPORARY FUNCTION empty(x STRING) RETURNS BOOLEAN "
    "RETURN CASE WHEN x IS NULL THEN NULL ELSE char_length(x) = 0 END",
    "CREATE OR REPLACE TEMPORARY FUNCTION name_const(n STRING, v STRING) "
    "RETURNS STRING RETURN v",
    # SLEEP(n): the replay answers 0 immediately — wall-clock pauses are a
    # tester-side pacing aid, not data semantics
    "CREATE OR REPLACE TEMPORARY FUNCTION sleep(x DOUBLE) RETURNS INT RETURN 0",
    # ---- inet / uuid (func_binary.go inet_aton…, types/uuid.go) ----
    "CREATE OR REPLACE TEMPORARY FUNCTION inet_aton(ip STRING) RETURNS BIGINT "
    "RETURN CASE WHEN ip rlike "
    "'^[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}\\\\.[0-9]{1,3}$' THEN "
    "CAST(split(ip, '\\\\.')[0] AS BIGINT) * 16777216 + "
    "CAST(split(ip, '\\\\.')[1] AS BIGINT) * 65536 + "
    "CAST(split(ip, '\\\\.')[2] AS BIGINT) * 256 + "
    "CAST(split(ip, '\\\\.')[3] AS BIGINT) END",
    "CREATE OR REPLACE TEMPORARY FUNCTION inet_ntoa(n BIGINT) RETURNS STRING "
    "RETURN CASE WHEN n IS NULL THEN NULL ELSE concat_ws('.', "
    "CAST(n div 16777216 % 256 AS STRING), "
    "CAST(n div 65536 % 256 AS STRING), "
    "CAST(n div 256 % 256 AS STRING), CAST(n % 256 AS STRING)) END",
    "CREATE OR REPLACE TEMPORARY FUNCTION is_ipv4(s STRING) RETURNS BOOLEAN "
    "RETURN CASE WHEN s IS NULL THEN NULL ELSE s rlike "
    "'^(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    "(\\\\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}$' END",
    # braced '{uuid}' and dashless 32-hex forms are accepted like MySQL
    "CREATE OR REPLACE TEMPORARY FUNCTION is_uuid(s STRING) RETURNS BOOLEAN "
    "RETURN CASE WHEN s IS NULL THEN NULL ELSE "
    "regexp_replace(s, '[{}-]', '') rlike '^[0-9a-fA-F]{32}$' "
    "AND (s rlike '^[{]?[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}[}]?$' OR s rlike '^[0-9a-fA-F]{32}$') END",
    "CREATE OR REPLACE TEMPORARY FUNCTION uuid_to_bin(u STRING) "
    "RETURNS BINARY RETURN unhex(regexp_replace(u, '[{}-]', ''))",
    "CREATE OR REPLACE TEMPORARY FUNCTION bin_to_uuid(b BINARY) "
    "RETURNS STRING RETURN CASE WHEN b IS NULL THEN NULL ELSE concat_ws('-', "
    "substring(lower(hex(b)), 1, 8), substring(lower(hex(b)), 9, 4), "
    "substring(lower(hex(b)), 13, 4), substring(lower(hex(b)), 17, 4), "
    "substring(lower(hex(b)), 21, 12)) END",
]

_SEC_TO_TIME_DUCK = (
    "CASE WHEN x IS NULL THEN NULL ELSE "
    "(CASE WHEN x < 0 THEN '-' ELSE '' END) || "
    "lpad(CAST(abs(CAST(x AS BIGINT)) // 3600 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST((abs(CAST(x AS BIGINT)) % 3600) // 60 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(abs(CAST(x AS BIGINT)) % 60 AS VARCHAR), 2, '0') END"
)

_WEEK0_DUCK = (
    "CASE WHEN d IS NULL THEN NULL ELSE "
    "FLOOR((dayofyear(CAST(d AS DATE)) - 1 "
    "+ dayofweek(date_trunc('year', CAST(d AS DATE)))) / 7) "
    "+ (CASE WHEN dayofweek(date_trunc('year', CAST(d AS DATE))) = 0 "
    "THEN 1 ELSE 0 END) END"
)  # DuckDB dayofweek: Sunday = 0 (MySQL's DAYOFWEEK Sunday = 1)


def _wk0_duck(e: str) -> str:
    """Mode-0 week number of DATE expression ``e`` — DuckDB rendering of
    _wk0_spark (dayofweek is Sunday=0 here)."""
    return (
        f"(FLOOR((dayofyear({e}) - 1 + dayofweek(date_trunc('year', {e}))) / 7)"
        f" + (CASE WHEN dayofweek(date_trunc('year', {e})) = 0 THEN 1 ELSE 0 END))"
    )


_YW0_DUCK = (
    "CASE WHEN d IS NULL THEN NULL WHEN "
    + _wk0_duck("CAST(d AS DATE)")
    + " >= 1 THEN year(CAST(d AS DATE)) * 100 + CAST("
    + _wk0_duck("CAST(d AS DATE)")
    + " AS INT) ELSE (year(CAST(d AS DATE)) - 1) * 100 + CAST("
    + _wk0_duck("make_date(year(CAST(d AS DATE)) - 1, 12, 31)")
    + " AS INT) END"
)
_YW_ISO_DUCK = (
    "isoyear(CAST(d AS DATE)) * 100 + weekofyear(CAST(d AS DATE))"
)

DUCK_SQL: "list[str]" = [
    f"CREATE OR REPLACE MACRO sec_to_time(x) AS ({_SEC_TO_TIME_DUCK})",
    "CREATE OR REPLACE MACRO time_to_sec(x) AS ("
    "CASE WHEN x IS NULL THEN NULL ELSE "
    "(CASE WHEN x LIKE '-%' THEN -1 ELSE 1 END) * ("
    "CAST(split_part(ltrim(x, '-'), ':', 1) AS BIGINT) * 3600 + "
    "CAST(split_part(ltrim(x, '-'), ':', 2) AS BIGINT) * 60 + "
    "CAST(CAST(split_part(ltrim(x, '-'), ':', 3) AS DOUBLE) AS BIGINT)) END)",
    "CREATE OR REPLACE MACRO period_add(p, n) AS ("
    "((CAST(p AS BIGINT) // 100) * 12 + CAST(p AS BIGINT) % 100 - 1 "
    "+ CAST(n AS BIGINT)) // 12 * 100 "
    "+ ((CAST(p AS BIGINT) // 100) * 12 + CAST(p AS BIGINT) % 100 - 1 "
    "+ CAST(n AS BIGINT)) % 12 + 1)",
    "CREATE OR REPLACE MACRO period_diff(p1, p2) AS ("
    "((CAST(p1 AS BIGINT) // 100) * 12 + CAST(p1 AS BIGINT) % 100) - "
    "((CAST(p2 AS BIGINT) // 100) * 12 + CAST(p2 AS BIGINT) % 100))",
    # mo_ name: DuckDB lowers `n * INTERVAL 1 DAY` through its own
    # to_days(), which a same-named macro would shadow
    f"CREATE OR REPLACE MACRO mo_to_days(x) AS "
    f"(datediff('day', DATE'1970-01-01', CAST(x AS DATE)) + {_DAYS0})",
    f"CREATE OR REPLACE MACRO from_days(n) AS "
    f"(DATE'1970-01-01' + CAST(CAST(n AS BIGINT) - {_DAYS0} AS INT))",
    f"CREATE OR REPLACE MACRO mo_week(d) AS (CAST(({_WEEK0_DUCK}) AS INT))",
    f"CREATE OR REPLACE MACRO mo_week2(d, m) AS (CASE "
    f"WHEN m IN (1, 3) THEN weekofyear(CAST(d AS DATE)) "
    f"ELSE CAST(({_WEEK0_DUCK}) AS INT) END)",
    f"CREATE OR REPLACE MACRO mo_yearweek(d) AS ({_YW0_DUCK})",
    f"CREATE OR REPLACE MACRO mo_yearweek2(d, m) AS (CASE "
    f"WHEN m IN (1, 3) THEN {_YW_ISO_DUCK} ELSE {_YW0_DUCK} END)",
    "CREATE OR REPLACE MACRO makedate(y, n) AS (CASE WHEN n >= 1 THEN "
    "make_date(CAST(y AS INT), 1, 1) + CAST(CAST(n AS BIGINT) - 1 AS INT) END)",
    "CREATE OR REPLACE MACRO maketime(h, m, s) AS ("
    "CASE WHEN h IS NULL OR m IS NULL OR s IS NULL "
    "OR m < 0 OR m > 59 OR s < 0 OR s > 59 THEN NULL ELSE "
    "(CASE WHEN h < 0 THEN '-' ELSE '' END) || "
    "lpad(CAST(CAST(abs(h) AS BIGINT) AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(CAST(m AS INT) AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(CAST(s AS INT) AS VARCHAR), 2, '0') END)",
    "CREATE OR REPLACE MACRO mo_microsecond(x) AS ("
    "CASE WHEN x IS NULL THEN NULL ELSE "
    "(CASE WHEN CAST(x AS VARCHAR) LIKE '-%' THEN -1 ELSE 1 END) * COALESCE("
    "CAST(rpad(regexp_extract(CAST(x AS VARCHAR), '\\.([0-9]{1,6})', 1), "
    "6, '0') AS INT), 0) END)",
    "CREATE OR REPLACE MACRO utc_time() AS "
    "(strftime(now() AT TIME ZONE 'UTC', '%H:%M:%S'))",
    "CREATE OR REPLACE MACRO utc_date() AS "
    "(CAST(now() AT TIME ZONE 'UTC' AS DATE))",
    "CREATE OR REPLACE MACRO utc_timestamp() AS "
    "(strftime(now() AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S'))",
    "CREATE OR REPLACE MACRO curtime() AS (strftime(now(), '%H:%M:%S'))",
    "CREATE OR REPLACE MACRO mo_log_date(x) AS (try_strptime("
    "regexp_extract(x, '([0-9]{1,4}/[0-9]{1,2}/[0-9]{1,2})', 1), "
    "'%Y/%m/%d')::DATE)",
    "CREATE OR REPLACE MACRO strcmp(a, b) AS ("
    "CASE WHEN a IS NULL OR b IS NULL THEN NULL "
    "WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END)",
    "CREATE OR REPLACE MACRO empty(x) AS ("
    "CASE WHEN x IS NULL THEN NULL ELSE length(x) = 0 END)",
    "CREATE OR REPLACE MACRO name_const(n, v) AS (v)",
    "CREATE OR REPLACE MACRO sleep(x) AS (0)",
    "CREATE OR REPLACE MACRO inet_aton(ip) AS (CASE WHEN "
    "regexp_matches(ip, '^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$') THEN "
    "CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216 + "
    "CAST(split_part(ip, '.', 2) AS BIGINT) * 65536 + "
    "CAST(split_part(ip, '.', 3) AS BIGINT) * 256 + "
    "CAST(split_part(ip, '.', 4) AS BIGINT) END)",
    "CREATE OR REPLACE MACRO inet_ntoa(n) AS ("
    "CASE WHEN n IS NULL THEN NULL ELSE "
    "CAST(CAST(n AS BIGINT) // 16777216 % 256 AS VARCHAR) || '.' || "
    "CAST(CAST(n AS BIGINT) // 65536 % 256 AS VARCHAR) || '.' || "
    "CAST(CAST(n AS BIGINT) // 256 % 256 AS VARCHAR) || '.' || "
    "CAST(CAST(n AS BIGINT) % 256 AS VARCHAR) END)",
    "CREATE OR REPLACE MACRO is_ipv4(s) AS ("
    "CASE WHEN s IS NULL THEN NULL ELSE regexp_matches(s, "
    "'^(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    "(\\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}$') END)",
    "CREATE OR REPLACE MACRO is_uuid(s) AS ("
    "CASE WHEN s IS NULL THEN NULL ELSE regexp_matches(s, "
    "'^(\\{[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{12}\\}|[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}|[0-9a-fA-F]{32})$') END)",
    "CREATE OR REPLACE MACRO uuid_to_bin(u) AS "
    "(unhex(replace(replace(replace(u, '-', ''), '{', ''), '}', '')))",
    "CREATE OR REPLACE MACRO bin_to_uuid(b) AS ("
    "CASE WHEN b IS NULL THEN NULL ELSE "
    "substring(lower(hex(b)), 1, 8) || '-' || "
    "substring(lower(hex(b)), 9, 4) || '-' || "
    "substring(lower(hex(b)), 13, 4) || '-' || "
    "substring(lower(hex(b)), 17, 4) || '-' || "
    "substring(lower(hex(b)), 21, 12) END)",
]


# --------------------------------------------------------------------------
# Tier 2: shared plain-Python scalar kernels.
# --------------------------------------------------------------------------

def _k_is_ipv6(s):
    if s is None:
        return None
    try:
        ipaddress.IPv6Address(s)
        return True
    except ValueError:
        return False


def _k_inet6_aton(s):
    """INET6_ATON: 16-byte IPv6 packed form, 4-byte for dotted IPv4
    (func_binary.go inet6_aton); NULL on invalid."""
    if s is None:
        return None
    try:
        return ipaddress.ip_address(s).packed
    except ValueError:
        return None


def _k_inet6_ntoa(b):
    if b is None:
        return None
    try:
        if len(b) == 4:
            return str(ipaddress.IPv4Address(bytes(b)))
        if len(b) == 16:
            return str(ipaddress.IPv6Address(bytes(b)))
    except ValueError:
        pass
    return None


def _k_is_ipv4_compat(b):
    # ::a.b.c.d — first 12 bytes zero (func_binary.go is_ipv4_compat)
    if b is None:
        return None
    b = bytes(b)
    return len(b) == 16 and b[:12] == b"\x00" * 12 and b[12:16] != b"\x00\x00\x00\x00"


def _k_is_ipv4_mapped(b):
    if b is None:
        return None
    b = bytes(b)
    return len(b) == 16 and b[:10] == b"\x00" * 10 and b[10:12] == b"\xff\xff"


def _k_compress(s):
    """MySQL COMPRESS layout: 4-byte LE uncompressed length + zlib stream;
    '' compresses to '' (func_unary.go:5920)."""
    if s is None:
        return None
    raw = s.encode() if isinstance(s, str) else bytes(s)
    if not raw:
        return b""
    return len(raw).to_bytes(4, "little") + zlib.compress(raw)


def _k_uncompress(b):
    if b is None:
        return None
    b = bytes(b)
    if not b:
        return ""
    try:
        return zlib.decompress(b[4:]).decode(errors="replace")
    except zlib.error:
        return None


def _k_uncompressed_length(b):
    if b is None:
        return None
    b = bytes(b)
    if not b:
        return 0
    return int.from_bytes(b[:4], "little")


# ---- MySQL TIME-string arithmetic (reference types/time.go: TIME is a
# signed duration, hours may exceed 24) ----

_TIME_RE = re.compile(
    r"^\s*(-)?(?:(\d+)[ ])?(\d{1,3}):(\d{1,2})(?::(\d{1,2}(?:\.\d+)?))?\s*$"
)
_DT_RE = re.compile(
    r"^\s*(\d{4})-(\d{1,2})-(\d{1,2})[ T]"
    r"(\d{1,2}):(\d{1,2}):(\d{1,2}(?:\.\d+)?)\s*$"
)


def _time_secs(s) -> "float | None":
    """Parse 'HH:MM:SS[.f]', 'D HH:MM:SS', '-…' to signed seconds."""
    if s is None:
        return None
    m = _TIME_RE.match(str(s))
    if not m:
        return None
    sign = -1 if m.group(1) else 1
    days = int(m.group(2) or 0)
    sec = float(m.group(5) or 0)
    return sign * (days * 86400 + int(m.group(3)) * 3600 + int(m.group(4)) * 60 + sec)


def _render_time(total: float, frac: bool) -> str:
    sign = "-" if total < 0 else ""
    total = abs(total)
    h = int(total // 3600)
    mi = int((total % 3600) // 60)
    s = total % 60
    if frac:
        body = f"{sign}{h:02d}:{mi:02d}:{s:09.6f}"
    else:
        body = f"{sign}{h:02d}:{mi:02d}:{int(round(s)):02d}"
    return body


def _dt_parse(s) -> "object | None":
    """Parse a datetime string to a naive datetime. Pure calendar
    arithmetic (timedelta), never epoch conversion: .timestamp()/
    fromtimestamp() interpret naive values in the HOST timezone, so pairs
    straddling a DST transition would drift ±1h vs MySQL."""
    import datetime as _dt

    m = _DT_RE.match(str(s))
    if not m:
        d = re.match(r"^\s*(\d{4})-(\d{1,2})-(\d{1,2})\s*$", str(s))
        if not d:
            return None
        try:
            return _dt.datetime(
                int(d.group(1)), int(d.group(2)), int(d.group(3))
            )
        except ValueError:
            return None
    try:
        base = _dt.datetime(
            int(m.group(1)), int(m.group(2)), int(m.group(3)),
            int(m.group(4)), int(m.group(5)),
        )
    except ValueError:
        return None
    return base + _dt.timedelta(seconds=float(m.group(6)))


def _k_timediff(a, b):
    """TIMEDIFF: both datetimes → TIME string of the difference; both TIME
    strings → their difference; mixed → NULL (func_binary.go timediff)."""
    if a is None or b is None:
        return None
    da, db = _dt_parse(a), _dt_parse(b)
    if da is not None and db is not None:
        d = (da - db).total_seconds()
        return _render_time(d, abs(d - round(d)) > 1e-9)
    ta, tb = _time_secs(a), _time_secs(b)
    if ta is not None and tb is not None:
        d = ta - tb
        return _render_time(d, abs(d - round(d)) > 1e-9)
    return None


def _addsub_time(x, t, sign: int):
    if x is None or t is None:
        return None
    tsec = _time_secs(t)
    if tsec is None:
        return None
    dx = _dt_parse(x)
    if dx is not None:
        import datetime as _dt

        res = dx + _dt.timedelta(seconds=sign * tsec)
        out = res.strftime("%Y-%m-%d %H:%M:%S")
        if res.microsecond:
            out += f".{res.microsecond:06d}"
        return out
    xs = _time_secs(x)
    if xs is None:
        return None
    d = xs + sign * tsec
    return _render_time(d, abs(d - round(d)) > 1e-9)


def _k_addtime(x, t):
    return _addsub_time(x, t, 1)


def _k_subtime(x, t):
    return _addsub_time(x, t, -1)


_TIME_FMT_MAP = {
    "%H": lambda h, mi, s, us, neg: f"{h:02d}",
    "%h": lambda h, mi, s, us, neg: f"{(h % 12) or 12:02d}",
    "%I": lambda h, mi, s, us, neg: f"{(h % 12) or 12:02d}",
    "%i": lambda h, mi, s, us, neg: f"{mi:02d}",
    "%S": lambda h, mi, s, us, neg: f"{s:02d}",
    "%s": lambda h, mi, s, us, neg: f"{s:02d}",
    "%f": lambda h, mi, s, us, neg: f"{us:06d}",
    "%k": lambda h, mi, s, us, neg: str(h),
    "%l": lambda h, mi, s, us, neg: str((h % 12) or 12),
    "%p": lambda h, mi, s, us, neg: "AM" if (h % 24) < 12 else "PM",
    "%r": lambda h, mi, s, us, neg:
        f"{(h % 12) or 12:02d}:{mi:02d}:{s:02d} "
        + ("AM" if (h % 24) < 12 else "PM"),
    "%T": lambda h, mi, s, us, neg: f"{h:02d}:{mi:02d}:{s:02d}",
}


def _k_time_format(x, fmt):
    """TIME_FORMAT(time, fmt): the %-subset meaningful for TIME values
    (func_binary.go time_format); date specifiers render zeros like MySQL."""
    if x is None or fmt is None:
        return None
    total = _time_secs(x)
    if total is None:
        return None
    neg = total < 0
    total = abs(total)
    us = int(round((total - int(total)) * 1e6))
    t = int(total)
    h, mi, s = t // 3600, (t % 3600) // 60, t % 60
    out, i = [], 0
    while i < len(fmt):
        tok = fmt[i:i + 2]
        if tok in _TIME_FMT_MAP:
            v = _TIME_FMT_MAP[tok](h, mi, s, us, neg)
            if neg and tok in ("%H", "%k") and not out:
                v = "-" + v
            out.append(v)
            i += 2
        elif tok in ("%Y", "%y"):
            out.append("0000" if tok == "%Y" else "00")
            i += 2
        elif tok in ("%M", "%b", "%a", "%W"):
            i += 2  # month/day names render empty for a pure TIME
        elif tok in ("%m", "%c", "%d", "%e", "%j"):
            out.append("00")
            i += 2
        elif tok.startswith("%") and len(tok) == 2:
            out.append(tok[1])
            i += 2
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


# GET_FORMAT(type, locale) — static lookup (func_binary.go get_format)
_GET_FORMAT = {
    ("date", "usa"): "%m.%d.%Y", ("date", "jis"): "%Y-%m-%d",
    ("date", "iso"): "%Y-%m-%d", ("date", "eur"): "%d.%m.%Y",
    ("date", "internal"): "%Y%m%d",
    ("datetime", "usa"): "%Y-%m-%d %H.%i.%s",
    ("datetime", "jis"): "%Y-%m-%d %H:%i:%s",
    ("datetime", "iso"): "%Y-%m-%d %H:%i:%s",
    ("datetime", "eur"): "%Y-%m-%d %H.%i.%s",
    ("datetime", "internal"): "%Y%m%d%H%i%s",
    ("time", "usa"): "%h:%i:%s %p", ("time", "jis"): "%H:%i:%s",
    ("time", "iso"): "%H:%i:%s", ("time", "eur"): "%H.%i.%s",
    ("time", "internal"): "%H%i%s",
}


def _k_get_format(t, loc):
    if t is None or loc is None:
        return None
    return _GET_FORMAT.get((str(t).strip().lower(), str(loc).strip().lower()))


def _k_format(x, d):
    """FORMAT(x, d) DuckDB twin (its printf lacks %,f for floats); Python's
    ',.Nf' rounds half-even like Spark's format_number, so the two replay
    engines render identically.  String x converts by its numeric prefix
    like MySQL."""
    if x is None:
        return None
    import decimal as _d

    try:
        nd = max(0, min(30, int(float(d)) if d is not None else 0))
    except (TypeError, ValueError):
        nd = 0
    try:
        with _d.localcontext() as ctx:
            ctx.prec = 80
            ctx.rounding = _d.ROUND_HALF_UP  # format_number's decimal mode
            v = _d.Decimal(str(x))
            return f"{v:,.{nd}f}"
    except (_d.InvalidOperation, ValueError):
        pass
    m = re.match(
        r"\s*[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]+)(?:[eE][+-]?[0-9]+)?",
        str(x),
    )
    v = float(m.group(0)) if m and m.group(0).strip() else 0.0
    return f"{v:,.{nd}f}"


# ---- vector family: values are the reference's '[x, y, z]' text rendering
# (vecf32/vecf64 columns in the SQL-text surface; the DataFrame tier keeps
# native arrays).  Reference: pkg/sql/plan/function/func_binary.go
# (l1Norm…), types/array.go for the bracket rendering. ----

def _vec(v) -> "list[float] | None":
    if v is None:
        return None
    if isinstance(v, (list, tuple)):
        return [float(x) for x in v]
    s = str(v).strip()
    if not (s.startswith("[") and s.endswith("]")):
        return None
    body = s[1:-1].strip()
    if not body:
        return []
    try:
        return [float(x) for x in body.split(",")]
    except ValueError:
        return None


def _fmt_go(x, bits: int) -> str:
    """strconv.FormatFloat(x, 'f', -1, bits) — the reference's vector
    element rendering (types/array.go ArrayToString): shortest decimal
    digits that round-trip at the element width, ALWAYS fixed notation
    (a vecf32 overflow row prints '47893604000000000000000000000000000000',
    not '4.78936e+37')."""
    import numpy as np

    v = np.float32(x) if bits == 32 else np.float64(x)
    if np.isnan(v):
        return "NaN"
    if np.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    return np.format_float_positional(v, unique=True, trim="-")


def render_vec(vals, bits: int = 32) -> str:
    return "[" + ", ".join(_fmt_go(v, bits) for v in vals) + "]"


def _snap(v, bits):
    """Parse a text vector and snap every element to the declared width —
    reproduces the reference's stored float32/float64 bits exactly (the
    shortest-repr text rendering round-trips)."""
    import numpy as np

    a = _vec(v)
    if a is None:
        return None
    t = np.float32 if int(bits) == 32 else np.float64
    return [t(x) for x in a]


def _np_t(bits):
    import numpy as np

    return np.float32 if int(bits) == 32 else np.float64


def _dim_check(a, b):
    if len(a) != len(b):
        raise ValueError("vector dimensions are not the same")


# ---- exact moarray semantics, element-typed ----
# Accumulations run in the ELEMENT type T (float32 for vecf32) with the
# reference's exact loop structure (unroll groupings change f32 rounding),
# then widen to float64 — vectorindex/metric/distance_func.go,
# vectorize/moarray/external.go.

def _bits2(bits):
    """Decode the packed per-side widths: 32/64 → both sides; LLRR
    (3264, 6432) → left/right widths for cross-width calls."""
    b = int(bits)
    if b in (32, 64):
        return b, b
    return b // 100, b % 100


def _kb_inner_product(x, y, bits):
    """moarray.InnerProduct at the .result vintage: blas32/64 Dot —
    SEQUENTIAL accumulation in T, NEGATED, widened to float64 (verified
    bit-exact against vector_func.result: -1.9714267253875732 for the f32
    row the f64 loop would print as …66506)."""
    lb, rb = _bits2(bits)
    a, b = _snap(x, lb), _snap(y, rb)
    if a is None or b is None:
        return None
    _dim_check(a, b)
    t = _np_t(min(lb, rb))
    s = t(0.0)
    for p, q in zip(a, b):
        s = s + t(p) * t(q)
    return -float(s)


def _kb_l2_distance_sq(x, y, bits):
    """L2DistanceSq: float64 accumulation of squared diffs over the
    width-snapped elements, result cast to T (gonum-era moarray)."""
    lb, rb = _bits2(bits)
    a, b = _snap(x, lb), _snap(y, rb)
    if a is None or b is None:
        return None
    _dim_check(a, b)
    s = 0.0
    for p, q in zip(a, b):
        d = float(p) - float(q)
        s += d * d
    return float(_np_t(min(lb, rb))(s))


def _kb_l2_distance(x, y, bits):
    """moarray.L2Distance: float64 sqrt of the float64 sum of squares,
    result cast back to T."""
    lb, rb = _bits2(bits)
    a, b = _snap(x, lb), _snap(y, rb)
    if a is None or b is None:
        return None
    _dim_check(a, b)
    s = 0.0
    for p, q in zip(a, b):
        d = float(p) - float(q)
        s += d * d
    return float(_np_t(min(lb, rb))(s ** 0.5))


def _cos_core(x, y, bits):
    """CosineSimilarity/Distance shared math at the .result vintage
    (external.go:210 'gonums mat.Dot, mat.Norm' comment): dot and norms
    accumulated in FLOAT64 over the width-snapped elements; for a float32
    result type each norm's sqrt is ROUNDED TO FLOAT32 before the float64
    division (blas32.Nrm2 denominators).  Brute-forced 8/8 exact against
    vector_func.result including the cross-width rows."""
    lb, rb = _bits2(bits)
    a, b = _snap(x, lb), _snap(y, rb)
    if a is None or b is None:
        return None
    _dim_check(a, b)
    t = _np_t(min(lb, rb))
    dot = n1 = n2 = 0.0
    for p, q in zip(a, b):
        fp, fq = float(p), float(q)
        dot += fp * fq
        n1 += fp * fp
        n2 += fq * fq
    import numpy as np

    if t is np.float32:
        denom = float(np.float32(n1 ** 0.5)) * float(np.float32(n2 ** 0.5))
    else:
        denom = n1 ** 0.5 * n2 ** 0.5
    sim = None
    if denom != 0:
        sim = dot / denom
        sim = 1.0 if sim > 1.0 else (-1.0 if sim < -1.0 else sim)
    return denom, sim, t


def _kb_cosine_similarity(x, y, bits):
    """moarray.CosineSimilarity: result cast to T, widened, then the
    float32 ±1 snap (external.go:210 downcasting check)."""
    import numpy as np

    core = _cos_core(x, y, bits)
    if core is None:
        return None
    denom, sim, t = core
    if denom == 0:
        raise ValueError("cosine similarity: one of the vector is zero")
    cos = float(t(sim))
    f32 = np.float32(cos)
    if f32 == 1:
        return 1.0
    if f32 == -1:
        return -1.0
    return cos


def _kb_cosine_distance(x, y, bits):
    """CosineDistance: zero-magnitude → 1.0 (not an error);
    T(1 − similarity) widened."""
    core = _cos_core(x, y, bits)
    if core is None:
        return None
    denom, sim, t = core
    if denom == 0:
        return 1.0
    return float(t(1.0 - sim))


def _kb_summation(x, bits):
    """moarray.Summation: float64 accumulation over the T elements."""
    a = _snap(x, bits)
    if a is None:
        return None
    s = 0.0
    for v in a:
        s += float(v)
    return s


def _kb_l1_norm(x, bits):
    """moarray.L1Norm → blas Asum: |x| accumulated in T."""
    a = _snap(x, bits)
    if a is None:
        return None
    t = _np_t(bits)
    s = t(0.0)
    for v in a:
        s = s + abs(v)
    return float(s)


def _kb_l2_norm(x, bits):
    """moarray.L2Norm → blas Nrm2 (gonum scaled algorithm): overflow-safe
    scale/ssq loop in T, sqrt in float64, scaled back in T."""
    a = _snap(x, bits)
    if a is None:
        return None
    t = _np_t(bits)
    scale, ssq = t(0.0), t(1.0)
    nonzero = False
    for v in a:
        if v != 0:
            nonzero = True
            ax = abs(v)
            if scale < ax:
                r = scale / ax
                ssq = t(1.0) + ssq * r * r
                scale = ax
            else:
                r = ax / scale
                ssq = ssq + r * r
    if not nonzero:
        return 0.0
    return float(scale * t(float(ssq) ** 0.5))


def _kb_normalize_l2(x, bits):
    """moarray.NormalizeL2: norm = float64 Σv², elements T(v/norm);
    zero norm copies the input (external.go:262)."""
    a = _snap(x, bits)
    if a is None:
        return None
    ss = 0.0
    for v in a:
        ss += float(v) * float(v)
    norm = ss ** 0.5
    t = _np_t(bits)
    if norm == 0:
        return render_vec(a, int(bits))
    return render_vec([t(float(v) / norm) for v in a], int(bits))


def _kb_subvector(v, start, length, bits):
    """SUBVECTOR(vec, start[, len]) — 1-based, negative start counts from
    the end (func_binary.go subvector); len NULL/omitted → to the end."""
    a = _snap(v, bits)
    if a is None or start is None:
        return None
    st = int(start)
    if st > 0:
        i = st - 1
    elif st < 0:
        i = max(0, len(a) + st)
    else:
        return None
    sub = a[i:] if length is None else a[i:i + max(0, int(length))]
    return render_vec(sub, int(bits))


def _k_vec_math(v, op, bits):
    """Elementwise math over a vector column (func_unary.go AbsArray,
    func_builtin.go sqrt over arrays): abs keeps T; sqrt always renders
    float64 (moarray.Sqrt returns []float64) and rejects negatives."""
    a = _snap(v, int(bits))
    if a is None or op is None:
        return None
    if op == "abs":
        return render_vec([abs(x) for x in a], int(bits))
    if op == "sqrt":
        out = []
        for x in a:
            if float(x) < 0:
                raise ValueError("square root of negative number")
            out.append(float(x) ** 0.5)
        return render_vec(out, 64)
    raise ValueError(f"unsupported vector math op {op}")


def _k_vec_arith(x, y, opbits):
    """Elementwise vector arithmetic over the text rendering
    (vector_type.sql `c2 * 25`, `vec + vec`, `2 * vec`).  ``opbits`` packs
    '<op>:<left-bits>:<right-bits>' (legacy '<op>:<bits>' accepted) — each
    operand snaps at ITS declared width, computes at the wider.

    vec∘vec: elementwise in T with div-by-zero pre-check
    (moarray Add/Subtract/Multiply/Divide, external.go:30).
    vec∘scalar: moarray.ScalarOp (external.go:315) — the reference swaps
    operands so the VECTOR is always first (arithmetic.go
    plusFnVectorScalar); +/− add T(scalar), */÷ multiply by T(scale)
    where ÷ pre-inverts in float64."""
    if x is None or y is None or opbits is None:
        return None
    parts = opbits.split(":")
    op = parts[0]
    lb = int(parts[1] or 32)
    rb = int(parts[2]) if len(parts) > 2 and parts[2] else lb
    bits = max(lb, rb)
    t = _np_t(bits)
    a, b = _snap(x, lb), _snap(y, rb)
    if a is None and b is None:
        return None
    if a is None or b is None:
        # scalar side: ScalarOp semantics, vector always first
        vec = [t(v) for v in (b if a is None else a)]
        try:
            scalar = float(x if a is None else y)
        except (TypeError, ValueError):
            return None
        if op in ("+", "-"):
            sc = t(scalar)
            out = [(v + sc) if op == "+" else (v - sc) for v in vec]
        else:
            if op == "/":
                if scalar == 0:
                    raise ValueError("division by zero")
                scale = t(1.0 / scalar)
            else:
                scale = t(scalar)
            out = [v * scale for v in vec]
        return render_vec(out, bits)
    a = [t(v) for v in a]
    b = [t(v) for v in b]
    _dim_check(a, b)
    if op == "+":
        out = [p + q for p, q in zip(a, b)]
    elif op == "-":
        out = [p - q for p, q in zip(a, b)]
    elif op == "*":
        out = [p * q for p, q in zip(a, b)]
    else:
        if any(q == 0 for q in b):
            raise ValueError("division by zero")
        out = [p / q for p, q in zip(a, b)]
    return render_vec(out, bits)


def _k_vec_cast(v, bits):
    """CAST(x AS vecf32(n)) — validate + normalize the text rendering at
    the target width (moarray.Cast elementwise O(in[i]))."""
    a = _snap(v, int(bits))
    if a is None:
        return None
    return render_vec(a, int(bits))


# legacy 2-arg entry points = 64-bit semantics of the exact kernels
# (inner_product keeps the reference's NEGATED convention here too)

def _k_l1_norm(v):
    return _kb_l1_norm(v, 64)


def _k_l2_norm(v):
    return _kb_l2_norm(v, 64)


def _k_vector_dims(v):
    a = _vec(v)
    return None if a is None else len(a)


def _k_summation(v):
    return _kb_summation(v, 64)


def _k_inner_product(x, y):
    return _kb_inner_product(x, y, 64)


def _k_l2_distance(x, y):
    return _kb_l2_distance(x, y, 64)


def _k_l2_distance_sq(x, y):
    return _kb_l2_distance_sq(x, y, 64)


def _k_cosine_similarity(x, y):
    return _kb_cosine_similarity(x, y, 64)


def _k_cosine_distance(x, y):
    return _kb_cosine_distance(x, y, 64)


def _k_normalize_l2(v):
    return _kb_normalize_l2(v, 32)


def _k_subvector(v, start, length):
    return _kb_subvector(v, start, length, 32)


# ---- JSON family: reuse the kernels the DataFrame tier ships ----

def _k_json_extract_multi(doc, paths_packed):
    """JSON_EXTRACT with one or more paths (\\x1f-packed by the dialect):
    one path keeps the single-path kernel's semantics (wildcards included);
    several paths collect every hit into a JSON array, like MySQL
    (bytejson query semantics)."""
    from matrixone_spark.functions.json_fns import (
        _eval_json_path, _mysql_dumps, _parse_json_path,
        mysql_json_extract_str,
    )

    if doc is None or paths_packed is None:
        return None
    paths = str(paths_packed).split("\x1f")
    if len(paths) == 1:
        return mysql_json_extract_str(doc, paths[0])
    try:
        node = json.loads(doc)
    except (ValueError, TypeError):
        return None
    hits = []
    for p in paths:
        steps = _parse_json_path(p)
        if steps is None:
            raise ValueError(f"invalid json path {p!r}")
        hits.extend(_eval_json_path(node, steps))
    if not hits:
        return None
    return _mysql_dumps(hits)


def _k_json_type(j):
    from matrixone_spark.functions.json_fns import _loads_or_none

    if j is None:
        return None
    kind, _payload = jtag_parse(str(j))
    if kind is not None:
        return kind
    v = _loads_or_none(j)
    if v is None and str(j).strip() != "null":
        return None
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "BOOLEAN"
    if isinstance(v, int):
        return "INTEGER"
    if isinstance(v, float):
        return "DOUBLE"
    if isinstance(v, str):
        return "STRING"
    if isinstance(v, list):
        return "ARRAY"
    return "OBJECT"


def _k_json_contains_path(doc, mode, paths_packed):
    from matrixone_spark.functions.json_fns import _path_exists

    if doc is None or mode is None or paths_packed is None:
        return None
    try:
        d = json.loads(doc)
    except (ValueError, TypeError):
        return None
    paths = str(paths_packed).split("\x1f")
    hits = [_path_exists(d, p) for p in paths]
    return all(hits) if str(mode).lower() == "all" else any(hits)


def _k_json_overlaps(a, b):
    from matrixone_spark.functions.json_fns import _scalar_overlap

    if a is None or b is None:
        return None
    try:
        return bool(_scalar_overlap(json.loads(a), json.loads(b)))
    except (ValueError, TypeError):
        return None


def _k_json_pretty(d):
    if d is None:
        return None
    try:
        return json.dumps(json.loads(d), indent=2, ensure_ascii=False)
    except (ValueError, TypeError):
        return None


def _k_json_valid(d):
    if d is None:
        return None
    try:
        json.loads(d)
        return True
    except (ValueError, TypeError):
        return False


def _k_json_keys(d):
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if d is None:
        return None
    try:
        v = json.loads(d)
    except (ValueError, TypeError):
        return None
    if not isinstance(v, dict):
        return None
    return _mysql_dumps(list(v.keys()))


def _k_json_set(doc, path, value):
    from matrixone_spark.functions.json_fns import _walk_set, _mysql_dumps

    return _json_mut(doc, path, value, _walk_set, create=True, replace=True)


def _k_json_insert(doc, path, value):
    from matrixone_spark.functions.json_fns import _walk_set

    return _json_mut(doc, path, value, _walk_set, create=True, replace=False)


def _k_json_replace(doc, path, value):
    from matrixone_spark.functions.json_fns import _walk_set

    return _json_mut(doc, path, value, _walk_set, create=False, replace=True)


def _json_mut(doc, path, value, walk, *, create, replace):
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if doc is None or path is None:
        return None
    try:
        d = json.loads(doc)
    except (ValueError, TypeError):
        return None
    try:
        v = json.loads(value) if value is not None else None
    except (ValueError, TypeError):
        v = value  # raw string value (the dialect JSON-quotes literals)
    try:
        out = walk(d, path, v, create=create, replace=replace)
    except ValueError:
        return None
    return _mysql_dumps(out)


def _k_json_remove(doc, path):
    from matrixone_spark.functions.json_fns import _mysql_dumps, _paths_steps

    if doc is None or path is None:
        return None
    try:
        d = json.loads(doc)
    except (ValueError, TypeError):
        return None

    steps = _paths_steps(path)
    if not steps:
        return None

    def rm(node, ss):
        k = ss[0]
        if len(ss) == 1:
            if isinstance(node, dict) and isinstance(k, str):
                node.pop(k, None)
            elif isinstance(node, list) and isinstance(k, int) and 0 <= k < len(node):
                node.pop(k)
            return
        child = None
        if isinstance(node, dict) and isinstance(k, str):
            child = node.get(k)
        elif isinstance(node, list) and isinstance(k, int) and 0 <= k < len(node):
            child = node[k]
        if child is not None:
            rm(child, ss[1:])

    rm(d, steps)
    return _mysql_dumps(d)


def _k_json_merge_patch(a, b):
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if a is None or b is None:
        return None

    def merge(x, y):
        if isinstance(x, dict) and isinstance(y, dict):
            out = dict(x)
            for k, v in y.items():
                if v is None:
                    out.pop(k, None)
                else:
                    out[k] = merge(out.get(k), v) if isinstance(v, dict) else v
            return out
        return y

    try:
        return _mysql_dumps(merge(json.loads(a), json.loads(b)))
    except (ValueError, TypeError):
        return None


def _k_json_merge_preserve(a, b):
    from matrixone_spark.functions.json_fns import _merge_preserve, _mysql_dumps

    if a is None or b is None:
        return None
    try:
        return _mysql_dumps(_merge_preserve(json.loads(a), json.loads(b)))
    except (ValueError, TypeError):
        return None


# ---------------------------------------------------------------- typed JSON
# The reference's bytejson model (pkg/container/bytejson) keeps the SOURCE
# type of CAST(x AS JSON): binary family becomes an opaque BLOB/BIT scalar
# (base64 in json_unquote output, raw-byte payload in comparisons),
# temporals become DATE/TIME/DATETIME scalars with quoted text rendering,
# DECIMAL keeps its scale, ENUM/SET labels become plain JSON strings
# (func_convert_json.test/.result).  The replay encodes such scalars as a
# tagged text cell: "\x04KIND\x04payload" with the payload chosen so plain
# string comparison matches bytejson ordering (hex for byte payloads).

_JTAG = "\x04"


def _jtag(kind: str, payload: str) -> str:
    return f"{_JTAG}{kind}{_JTAG}{payload}"


def jtag_parse(s):
    """('KIND', payload) when s is a typed-JSON tag, else (None, None)."""
    if isinstance(s, str) and s.startswith(_JTAG):
        i = s.find(_JTAG, 1)
        if i > 1:
            return s[1:i], s[i + 1:]
    return None, None


def jtag_display(s):
    """The reference's raw JSON text rendering of a tagged scalar; None
    when s is not a tag (caller falls through to document handling)."""
    import base64 as _b64

    kind, payload = jtag_parse(s)
    if kind is None:
        return None
    if kind in ("BLOB", "BIT", "OPAQUE"):
        return '"' + _b64.b64encode(bytes.fromhex(payload)).decode() + '"'
    if kind in ("DATE", "TIME", "DATETIME"):
        return '"' + payload + '"'
    if kind == "STRING":
        return json.dumps(payload, ensure_ascii=False)
    return payload  # DECIMAL: bare scale-preserved numeric text


def _k_json_blob(hexs):
    if hexs is None:
        return None
    return _jtag("BLOB", str(hexs).lower())


def _k_json_bit(v, width):
    if v is None:
        return None
    try:
        iv, w = int(v), int(width or 1)
    except (TypeError, ValueError):
        return None
    nbytes = max(1, (w + 7) // 8)
    return _jtag("BIT", iv.to_bytes(nbytes, "big", signed=False).hex())


def _k_json_string(s):
    return None if s is None else _jtag("STRING", str(s))


def _k_json_decimal(s):
    if s is None:
        return None
    t = str(s).strip()
    return _jtag("DECIMAL", t[1:] if t.startswith("+") else t)


def _k_json_temporal(kind, text, scale):
    """DATE/TIME/DATETIME payloads in the reference's json rendering:
    DATE bare, TIME/DATETIME with full 6-digit microseconds."""
    if text is None:
        return None
    kind = str(kind).upper()
    t = str(text).strip()
    if kind == "DATE":
        return _jtag("DATE", t[:10])
    if kind == "TIME":
        m = re.match(r"^(-?)(\d+):(\d{1,2}):(\d{1,2})(?:\.(\d+))?$", t)
        if not m:
            return None
        frac = (m.group(5) or "").ljust(6, "0")[:6]
        return _jtag(
            "TIME",
            f"{m.group(1)}{int(m.group(2)):02d}:{int(m.group(3)):02d}:"
            f"{int(m.group(4)):02d}.{frac}",
        )
    m = re.match(
        r"^(\d{4}-\d{2}-\d{2})[ T](\d{1,2}):(\d{1,2}):(\d{1,2})(?:\.(\d+))?",
        t,
    )
    if not m:
        if re.match(r"^\d{4}-\d{2}-\d{2}$", t):
            m2 = (t, "0", "0", "0", None)
            return _jtag(
                "DATETIME", f"{t} 00:00:00.000000")
        return None
    frac = (m.group(5) or "").ljust(6, "0")[:6]
    return _jtag(
        "DATETIME",
        f"{m.group(1)} {int(m.group(2)):02d}:{int(m.group(3)):02d}:"
        f"{int(m.group(4)):02d}.{frac}",
    )


def _k_json_geo(ewkt):
    """Geometry → GeoJSON document with bytejson's sorted keys
    ({"coordinates": …, "type": …})."""
    if ewkt is None:
        return None
    try:
        from matrixone_spark.functions import geomlib as GL

        txt = str(ewkt)
        if txt.upper().startswith("SRID="):
            txt = txt.split(";", 1)[1]
        g = GL.parse_wkt(txt)
        doc = json.loads(GL.to_geojson(g))
    except Exception:  # noqa: BLE001 — unparseable geometry → SQL NULL
        return None

    def srt(v):
        if isinstance(v, dict):
            return {k: srt(v[k]) for k in sorted(v)}
        if isinstance(v, list):
            return [srt(x) for x in v]
        return v

    from matrixone_spark.functions.json_fns import _mysql_dumps

    return _mysql_dumps(srt(doc))


def _k_json_store(s):
    """Implicit store-cast into a JSON column: tagged scalars pass
    through, valid document text re-renders in bytejson style, anything
    else keeps its raw text (tainted data stays comparable)."""
    if s is None:
        return None
    if isinstance(s, (bytes, bytearray, memoryview)):
        return _jtag("BLOB", bytes(s).hex())
    t = str(s)
    if t.startswith(_JTAG):
        return t
    norm = _k_json_norm(t)
    return norm if norm is not None else t


def _k_json_unquote(s):
    """JSON_UNQUOTE with typed-scalar awareness: BLOB/BIT render base64,
    temporals/STRING render their payload text; a quoted JSON string
    decodes its escapes (\\uXXXX, \\t, …), raw control bytes the strict
    parser rejects fall back to quote-stripping; everything else is
    identity (MySQL semantics; func_json_unquote.sql)."""
    import base64 as _b64

    if s is None:
        return None
    t = str(s)
    kind, payload = jtag_parse(t)
    if kind is not None:
        if kind in ("BLOB", "BIT", "OPAQUE"):
            return _b64.b64encode(bytes.fromhex(payload)).decode()
        return payload
    if len(t) >= 2 and t.startswith('"') and t.endswith('"'):
        try:
            v = json.loads(t)
            if isinstance(v, str):
                return v
        except (ValueError, TypeError):
            pass
        return t[1:-1]
    return t


def _k_json_quote(s):
    if s is None:
        return None
    return json.dumps(str(s), ensure_ascii=False)


def _k_dec_mul(a, b, scale):
    """Decimal128 multiply at the reference's result scale
    (types/decimal.go:1331 — scale = clamp(max(12, s1, s2) ≤ s1+s2),
    exact 256-bit product rescaled down, half-away rounding).  Spark's
    decimal typing under allowPrecisionLoss=false NULLs these
    (dtype/decimal.test decimal18); the exact Python-decimal path renders
    the reference's fixed-scale text."""
    if a is None or b is None or scale is None:
        return None
    import decimal as _d

    with _d.localcontext() as ctx:
        ctx.prec = 100
        z = _d.Decimal(str(a)) * _d.Decimal(str(b))
        q = z.quantize(
            _d.Decimal(1).scaleb(-int(scale)), rounding=_d.ROUND_HALF_UP
        )
    if abs(int(q.scaleb(int(scale)))) >= (1 << 127):
        raise ValueError("Decimal128 Mul overflow")
    return format(q, "f")


def _k_unnest(doc, path, outer, colname):
    """MatrixOne UNNEST table function rows (function/unnest.go;
    ddl/json_type.result fixes the 7-column schema col/seq/key/path/
    index/value/this).  Containers matched by ``path`` expand one row per
    member; scalars expand to nothing (or one null row under OUTER)."""
    from matrixone_spark.functions.json_fns import (
        _eval_json_path, _mysql_dumps, _parse_json_path,
    )

    if doc is None:
        return None
    try:
        node = json.loads(doc)
    except (ValueError, TypeError):
        return None
    p = path or "$"
    steps = _parse_json_path(p)
    if steps is None:
        return None

    # matched (path-text, node) pairs; wildcard paths re-derive each
    # match's concrete path so the `path` column prints '$.a[1]' style
    def _paths(node_, steps_, base):
        if not steps_:
            return [(base, node_)]
        head, rest = steps_[0], steps_[1:]
        out = []
        if head[0] == "key" and isinstance(node_, dict) and head[1] in node_:
            out += _paths(node_[head[1]], rest, f"{base}.{head[1]}")
        elif head[0] == "key_wild" and isinstance(node_, dict):
            for k, v in node_.items():
                out += _paths(v, rest, f"{base}.{k}")
        elif head[0] == "idx" and isinstance(node_, list):
            from matrixone_spark.functions.json_fns import _resolve_idx

            i = _resolve_idx(head[1], len(node_))
            if 0 <= i < len(node_):
                out += _paths(node_[i], rest, f"{base}[{i}]")
        elif head[0] == "idx_wild" and isinstance(node_, list):
            for i, v in enumerate(node_):
                out += _paths(v, rest, f"{base}[{i}]")
        return out

    rows = []
    cname = colname or "UNNEST_DEFAULT"
    for mpath, target in _paths(node, steps, "$"):
        items = []
        if isinstance(target, dict):
            items = [
                (k, f"{mpath}.{k}", None, v) for k, v in target.items()
            ]
        elif isinstance(target, list):
            items = [
                (None, f"{mpath}[{i}]", i, v) for i, v in enumerate(target)
            ]
        elif outer:
            rows.append((cname, 0, None, mpath, None, None,
                         _mysql_dumps(target)))
            continue
        this = _mysql_dumps(target)
        for seq, (k, pth, idx, v) in enumerate(items):
            rows.append((
                cname, seq, k, pth,
                None if idx is None else str(idx),
                _mysql_dumps(v), this,
            ))
    return rows


def _k_json_norm(s):
    """Re-render a JSON text in the reference's bytejson style
    ('{"a": 1, "b": 2}' — space after ':' and ','); NULL on invalid."""
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if s is None:
        return None
    if isinstance(s, str) and s.startswith(_JTAG):
        return s  # typed scalar: already canonical
    try:
        return _mysql_dumps(json.loads(s))
    except (ValueError, TypeError):
        return None


def _k_json_norm_sorted(s):
    """Like mo_json_norm but with object keys sorted at every level —
    the reference's binary-JSON key order (JSON_OBJECTAGG output)."""
    from matrixone_spark.functions.json_fns import _mysql_dumps

    def srt(v):
        if isinstance(v, dict):
            return {k: srt(v[k]) for k in sorted(v)}
        if isinstance(v, list):
            return [srt(x) for x in v]
        return v

    if s is None:
        return None
    try:
        return _mysql_dumps(srt(json.loads(s)))
    except (ValueError, TypeError):
        return None


def _k_json_vals(obj_json):
    """Values of a JSON object, in field order, as a JSON array — the
    dialect lowers JSON_ARRAY(v1, v2 …) to
    mo_json_vals(to_json(struct(v1 AS _0, …))) so each value keeps its
    SQL type (array() would coerce to a common type)."""
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if obj_json is None:
        return None
    try:
        v = json.loads(obj_json)
    except (ValueError, TypeError):
        return None
    if not isinstance(v, dict):
        return None
    return _mysql_dumps(list(v.values()))


def _k_json_arr_from(packed):
    """JSON_ARRAYAGG terminal: \\x1e-joined '{"v": …}' wrappers (one per
    input row, NULLs included) → the reference's array rendering; empty
    aggregate → NULL like MySQL."""
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if packed is None or packed == "":
        return None
    vals = []
    for tok in str(packed).split("\x1e"):
        try:
            vals.append(json.loads(tok).get("v"))
        except (ValueError, TypeError, AttributeError):
            return None
    return _mysql_dumps(vals)


def _k_json_obj_from(packed):
    """JSON_OBJECTAGG terminal: \\x1e-joined '{"k": …, "v": …}' wrappers →
    object with SORTED keys (binary-JSON key order)."""
    from matrixone_spark.functions.json_fns import _mysql_dumps

    if packed is None or packed == "":
        return None
    out = {}
    for tok in str(packed).split("\x1e"):
        try:
            d = json.loads(tok)
            out[str(d.get("k"))] = d.get("v")
        except (ValueError, TypeError):
            return None
    return _mysql_dumps({k: out[k] for k in sorted(out)})


# registration tables: (name, kernel, arity, sql_type) where sql_type is
# (spark DDL type string, duckdb type string)
_T_STR = ("STRING", "VARCHAR")
_T_BOOL = ("BOOLEAN", "BOOLEAN")
_T_INT = ("INT", "INTEGER")
_T_LONG = ("BIGINT", "BIGINT")
_T_DOUBLE = ("DOUBLE", "DOUBLE")
_T_BIN = ("BINARY", "BLOB")

# DuckDB-only kernels (the Spark side has a better-than-Python path)
DUCK_ONLY_PYFUNCS: "list[tuple[str, object, list, tuple]]" = [
    ("mo_format", _k_format, [_T_DOUBLE, _T_INT], _T_STR),
]

PYFUNCS: "list[tuple[str, object, list, tuple]]" = [
    ("is_ipv6", _k_is_ipv6, [_T_STR], _T_BOOL),
    ("inet6_aton", _k_inet6_aton, [_T_STR], _T_BIN),
    ("inet6_ntoa", _k_inet6_ntoa, [_T_BIN], _T_STR),
    ("is_ipv4_compat", _k_is_ipv4_compat, [_T_BIN], _T_BOOL),
    ("is_ipv4_mapped", _k_is_ipv4_mapped, [_T_BIN], _T_BOOL),
    ("compress", _k_compress, [_T_STR], _T_BIN),
    ("uncompress", _k_uncompress, [_T_BIN], _T_STR),
    ("uncompressed_length", _k_uncompressed_length, [_T_BIN], _T_INT),
    ("timediff", _k_timediff, [_T_STR, _T_STR], _T_STR),
    ("addtime", _k_addtime, [_T_STR, _T_STR], _T_STR),
    ("subtime", _k_subtime, [_T_STR, _T_STR], _T_STR),
    # fractional seconds of a TIME duration string (unlike MySQL's
    # integer TIME_TO_SEC) — cross-scale TIME comparisons use it
    ("mo_time_secsf", _time_secs, [_T_STR], _T_DOUBLE),
    ("time_format", _k_time_format, [_T_STR, _T_STR], _T_STR),
    ("get_format", _k_get_format, [_T_STR, _T_STR], _T_STR),
    ("mo_vec_l1_norm", _k_l1_norm, [_T_STR], _T_DOUBLE),
    ("mo_vec_l2_norm", _k_l2_norm, [_T_STR], _T_DOUBLE),
    ("mo_vec_dims", _k_vector_dims, [_T_STR], _T_INT),
    ("mo_vec_summation", _k_summation, [_T_STR], _T_DOUBLE),
    ("mo_vec_inner_product", _k_inner_product, [_T_STR, _T_STR], _T_DOUBLE),
    ("mo_vec_l2_distance", _k_l2_distance, [_T_STR, _T_STR], _T_DOUBLE),
    ("mo_vec_l2_distance_sq", _k_l2_distance_sq, [_T_STR, _T_STR], _T_DOUBLE),
    ("mo_vec_cosine_similarity", _k_cosine_similarity, [_T_STR, _T_STR], _T_DOUBLE),
    ("mo_vec_cosine_distance", _k_cosine_distance, [_T_STR, _T_STR], _T_DOUBLE),
    ("mo_vec_normalize_l2", _k_normalize_l2, [_T_STR], _T_STR),
    ("mo_vec_subvector", _k_subvector, [_T_STR, _T_LONG, _T_LONG], _T_STR),
    ("mo_vec_cast", _k_vec_cast, [_T_STR, _T_INT], _T_STR),
    ("mo_vec_arith", _k_vec_arith, [_T_STR, _T_STR, _T_STR], _T_STR),
    # bits-aware exact tier: the replay's colmeta-driven rewrite passes the
    # declared element width so vecf32 columns get true float32 semantics
    ("mo_vecb_ip", _kb_inner_product, [_T_STR, _T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_cos_sim", _kb_cosine_similarity,
     [_T_STR, _T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_cos_dist", _kb_cosine_distance,
     [_T_STR, _T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_l2d", _kb_l2_distance, [_T_STR, _T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_l2dsq", _kb_l2_distance_sq,
     [_T_STR, _T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_l1norm", _kb_l1_norm, [_T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_l2norm", _kb_l2_norm, [_T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_sum", _kb_summation, [_T_STR, _T_INT], _T_DOUBLE),
    ("mo_vecb_norml2", _kb_normalize_l2, [_T_STR, _T_INT], _T_STR),
    ("mo_vecb_subvec", _kb_subvector,
     [_T_STR, _T_LONG, _T_LONG, _T_INT], _T_STR),
    ("mo_vec_math", _k_vec_math, [_T_STR, _T_STR, _T_INT], _T_STR),
    ("mo_json_extract_multi", _k_json_extract_multi, [_T_STR, _T_STR], _T_STR),
    ("json_type", _k_json_type, [_T_STR], _T_STR),
    ("mo_json_contains", _k_json_contains, [_T_STR, _T_STR], _T_BOOL),
    ("json_contains_path", _k_json_contains_path, [_T_STR, _T_STR, _T_STR], _T_BOOL),
    ("json_overlaps", _k_json_overlaps, [_T_STR, _T_STR], _T_BOOL),
    ("json_pretty", _k_json_pretty, [_T_STR], _T_STR),
    ("json_valid", _k_json_valid, [_T_STR], _T_BOOL),
    ("json_keys", _k_json_keys, [_T_STR], _T_STR),
    ("json_set", _k_json_set, [_T_STR, _T_STR, _T_STR], _T_STR),
    ("json_insert", _k_json_insert, [_T_STR, _T_STR, _T_STR], _T_STR),
    ("json_replace", _k_json_replace, [_T_STR, _T_STR, _T_STR], _T_STR),
    ("json_remove", _k_json_remove, [_T_STR, _T_STR], _T_STR),
    ("json_merge_patch", _k_json_merge_patch, [_T_STR, _T_STR], _T_STR),
    ("json_merge_preserve", _k_json_merge_preserve, [_T_STR, _T_STR], _T_STR),
    ("json_quote", _k_json_quote, [_T_STR], _T_STR),
    ("jq", _jq_run, [_T_STR, _T_STR], _T_STR),
    ("try_jq", _try_jq_run, [_T_STR, _T_STR], _T_STR),
    ("mo_json_vals", _k_json_vals, [_T_STR], _T_STR),
    ("mo_json_arr_from", _k_json_arr_from, [_T_STR], _T_STR),
    ("mo_json_obj_from", _k_json_obj_from, [_T_STR], _T_STR),
    ("mo_json_norm", _k_json_norm, [_T_STR], _T_STR),
    ("mo_json_norm_sorted", _k_json_norm_sorted, [_T_STR], _T_STR),
    ("mo_json_blob", _k_json_blob, [_T_STR], _T_STR),
    ("mo_json_bit", _k_json_bit, [_T_LONG, _T_INT], _T_STR),
    ("mo_json_string", _k_json_string, [_T_STR], _T_STR),
    ("mo_json_decimal", _k_json_decimal, [_T_STR], _T_STR),
    ("mo_json_temporal", _k_json_temporal, [_T_STR, _T_STR, _T_INT], _T_STR),
    ("mo_json_geo", _k_json_geo, [_T_STR], _T_STR),
    ("mo_json_store", _k_json_store, [_T_STR], _T_STR),
    ("mo_json_unquote", _k_json_unquote, [_T_STR], _T_STR),
    ("mo_dec_mul", _k_dec_mul, [_T_STR, _T_STR, _T_INT], _T_STR),
]

# renames the SQL dialect applies for BOTH engines: the registered name is
# mo_-prefixed because the plain name either collides with a different-
# semantics builtin somewhere or (vector family) with the DataFrame tier's
# array-typed builders — the BVT SQL-text surface carries vectors as their
# '[x, y]' text rendering instead
RENAME_BOTH = {
    "l1_norm": "mo_vec_l1_norm",
    "l2_norm": "mo_vec_l2_norm",
    "vector_dims": "mo_vec_dims",
    "summation": "mo_vec_summation",
    "inner_product": "mo_vec_inner_product",
    "l2_distance": "mo_vec_l2_distance",
    "l2_distance_sq": "mo_vec_l2_distance_sq",
    "cosine_similarity": "mo_vec_cosine_similarity",
    "cosine_distance": "mo_vec_cosine_distance",
    "normalize_l2": "mo_vec_normalize_l2",
}
# (json_contains is arity-overloaded — the dialects route it through their
# compose builders instead of a plain rename)

# names whose DuckDB builtin collides and must be renamed by _duckify
DUCK_RENAMES = {
    "to_days": "mo_to_days",
    "week": "mo_week",
    "yearweek": "mo_yearweek",
    "microsecond": "mo_microsecond",
    "format": "mo_format",
    "json_type": "mo_json_type",
    "json_contains": "mo_json_contains",
    "json_valid": "mo_json_valid",
    "json_keys": "mo_json_keys",
    "json_pretty": "mo_json_pretty",
    "json_quote": "mo_json_quote",
    "json_merge_patch": "mo_json_merge_patch",
}


def spark_udfs() -> "list[tuple[str, object, object]]":
    """The kernel table: one ``(SQL name, row kernel, Spark return type)``
    row per Arrow-batched SQL function — PYFUNCS, the geo spec, the MySQL
    CONV and JSON path kernels, and UNNEST."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType,
        StringType, StructField, StructType,
    )

    from matrixone_spark.functions.geo_sql import SQL_UDFS as GEO_UDFS
    from matrixone_spark.functions.json_fns import mysql_json_extract_str
    from matrixone_spark.functions.mysql import _conv_scalar

    spark_t = {
        "STRING": StringType(), "BOOLEAN": BooleanType(), "INT": IntegerType(),
        "BIGINT": LongType(), "DOUBLE": DoubleType(), "BINARY": BinaryType(),
    }
    # UNNEST table function: ARRAY<STRUCT> terminal for inline()
    unnest_t = ArrayType(StructType([
        StructField(f, IntegerType() if f == "seq" else StringType())
        for f in ("col", "seq", "key", "path", "index", "value", "this")
    ]))
    return (
        [(name, fn, spark_t[ret[0]]) for name, fn, _argts, ret in PYFUNCS]
        + GEO_UDFS
        + [
            ("mo_conv", _conv_scalar, StringType()),
            ("mo_json_extract", mysql_json_extract_str, StringType()),
            ("mo_unnest", lambda d, p, o, c: _k_unnest(d, p, bool(o), c), unnest_t),
        ]
    )


def register_spark(spark) -> None:
    """Register the full SQL-text surface on a SparkSession: pure-SQL
    functions first (Catalyst-inlined), then every kernel-table row as one
    variadic Arrow-batched UDF."""
    from matrixone_spark.functions import arrow_udf

    for ddl in SPARK_SQL:
        spark.sql(ddl)
    for name, kernel, ret in spark_udfs():
        spark.udf.register(name, arrow_udf(kernel, ret))


def register_duck(con) -> None:
    """Mirror the surface on the co-executor's DuckDB connection: macros
    for the pure-SQL tier, native Python scalars for the kernels."""
    import sys as _sys

    for ddl in DUCK_SQL:
        try:
            con.execute(ddl)
        except Exception as e:  # noqa: BLE001
            # a macro lost to a builtin name is reached through its mo_*
            # rename instead; anything else (macro syntax error, duckdb API
            # change) would otherwise surface only as an opaque 'unknown
            # function' during replay — log it once
            msg = str(e)
            if not ("already exists" in msg or "built-in" in msg
                    or "Catalog Error" in msg):
                print(f"sql_surface: duck DDL failed: {msg[:160]}",
                      file=_sys.stderr)
    from duckdb.typing import (
        BIGINT, BLOB, BOOLEAN, DOUBLE, INTEGER, VARCHAR,
    )

    _DUCK_T = {
        "VARCHAR": VARCHAR, "BOOLEAN": BOOLEAN, "INTEGER": INTEGER,
        "BIGINT": BIGINT, "DOUBLE": DOUBLE, "BLOB": BLOB,
    }
    for name, fn, argts, ret in PYFUNCS + DUCK_ONLY_PYFUNCS:
        dname = DUCK_RENAMES.get(name, name)
        try:
            con.create_function(
                dname, fn, [_DUCK_T[t[1]] for t in argts], _DUCK_T[ret[1]],
                null_handling="special",
            )
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            if not ("already exists" in msg or "built-in" in msg
                    or "Catalog Error" in msg):
                print(f"sql_surface: duck create_function({dname}) failed: "
                      f"{msg[:160]}", file=_sys.stderr)
    try:
        import duckdb as _dd

        def _duck_unnest(d, p, o, c):
            rows = _k_unnest(d, p, bool(o) if o is not None else False, c)
            if rows is None:
                return None
            keys = ("col", "seq", "key", "path", "index", "value", "this")
            return [dict(zip(keys, r)) for r in rows]

        con.create_function(
            "mo_unnest", _duck_unnest,
            [VARCHAR, VARCHAR, BOOLEAN, VARCHAR],
            _dd.list_type(_dd.struct_type({
                "col": "VARCHAR", "seq": "INTEGER", "key": "VARCHAR",
                "path": "VARCHAR", "index": "VARCHAR", "value": "VARCHAR",
                "this": "VARCHAR",
            })),
            null_handling="special",
        )
    except Exception:  # noqa: BLE001 — older duckdb without struct typing
        pass
