"""Unit tests for the MySQL-compat function shims (expected values follow
MySQL's documented behavior, mirroring the reference's function BVT cases
under /root/reference/test/distributed/cases/function/)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from matrixone_spark.functions import mysql as m


def one_row(spark, cols: dict):
    df = spark.range(1)
    for name, col in cols.items():
        df = df.withColumn(name, col)
    return df.collect()[0]


def test_field_and_strcmp(spark):
    r = one_row(
        spark,
        {
            "f1": m.field(F.lit("b"), "a", "b", "c"),
            "f0": m.field(F.lit("z"), "a", "b", "c"),
            "s_lt": m.strcmp(F.lit("a"), F.lit("b")),
            "s_eq": m.strcmp(F.lit("a"), F.lit("a")),
            "s_gt": m.strcmp(F.lit("b"), F.lit("a")),
        },
    )
    assert (r.f1, r.f0, r.s_lt, r.s_eq, r.s_gt) == (2, 0, -1, 0, 1)


def test_truncate_conv_oct(spark):
    r = one_row(
        spark,
        {
            "t1": m.truncate_num(F.lit(1.999), 2),
            "t2": m.truncate_num(F.lit(-1.999), 2),
            "c": m.conv(F.lit("ff"), 16, 10),
            "o": m.oct_(F.lit(12)),
        },
    )
    assert r.t1 == 1.99 and r.t2 == -1.99
    assert r.c == "255" and r.o == "14"


def test_crc32(spark):
    import zlib

    r = one_row(
        spark,
        {"c": m.crc32(F.lit("MySQL")), "b": m.crc32(F.lit(b"\x00\xffabc"))},
    )
    assert r.c == zlib.crc32(b"MySQL") == 3259397556  # MySQL doc value
    assert r.b == zlib.crc32(b"\x00\xffabc")  # BINARY hashes its bytes


def test_date_format_mysql(spark):
    r = one_row(
        spark,
        {
            "d": m.date_format_mysql(F.lit("2009-10-04 22:23:00").cast("timestamp"), "%Y-%m-%d %H:%i:%s"),
            "mon": m.date_format_mysql(F.lit("2009-10-04").cast("date"), "%M %d, %Y"),
            "s": m.str_to_date(F.lit("04/10/2009 22:23"), "%d/%m/%Y %H:%i").cast("string"),
        },
    )
    assert r.d == "2009-10-04 22:23:00"
    assert r.mon == "October 04, 2009"
    assert r.s == "2009-10-04 22:23:00"


def test_to_days_from_days(spark):
    r = one_row(
        spark,
        {
            "td": m.to_days(F.lit("2007-10-07").cast("date")),
            "td2": m.to_days(F.lit("1970-01-01").cast("date")),
            "fd": m.from_days(F.lit(733321)).cast("string"),
        },
    )
    assert r.td == 733321  # MySQL doc: TO_DAYS('2007-10-07') = 733321
    assert r.td2 == 719528
    assert r.fd == "2007-10-07"


def test_period_add_diff(spark):
    r = one_row(
        spark,
        {
            "pa": m.period_add(F.lit(200801), 2),
            "pa_wrap": m.period_add(F.lit(200811), 3),
            "pd": m.period_diff(F.lit(200802), F.lit(200703)),
        },
    )
    assert r.pa == 200803  # MySQL doc
    assert r.pa_wrap == 200902
    assert r.pd == 11  # MySQL doc


def test_sec_time_roundtrip(spark):
    r = one_row(
        spark,
        {
            "st": m.sec_to_time(F.lit(2378)),
            "ts": m.time_to_sec(F.lit("00:39:38")),
            "big": m.sec_to_time(F.lit(90061)),
        },
    )
    assert r.st == "00:39:38"  # MySQL doc: SEC_TO_TIME(2378)
    assert r.ts == 2378
    assert r.big == "25:01:01"  # >24h stays hours, MySQL TIME semantics


def test_yearweek(spark):
    r = one_row(
        spark,
        {
            "a": m.yearweek(F.lit("2000-01-01").cast("date")),  # ISO week 52 of 1999
            "b": m.yearweek(F.lit("2021-01-04").cast("date")),  # ISO week 1 of 2021
        },
    )
    assert r.a == 199952
    assert r.b == 202101


def test_string_splice_and_sets(spark):
    r = one_row(
        spark,
        {
            "ins": m.insert_str(F.lit("Quadratic"), 3, 4, "What"),
            "es": m.export_set(F.lit(5), "Y", "N", ",", 4),
            "ms": m.make_set(F.lit(5), "hello", "nice", "world"),
            "q": m.quote(F.lit("Don't!")),
        },
    )
    assert r.ins == "QuWhattic"  # MySQL doc
    assert r.es == "Y,N,Y,N"  # MySQL doc
    assert r.ms == "hello,world"  # MySQL doc
    assert r.q == "Don\\'t!'".join(["'", ""])  # 'Don\'t!'


def test_inet(spark):
    r = one_row(
        spark,
        {
            "a": m.inet_aton(F.lit("10.0.5.9")),
            "n": m.inet_ntoa(F.lit(167773449)),
            "v4": m.is_ipv4(F.lit("10.0.5.9")),
            "v4bad": m.is_ipv4(F.lit("10.0.5.256")),
        },
    )
    assert r.a == 167773449  # MySQL doc
    assert r.n == "10.0.5.9"
    assert (r.v4, r.v4bad) == (1, 0)


def test_uuid_roundtrip(spark):
    u = "6ccd780c-baba-1026-9564-5b8c656024db"
    r = one_row(spark, {"rt": m.bin_to_uuid(m.uuid_to_bin(F.lit(u)))})
    assert r.rt == u


def test_mysql_format_token_table_both_modes(spark):
    """Table-driven check of EVERY %-token in _MYSQL_FMT across BOTH modes
    (formatting via DATE_FORMAT output, parsing via the STR_TO_DATE width
    overrides), end-to-end through Spark so the emitted Java patterns are
    proven valid, not just mapped. Reference: generalTime.go format table;
    func_str_to_date.go lenient parse widths."""
    from matrixone_spark.functions.mysql import (
        _MYSQL_FMT,
        _MYSQL_FMT_PARSE,
        mysql_format_to_java,
    )

    ts = "2023-02-05 09:07:04.123456"
    # expected DATE_FORMAT output per token for the fixed timestamp
    fmt_expect = {
        "%Y": "2023", "%y": "23", "%m": "02", "%c": "2", "%d": "05",
        "%e": "5", "%H": "09", "%k": "9", "%h": "09", "%I": "09",
        "%i": "07", "%s": "04", "%S": "04", "%f": "123456",
        "%b": "Feb", "%M": "February", "%a": "Sun", "%W": "Sunday",
        "%j": "036", "%T": "09:07:04", "%r": "09:07:04 AM", "%p": "AM",
        "%%": "%",
    }
    assert set(fmt_expect) == set(_MYSQL_FMT), "token table drifted"
    sql = ", ".join(
        f"date_format(timestamp'{ts}', '{mysql_format_to_java(tok)}') "
        f"as c{i}"
        for i, tok in enumerate(fmt_expect)
    )
    row = spark.sql(f"select {sql}").collect()[0]
    for i, (tok, want) in enumerate(fmt_expect.items()):
        assert row[i] == want, (tok, row[i], want)

    # parsing mode: every override token accepts 1-digit (unpadded) input
    parse_cases = {
        "%d": ("5", "dd05"), "%e": ("5", "dd05"), "%m": ("2", "mm02"),
        "%c": ("2", "mm02"), "%H": ("9", "hh09"), "%k": ("9", "hh09"),
        "%h": ("9", "hh09"), "%I": ("9", "hh09"), "%i": ("7", "mi07"),
        "%s": ("4", "ss04"), "%S": ("4", "ss04"), "%j": ("36", "dy036"),
        "%r": ("9:07:04", "clk09:07:04"),
    }
    assert set(parse_cases) == set(_MYSQL_FMT_PARSE), "parse table drifted"
    # each override parses an UNPADDED field Java's 2-letter form rejects;
    # prove through to_timestamp with a full date context
    checks = {
        "%d": ("2023-2-5", "%Y-%c-%d", "2023-02-05"),
        "%e": ("2023-2-5", "%Y-%c-%e", "2023-02-05"),
        "%m": ("2023-2-5", "%Y-%m-%e", "2023-02-05"),
        "%c": ("2023-2-5", "%Y-%c-%e", "2023-02-05"),
        "%H": ("2023-2-5 9", "%Y-%c-%e %H", "2023-02-05 09"),
        "%k": ("2023-2-5 9", "%Y-%c-%e %k", "2023-02-05 09"),
        "%i": ("2023-2-5 9:7", "%Y-%c-%e %H:%i", "2023-02-05 09:07"),
        "%s": ("2023-2-5 9:7:4", "%Y-%c-%e %H:%i:%s", "2023-02-05 09:07:04"),
        "%S": ("2023-2-5 9:7:4", "%Y-%c-%e %H:%i:%S", "2023-02-05 09:07:04"),
        "%r": ("2023-2-5 9:07:04", "%Y-%c-%e %r", "2023-02-05 09:07:04"),
    }
    for tok, (text, myfmt, prefix) in checks.items():
        pat = mysql_format_to_java(myfmt, parsing=True)
        got = spark.sql(
            f"select cast(to_timestamp('{text}', '{pat}') as string) as v"
        ).collect()[0]["v"]
        assert got is not None and got.startswith(prefix), (tok, pat, got)
