"""MySQL function-edge semantics driven through translate() — each case is
pinned by a reference BVT golden (file cited per block)."""

from __future__ import annotations

import pytest

from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.mysql_dialect import translate


def _one(spark, sql):
    return run_sql(spark, translate(sql)).collect()[0][0]


def test_unixtime_out_of_range_nulls(spark):
    # func_datetime_unixtime.result: negative epoch / pre-1970 → NULL
    assert _one(spark, "select from_unixtime(-1)") is None
    assert _one(spark, "select from_unixtime(-2147483648)") is None
    assert _one(spark, "select unix_timestamp('1968-01-20 01:00:00')") is None
    assert _one(spark, "select unix_timestamp('2038-01-19 07:14:07')") == 2147498047
    assert str(_one(spark, "select from_unixtime(0)")).startswith("1970-01-01")


def test_locate_null_and_empty_needle(spark):
    # func_locate.result: NULL pos → NULL; empty needle returns pos
    assert _one(spark, "SELECT LOCATE('com', 'begtut.com', null)") is None
    assert _one(spark, "SELECT LOCATE(null, 'begtut.com')") is None
    assert _one(spark, "SELECT LOCATE('', 'cm', 3)") == 3
    assert _one(spark, "SELECT LOCATE('', 'cm', 4)") == 0
    assert _one(spark, "SELECT LOCATE('com', 'begtut.com')") == 8


def test_pad_length_range_nulls(spark):
    # func_string_lpad_rpad.result: negative / huge pad length → NULL
    assert _one(spark, "select rpad('hello', -4294967295, '1')") is None
    assert _one(spark, "select rpad('hello', 4294967295, '1')") is None
    assert _one(spark, "select lpad('hi', -1, '.')") is None
    assert _one(spark, "select rpad('ab', 4, '.')") == "ab.."


def test_last_day_invalid_clock(spark):
    # func_last_day.result: invalid clock part nulls the whole datetime
    assert _one(spark, "SELECT LAST_DAY('2024-02-01 23:01:61')") is None
    assert _one(spark, "SELECT LAST_DAY('2024-02-01 24:01:01')") is None
    assert str(_one(spark, "SELECT LAST_DAY('2024-02-01')")) == "2024-02-29"
    assert str(_one(spark, "SELECT LAST_DAY('2024-02-01 12:30:00')")) == "2024-02-29"


def test_str_to_date_result_type_follows_format(spark):
    # func_str_to_date.result: time-only format → clock display; date-only
    # format → DATE; %b/%d accept MySQL's lenient field widths; %r parses
    # without a meridian (12 reads as 00)
    assert _one(spark, "SELECT STR_TO_DATE('09:30:17','%h:%i:%s')") == "09:30:17"
    assert _one(spark, "SELECT STR_TO_DATE('12:30:17','%h:%i:%s')") == "00:30:17"
    assert _one(spark, "SELECT STR_TO_DATE('11:13:56','%r')") == "11:13:56"
    assert str(_one(spark, "SELECT STR_TO_DATE('May 1, 2013','%b %d,%Y')")) == "2013-05-01"
    # DATE_FORMAT keeps padded output widths (%d prints '01')
    assert _one(spark, "SELECT DATE_FORMAT('2024-02-01','%d')") == "01"


def test_random_bytes_length_contract(spark):
    # func_string_compress.result: RANDOM_BYTES spans 1..1024 bytes
    assert _one(spark, "SELECT LENGTH(RANDOM_BYTES(16))") == 16
    assert _one(spark, "SELECT LENGTH(RANDOM_BYTES(64))") == 64
    assert _one(spark, "SELECT LENGTH(RANDOM_BYTES(1024))") == 1024
    assert _one(spark, "SELECT RANDOM_BYTES(0)") is None
    # two draws differ (true randomness, uuid entropy)
    row = run_sql(spark, translate(
        "SELECT HEX(RANDOM_BYTES(16)) a, HEX(RANDOM_BYTES(16)) b"
    )).collect()[0]
    assert row["a"] != row["b"]


def test_monthname_dayname_full_names(spark):
    # func_datetime_monthname/dayname.result: FULL names
    assert _one(spark, "SELECT MONTHNAME('2008-02-03')") == "February"
    assert _one(spark, "SELECT MONTHNAME('2008-02-03 10:30:45')") == "February"
    assert _one(spark, "SELECT DAYNAME('2024-01-15')") == "Monday"
    assert _one(spark, "SELECT MONTHNAME(NULL)") is None
