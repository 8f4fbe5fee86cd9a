"""BVT cross-engine parity battery — real reference .sql content end-to-end.

The reference's user surface is MySQL SQL text exercised by 959 BVT .sql
files (test/distributed/cases/README.md). This battery is the stateless
slice of that corpus: constant SELECT expressions harvested from the
function/ suite by matrixone_spark/bvt_harvest.py (quote-aware statement
split, constant-select filter, nondeterminism exclusions), then
cross-engine curated offline (``python -m matrixone_spark.bvt_harvest``):
every expression below parses and runs BOTH through Engine.mysql_sql
(mysql_dialect.translate → Spark) AND DuckDB, with matching engine-rounded
values.

Curation stats for this snapshot: {'harvested': 6167, 'exprs': 6073, 'kept': 160, 'spark_fail': 71, 'duck_fail': 962, 'mismatch': 16}
(duck_fail ≈ MySQL-only syntax DuckDB cannot parse — those still run on the
Spark side via tests/test_bvt.py's harvest sweep; mismatches are excluded
and counted.)

The registry entry evaluates the whole battery as ONE Spark SQL statement
(constant-folded by Catalyst — no scan, no shuffle) against the DuckDB
oracle running the raw MySQL text, giving a driver CORRECTNESS row over
160 reference-derived expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.mysql_dialect import translate
from matrixone_spark.queries import register

# (source file under test/distributed/cases/, expression) — harvested +
# curated; regenerate with `python -m matrixone_spark.bvt_harvest`.
BVT_NUMERIC = [
    ('function/builtin.sql', 'greatest(1, 2, 3)'),
    ('function/builtin.sql', 'least(1, 2, 3)'),
    ('function/builtin.sql', 'greatest(3, 2, 1)'),
    ('function/builtin.sql', 'least(3, 2, 1)'),
    ('function/builtin.sql', 'greatest(null, 1)'),
    ('function/builtin.sql', 'greatest(1, null)'),
    ('function/date_trunc.sql', "date_trunc('hour', cast(null as timestamp))"),
    ('function/func_ascii.sql', 'ascii(null)'),
    ('function/func_ascii.sql', "ascii('a')"),
    ('function/func_ascii.sql', "ascii('ab')"),
    ('function/func_ascii.sql', "ascii('qaq')"),
    ('function/func_ascii.sql', "ascii('啊咋')"),
    ('function/func_ascii.sql', "ascii('1.2121')"),
    ('function/func_ascii.sql', "ascii('1.2121a')"),
    ('function/func_ascii.sql', "ascii('')"),
    ('function/func_ascii.sql', "ascii(' ')"),
    ('function/func_bit.sql', 'BIT_AND(0)'),
    ('function/func_bit.sql', 'BIT_OR(0)'),
    ('function/func_bit.sql', 'BIT_XOR(0)'),
    ('function/func_bit.sql', 'BIT_AND(1)'),
    ('function/func_bit.sql', 'BIT_OR(1)'),
    ('function/func_bit.sql', 'BIT_XOR(1)'),
    ('function/func_bit.sql', 'BIT_AND(-1)'),
    ('function/func_bit.sql', 'BIT_OR(-1)'),
    ('function/func_bit.sql', 'BIT_XOR(-1)'),
    ('function/func_bit.sql', 'BIT_AND(ABS(-1))'),
    ('function/func_div_by_zero.sql', '10 / 0'),
    ('function/func_div_by_zero.sql', '10 % 0'),
    ('function/func_div_by_zero.sql', 'CAST(10.5 AS DECIMAL(10,2)) / CAST(0 AS DECIMAL(10,2))'),
    ('function/func_div_by_zero.sql', 'CAST(10.5 AS DECIMAL(10,2)) % CAST(0 AS DECIMAL(10,2))'),
    ('function/func_div_by_zero.sql', '10.5 / 0.0'),
    ('function/func_div_by_zero.sql', '10.5 % 0.0'),
    ('function/func_div_by_zero.sql', '(10 + 20) / (5 - 5)'),
    ('function/func_div_by_zero.sql', 'CASE WHEN 1=1 THEN 10/0 ELSE 5 END'),
    ('function/func_div_by_zero.sql', 'NULL / 3'),
    ('function/func_div_by_zero.sql', '10 / NULL'),
    ('function/func_div_by_zero_strict_mode.sql', '10/0'),
    ('function/func_encode_decode.sql', "hex('abc')"),
    ('function/func_hex_unhex.sql', 'hex(2147483649)'),
    ('function/func_hex_unhex.sql', 'hex(1092)'),
    ('function/func_hex_unhex.sql', "hex('qqqqq')"),
    ('function/func_hex_unhex.sql', "hex('edwrgewgrewrwe')"),
    ('function/func_hex_unhex.sql', "hex('123')"),
    ('function/func_hex_unhex.sql', "hex('4321413432')"),
    ('function/func_last_day.sql', 'LAST_DAY(NULL)'),
    ('function/func_md5.sql', 'md5(NULL)'),
    ('function/func_string_repeat.sql', "repeat('abc', null)"),
    ('function/func_unhex.sql', "hex(unhex('616263'))"),
    ('function/function_instr.sql', "INSTR('ejwnqke','wn')"),
    ('function/function_instr.sql', "INSTR('wn','ejwnqke')"),
    ('function/function_instr.sql', "INSTR('hvjdke3qj','a')"),
    ('function/function_instr.sql', "INSTR('今天是晴天ok.are yioeore;wmv','晴天')"),
    ('function/function_instr.sql', "INSTR('ewhihjreiwhvrejw8344332￥#……@#@￥#@￥DSCSVRERGEWvefw','')"),
    ('function/function_instr.sql', "INSTR('edhjw 38902&A**',' ')"),
    ('function/function_instr.sql', "INSTR('reuwYHWJMQ781///-+++','fe3232')"),
    ('function/function_instr.sql', "INSTR('','')"),
    ('function/function_instr.sql', "INSTR('','ehwj32')"),
    ('function/function_instr.sql', "INSTR('251625%$#@*(ejf2f32f','')"),
    ('function/function_split_part.sql', "split_part('43728943902493-24fjk43nmfjkwek432','3',3)"),
    ('function/function_split_part.sql', "split_part('ABC*123*()(','*',2)"),
    ('function/function_split_part.sql', "split_part('12345*&+789*&dhejwfew2','*&',2)"),
    ('function/greatest_least_numeric.sql', 'greatest(1, 2.0)'),
    ('function/greatest_least_numeric.sql', 'least(1, 2.0)'),
    ('function/greatest_least_numeric.sql', 'greatest(cast(1 as bigint), cast(2.0 as double))'),
    ('function/greatest_least_numeric.sql', 'least(cast(1 as bigint), cast(2.0 as double))'),
    ('function/greatest_least_numeric.sql', 'greatest(cast(5 as bigint), cast(2.5 as decimal(10,2)))'),
    ('function/greatest_least_numeric.sql', 'least(cast(5 as bigint), cast(2.5 as decimal(10,2)))'),
    ('function/greatest_least_numeric.sql', 'greatest(cast(1 as bigint), cast(2 as bigint))'),
    ('function/greatest_least_numeric.sql', 'greatest(cast(1.0 as double), cast(2.0 as double))'),
    ('function/greatest_least_numeric.sql', 'greatest(cast(1 as tinyint), cast(2000 as int))'),
    ('function/greatest_least_numeric.sql', 'least(cast(1 as tinyint), cast(2000 as int))'),
    ('function/left_function.sql', "LEFT('ABCDEFG', NULL)"),
    ('function/left_function.sql', 'LEFT(NULL, 1)'),
    ('function/left_function.sql', 'LEFT(NULL, 0)'),
    ('function/left_function.sql', 'LEFT(NULL, -1)'),
    ('function/func_aggr_avg.test', 'avg(null)'),
    ('function/func_aggr_avg.test', 'AVG(2)'),
    ('function/func_aggr_avg.test', 'BIT_AND(2)'),
    ('function/func_aggr_avg.test', 'BIT_OR(2)'),
    ('function/func_aggr_avg.test', 'BIT_XOR(2)'),
    ('function/func_aggr_avg.test', 'COUNT(*)'),
    ('function/func_aggr_avg.test', 'COUNT(12)'),
    ('function/func_aggr_avg.test', 'COUNT(DISTINCT 12)'),
    ('function/func_aggr_avg.test', 'MIN(2)'),
    ('function/func_aggr_avg.test', 'MAX(2)'),
    ('function/func_aggr_bitwise.test', 'bit_and(null)'),
    ('function/func_aggr_bitwise.test', 'bit_or(null)'),
    ('function/func_aggr_bitwise.test', 'bit_xor(null)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(1)<BIT_AND(2)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(1)>BIT_OR(3)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(3)>BIT_XOR(5)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(1 - 1)'),
    ('function/func_aggr_bitwise.test', 'BIT_OR(1 - (-1))'),
    ('function/func_aggr_count.test', 'COUNT(NULL)'),
    ('function/func_aggr_max.test', 'max(null)'),
    ('function/func_aggr_median.test', 'median(null)'),
    ('function/func_aggr_median.test', 'median(1)'),
    ('function/func_aggr_median.test', 'median(-6372.2)'),
    ('function/func_aggr_median.test', 'median(ABS(-99))'),
    ('function/func_aggr_median.test', 'median(COS(0) + 2)'),
]
BVT_STRING = [
    ('function/builtin.sql', "trim(' abc ')"),
    ('function/builtin.sql', "trim('abc ')"),
    ('function/builtin.sql', "trim(' abc')"),
    ('function/builtin.sql', "trim('abc')"),
    ('function/date_trunc.sql', "date_trunc('hour', cast('2024-05-16 12:34:56.123456' as timestamp))"),
    ('function/date_trunc.sql', "date_trunc('minute', cast('2024-05-16 12:34:56.123456' as timestamp))"),
    ('function/date_trunc.sql', "date_trunc('second', cast('2024-05-16 12:34:56.123456' as timestamp))"),
    ('function/date_trunc.sql', "date_trunc('hour', cast('2024-05-16' as date))"),
    ('function/date_trunc.sql', "date_trunc('minute', cast('2024-05-16' as date))"),
    ('function/date_trunc.sql', "date_trunc('second', cast('2024-05-16' as date))"),
    ('function/func_encode_decode.sql', "unhex('616263')"),
    ('function/func_encode_decode.sql', "UNHEX(HEX('abc'))"),
    ('function/func_hex_unhex.sql', 'hex(123)'),
    ('function/func_hex_unhex.sql', 'hex(32432)'),
    ('function/func_hex_unhex.sql', 'hex(2178342143)'),
    ('function/func_hex_unhex.sql', "hex('abcdefghijklmnopqrstuvwxyz')"),
    ('function/func_json_row.sql', "'agg'"),
    ('function/func_make_date.sql', "'生日快乐！'"),
    ('function/func_md5.sql', "md5('616263')"),
    ('function/func_md5.sql', "md5('')"),
    ('function/func_md5.sql', "md5('abc')"),
    ('function/func_md5.sql', "md5('kfieli3453l5lj')"),
    ('function/func_md5.sql', "md5('  ')"),
    ('function/func_md5.sql', "md5('中文')"),
    ('function/func_md5.sql', "md5('0x45df')"),
    ('function/func_md5.sql', "md5(concat('aife',' 883fdg'))"),
    ('function/func_md5.sql', "md5('2008-09-09')"),
    ('function/func_starlark.sql', "'Test will fail if code depends on space/formatting.   keep spaces'"),
    ('function/func_string_repeat.sql', "repeat('abc', -1)"),
    ('function/func_string_repeat.sql', "repeat('abc', 0)"),
    ('function/func_string_repeat.sql', "repeat('abc', 1)"),
    ('function/func_string_repeat.sql', "repeat('abc', 2)"),
    ('function/func_string_repeat.sql', "repeat('abc', 3)"),
    ('function/func_string_repeat.sql', "repeat('372891uhj4r23uj4r3fv()(*)W@', -10)"),
    ('function/func_string_repeat.sql', "repeat('efhwuh4ejkwn433qwieu^%^&&(*(%$%^',-100)"),
    ('function/func_string_repeat.sql', "repeat('database数据库',0)"),
    ('function/func_string_repeat.sql', "repeat('qyf783y82y489u32y49u39204i032i9589ijfiekwfjkw432r435g34f',0)"),
    ('function/func_unhex.sql', "unhex('68656c6c6f')"),
    ('function/func_upper_lower.sql', "upper('abc')"),
    ('function/func_upper_lower.sql', "upper('abc 123')"),
    ('function/func_upper_lower.sql', "lower('ABC')"),
    ('function/func_upper_lower.sql', "lower('AbC 123')"),
    ('function/func_upper_lower.sql', "upper(rtrim('  3782dfw23123123123   '))"),
    ('function/func_upper_lower.sql', "upper(substring('21214avewwe12',3,20))"),
    ('function/func_upper_lower.sql', "upper(reverse('sjkdakjevenjwvev'))"),
    ('function/func_upper_lower.sql', "lower(ltrim('   uEENjfwabc123'))"),
    ('function/func_upper_lower.sql', "lower(trim('  32431 %^ 3829  3huICN2432g23   '))"),
    ('function/func_upper_lower.sql', "lower(reverse('sjkDAKjeveBJwvev'))"),
    ('function/function_split_part.sql', "split_part('abc^123^ioo','^',1)"),
    ('function/function_split_part.sql', "split_part('efjq34','4r832r432094-3',2)"),
    ('function/function_split_part.sql', "split_part('床前明月光，疑是地上霜，举头望明月，低头思故乡','，',4)"),
    ('function/function_split_part.sql', "split_part('jewkrje的jdksvfe32893**(的——++））（）（  的', '的', 3)"),
    ('function/function_split_part.sql', "split_part('fhew嗯嗯圣诞节chejwk嗯嗯__++__w嗯嗯','嗯嗯',2)"),
    ('function/function_split_part.sql', "split_part('v23dnnr###ewjrfkjewm#vrewnvrenjvnewmvrdjvrnjerewmvrjenjwvewmvrrnenjvrenjvrejnvewvrevrjewvrnew','ewmvr',8)"),
    ('function/function_split_part.sql', "split_part('www.baidu.com','.',1)"),
    ('function/left_function.sql', "LEFT('ABCDEFG', 2)"),
    ('function/left_function.sql', "LEFT('ABCDEFG', 0)"),
    ('function/left_function.sql', "LEFT('ABCDEFG', 2+1)"),
    ('function/left_function.sql', "LEFT('ABCDEFG', ABS(-2))"),
    ('function/left_function.sql', "LEFT('ABCDEFG', LENGTH('KING'))"),
]


import re as _re

_POP_AGG_RE = _re.compile(r"\b(stddev|std|variance)\s*\(", _re.IGNORECASE)


def _pop_aggs(e: str) -> str:
    """MySQL STD/STDDEV/VARIANCE are population variants; DuckDB's (like
    Spark's) same-named functions are sample variants, so the oracle text
    must be rewritten the same way the Spark-side dialect renames them.
    Likewise ``~`` and ``<< >> ^`` carry MySQL's unsigned-64-bit semantics
    on both sides (duck-dialect rendering, HUGEINT) — same rewrite order as
    the Spark-side translate (bitwise-not, then unsigned shift/xor)."""
    from matrixone_spark.mysql_dialect import rewrite_bitwise_not, rewrite_unsigned_bitwise

    from matrixone_spark.mysql_dialect import (
        mask_literals,
        rewrite_repeat_clamp,
        unmask_literals,
    )

    # all rewrites run on literal-MASKED text (same as translate/_duckify):
    # a '^' or '~' INSIDE a string literal must not trigger the bitwise pass
    masked, spans = mask_literals(e)
    masked = _POP_AGG_RE.sub(
        lambda m: "var_pop(" if m.group(1).lower() == "variance" else "stddev_pop(",
        masked,
    )
    if "~" in masked:
        masked = rewrite_bitwise_not(masked, engine="duck")
    if "<<" in masked or ">>" in masked or "^" in masked:
        masked = rewrite_unsigned_bitwise(masked, engine="duck")
    if _re.search(r"repeat|space|split_part|median", masked, _re.IGNORECASE):
        # repeat/space packet clamp, split_part out-of-range NULL, discrete
        # median — the same duck-engine fidelity pass the co-executor applies
        masked = rewrite_repeat_clamp(masked, engine="duck")
    return unmask_literals(masked, spans)


def _spark_sql() -> str:
    rows = []
    for i, (_, e) in enumerate(BVT_NUMERIC):
        v = translate(e)
        rows.append(
            f"SELECT CAST({i} AS INT) AS sid, "
            f"CASE WHEN isnan(ROUND(CAST(({v}) AS DOUBLE), 6)) THEN CAST(NULL AS DOUBLE) "
            f"ELSE ROUND(CAST(({v}) AS DOUBLE), 6) END AS val_num, "
            f"CAST(NULL AS STRING) AS val_str"
        )
    base = len(BVT_NUMERIC)
    for i, (_, e) in enumerate(BVT_STRING):
        v = translate(e)
        rows.append(
            f"SELECT CAST({base + i} AS INT) AS sid, CAST(NULL AS DOUBLE) AS val_num, "
            f"CAST(({v}) AS STRING) AS val_str"
        )
    return " UNION ALL ".join(rows)


def _oracle_sql() -> str:
    rows = []
    for i, (_, e) in enumerate(BVT_NUMERIC):
        e = _pop_aggs(e)
        rows.append(
            f"SELECT CAST({i} AS INT) AS sid, "
            f"CASE WHEN isnan(ROUND(CAST(({e}) AS DOUBLE), 6)) THEN CAST(NULL AS DOUBLE) "
            f"ELSE ROUND(CAST(({e}) AS DOUBLE), 6) END AS val_num, "
            f"CAST(NULL AS VARCHAR) AS val_str"
        )
    base = len(BVT_NUMERIC)
    for i, (_, e) in enumerate(BVT_STRING):
        e = _pop_aggs(e)
        rows.append(
            f"SELECT CAST({base + i} AS INT) AS sid, CAST(NULL AS DOUBLE) AS val_num, "
            f"CAST(({e}) AS VARCHAR) AS val_str"
        )
    return " UNION ALL ".join(rows)


@register(
    "bvt_select_battery",
    oracle=_oracle_sql(),
    tags=("bvt", "dialect"),
    doc=(
        "Stateless BVT slice: constant SELECT expressions from the "
        "reference's function/ BVT suite run through the MySQL dialect "
        "translator as one constant-folded Spark statement "
        "(test/distributed/cases/function/*.sql; harvest tool "
        "matrixone_spark/bvt_harvest.py)."
    ),
)
def bvt_select_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, _spark_sql())


# Second battery: operator/ + expression/ + function/*.test categories.
# Curation stats: {'harvested': 4837, 'exprs': 4861, 'kept': 150, 'spark_fail': 39, 'duck_fail': 449, 'mismatch': 29}
BVT2_NUMERIC = [
    ('operator/between_and_operator.sql', '2 BETWEEN 1 AND 3'),
    ('operator/between_and_operator.sql', '2 BETWEEN 3 and 1'),
    ('operator/between_and_operator.sql', '1 BETWEEN 2 AND 3'),
    ('operator/between_and_operator.sql', "'b' BETWEEN 'a' AND 'c'"),
    ('operator/between_and_operator.sql', "2 BETWEEN 2 AND '3'"),
    ('operator/between_and_operator.sql', 'TRUE BETWEEN FALSE AND TRUE'),
    ('operator/between_and_operator.sql', 'FALSE BETWEEN TRUE AND FALSE'),
    ('operator/between_and_operator.sql', 'TRUE NOT BETWEEN FALSE AND TRUE'),
    ('operator/bit_operator.sql', '9 &4& 2'),
    ('operator/bit_operator.sql', '1 ^ 0'),
    ('operator/bit_operator.sql', '29 & 15'),
    ('operator/bit_operator.sql', '~0'),
    ('operator/bit_operator.sql', '64 << 2'),
    ('operator/bit_operator.sql', '1 << 2'),
    ('operator/bit_operator.sql', '4 >> 2'),
    ('operator/bit_operator.sql', '100 << ABS(-3)'),
    ('operator/is_not_operator.sql', '1 IS TRUE'),
    ('operator/is_not_operator.sql', '0 IS FALSE'),
    ('operator/is_not_operator.sql', 'NULL IS TRUE'),
    ('operator/is_not_operator.sql', '1 IS NULL'),
    ('operator/is_not_operator.sql', '0 IS NULL'),
    ('operator/is_not_operator.sql', 'NULL IS NULL'),
    ('operator/is_not_operator.sql', "'' IS NULL"),
    ('operator/is_not_operator.sql', "' ' IS NULL"),
    ('operator/is_operator.sql', '(null) is unknown'),
    ('operator/is_operator.sql', 'null is unknown'),
    ('operator/is_operator.sql', 'true is unknown'),
    ('operator/is_operator.sql', 'false is unknown'),
    ('operator/is_operator.sql', 'null is false'),
    ('operator/is_operator.sql', 'null is not false'),
    ('operator/is_operator.sql', 'null is not true'),
    ('operator/is_operator.sql', '1 is false'),
    ('operator/like_operator.sql', "'a' LIKE 'ae'"),
    ('operator/like_operator.sql', "'ae' LIKE 'a'"),
    ('operator/like_operator.sql', "'MYSQL' LIKE 'mysql'"),
    ('operator/like_operator.sql', "'David!' LIKE 'David_'"),
    ('operator/like_operator.sql', "'David!' LIKE '%D%v%'"),
    ('operator/like_operator.sql', "'David!' LIKE 'David\\_'"),
    ('operator/like_operator.sql', "'__++' LIKE '__++%'"),
    ('operator/like_operator.sql', "'__++__' LIKE '__+'"),
    ('operator/mysql_compat_bitwise_expr.sql', 'null & 1'),
    ('operator/mysql_compat_bitwise_expr.sql', 'null | 1'),
    ('operator/mysql_compat_bitwise_expr.sql', 'null ^ 1'),
    ('operator/mysql_compat_bitwise_expr.sql', 'null << 1'),
    ('operator/mysql_compat_bitwise_expr.sql', '1 >> null'),
    ('operator/mysql_compat_bitwise_expr.sql', '~null'),
    ('operator/mysql_compat_comparison_expr.sql', "'01' = 1"),
    ('operator/mysql_compat_comparison_expr.sql', "'01' < 2"),
    ('operator/mysql_compat_comparison_expr.sql', "'12.50' = 12.5"),
    ('operator/mysql_compat_comparison_expr.sql', "12.5 BETWEEN '12.49' AND '12.51'"),
    ('operator/mysql_compat_comparison_expr.sql', "'2' IN (1, 2, 3)"),
    ('operator/mysql_compat_comparison_expr.sql', "2 IN ('1', '2', '3')"),
    ('operator/mysql_compat_comparison_expr.sql', "'4' IN (1, 2, NULL)"),
    ('operator/mysql_compat_comparison_expr.sql', "'4' NOT IN (1, 2, NULL)"),
    ('operator/mysql_compat_logical_expr.sql', 'not null'),
    ('operator/mysql_compat_null_predicate_matrix.sql', 'null = null'),
    ('operator/mysql_compat_null_predicate_matrix.sql', 'null <> null'),
    ('operator/mysql_compat_null_predicate_matrix.sql', '1 = null'),
    ('operator/mysql_compat_null_predicate_matrix.sql', '1 <> null'),
    ('operator/mysql_compat_null_predicate_matrix.sql', '1 between null and 2'),
    ('operator/mysql_compat_null_predicate_matrix.sql', '3 between null and 2'),
    ('operator/mysql_compat_null_predicate_matrix.sql', '1 between 0 and null'),
    ('operator/mysql_compat_null_predicate_matrix.sql', '3 between 0 and null'),
    ('operator/mysql_compat_string_binary_comparison.sql', "'a ' like 'a'"),
    ('operator/mysql_compat_string_binary_comparison.sql', "'a ' like 'a '"),
    ('operator/mysql_compat_string_binary_comparison.sql', "'' like ''"),
    ('operator/mysql_compat_string_binary_comparison.sql', "'' like '_'"),
    ('operator/mysql_compat_string_binary_comparison.sql', "'abc' like ''"),
    ('operator/mysql_compat_string_binary_comparison.sql', "'abc' not like null"),
    ('operator/mysql_compat_string_binary_comparison.sql', "null not like 'a%'"),
    ('operator/row_constructor.sql', '(1,2,3)=(0,null,3)'),
    ('operator/row_constructor.sql', '(1,2,3) = (1+1, null, 3)'),
    ('operator/row_constructor.sql', '(1,2,3) <> (1+1,null,3)'),
    ('operator/row_constructor.sql', '(1,2) > (2,3)'),
    ('operator/row_constructor.sql', '(-10, 200) < (100,200)'),
    ('operator/row_constructor.sql', '(1,2,2,3) > (2,3,4,5)'),
    ('operator/row_constructor.sql', '(78415614.7894,789854.0) = (78415614.7894,789854.0)'),
    ('operator/row_constructor.sql', '(1,null) < (2,null)'),
    ('operator/math_operator.test', "cast('2020-02-01' as date) + NULL"),
    ('operator/math_operator.test', '1 + NULL'),
    ('operator/math_operator.test', 'NULL + 1'),
    ('operator/mysql_compat_bitwise_uint64_cast.test', '7 | 8'),
    ('operator/mysql_compat_bitwise_unsigned.test', '-1 & 3'),
    ('operator/mysql_compat_bitwise_unsigned.test', '-1 | 8'),
    ('operator/mysql_compat_bitwise_unsigned.test', '-1 >> 1'),
    ('operator/mysql_compat_bitwise_unsigned.test', '-1 >> 0'),
    ('operator/operator.test', '1 & 2'),
    ('operator/operator.test', '-1 & 2'),
    ('operator/operator.test', 'null & 2'),
    ('operator/operator.test', '1 | 2'),
    ('operator/operator.test', '-1 | 2'),
    ('operator/operator.test', 'null | 2'),
    ('operator/operator.test', 'null ^ 2'),
    ('operator/operator.test', 'null << 2'),
    ('expression/case_when.sql', 'case when 1 in (1.0, 2.0, 3.0) then true else false end'),
    ('expression/case_when.sql', '7.01970 * CAST(-58140.00 AS DECIMAL(23,2))'),
    ('expression/case_when.sql', 'CASE WHEN 1 = 1\n       THEN CAST(1 AS DECIMAL(38,0))\n       ELSE CAST(0 AS DECIMAL(38,20))\n  END'),
    ('expression/case_when.sql', 'CASE WHEN 1 = 2\n       THEN CAST(1 AS DECIMAL(38,0))\n       ELSE CAST(0 AS DECIMAL(38,20))\n  END'),
    ('expression/case_when.sql', 'COALESCE(\n  CAST(NULL AS DECIMAL(23,2)),\n  7.01970 * CAST(-58140.00 AS DECIMAL(23,2))\n)'),
    ('expression/case_when.sql', 'COALESCE(\n  CAST(1.23 AS DECIMAL(23,2)),\n  7.01970 * CAST(-58140.00 AS DECIMAL(23,2))\n)'),
    ('expression/case_when.sql', 'COALESCE(CAST(1 AS DECIMAL(38,0)), CAST(0.5 AS DECIMAL(30,30)))'),
    ('expression/case_when.sql', 'COALESCE(CAST(12345678901234567890123456789012345678 AS DECIMAL(38,0)), CAST(0.5 AS DECIMAL(30,30)))'),
    ('expression/in_mixed_type.sql', "'9.50' = 9.5"),
    ('function/func_aggr_avg.test', 'avg(null)'),
    ('function/func_aggr_avg.test', 'AVG(2)'),
    ('function/func_aggr_avg.test', 'BIT_AND(2)'),
    ('function/func_aggr_avg.test', 'BIT_OR(2)'),
    ('function/func_aggr_avg.test', 'BIT_XOR(2)'),
    ('function/func_aggr_avg.test', 'COUNT(*)'),
    ('function/func_aggr_avg.test', 'COUNT(12)'),
    ('function/func_aggr_avg.test', 'COUNT(DISTINCT 12)'),
    ('function/func_aggr_bitwise.test', 'bit_and(null)'),
    ('function/func_aggr_bitwise.test', 'bit_or(null)'),
    ('function/func_aggr_bitwise.test', 'bit_xor(null)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(1)<BIT_AND(2)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(1)>BIT_OR(3)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(3)>BIT_XOR(5)'),
    ('function/func_aggr_bitwise.test', 'BIT_AND(1 - 1)'),
    ('function/func_aggr_bitwise.test', 'BIT_OR(1 - (-1))'),
    ('function/func_aggr_count.test', 'COUNT(NULL)'),
    ('function/func_aggr_max.test', 'max(null)'),
    ('function/func_aggr_median.test', 'median(null)'),
    ('function/func_aggr_median.test', 'median(1)'),
    ('function/func_aggr_median.test', 'median(-6372.2)'),
    ('function/func_aggr_median.test', 'median(ABS(-99))'),
    ('function/func_aggr_median.test', 'median(COS(0) + 2)'),
    ('function/func_aggr_min.test', 'min(null)'),
    ('function/func_aggr_min.test', 'min(1)<min(2)'),
    ('function/func_aggr_std.test', 'STDDEV(null)'),
    ('function/func_aggr_std.test', 'STDDEV_POP(null)'),
    ('function/func_aggr_std.test', 'STDDEV_POP(99999999999999999.99999)'),
    ('function/func_aggr_std.test', 'STDDEV_POP(999999999999999933193939.99999)'),
    ('function/func_aggr_std.test', 'STDDEV_POP(-99999999999999999.99999)'),
    ('function/func_aggr_std.test', 'STDDEV_POP(-999999999999999933193939.99999)'),
    ('function/func_aggr_std.test', 'STDDEV_POP(1)<STDDEV_POP(2)'),
    ('function/func_aggr_std.test', 'STDDEV_SAMP(null)'),
    ('function/func_aggr_sum.test', 'SUM(NULL)'),
    ('function/func_aggr_sum.test', 'sum(1)>sum(0)'),
    ('function/func_aggr_var_pop.test', 'var_pop(null)'),
    ('function/func_aggr_var_pop.test', 'var_pop(99999999999999999.99999)'),
    ('function/func_aggr_var_pop.test', 'var_pop(999999999999999933193939.99999)'),
    ('function/func_aggr_var_pop.test', 'var_pop(-99999999999999999.99999)'),
    ('function/func_aggr_var_pop.test', 'var_pop(-999999999999999933193939.99999)'),
    ('function/func_aggr_var_pop.test', 'var_pop(1)<var_pop(2)'),
    ('function/func_aggr_var_pop.test', 'variance(null)'),
    ('function/func_aggr_var_pop.test', 'variance(99999999999999999.99999)'),
    ('function/func_aggr_var_samp.test', 'VAR_SAMP(null)'),
    ('function/func_aggr_var_samp.test', 'VAR_SAMP(99999999999999999.99999)'),
    ('function/func_aggr_var_samp.test', 'VAR_SAMP(999999999999999933193939.99999)'),
    ('function/func_aggr_var_samp.test', 'VAR_SAMP(-99999999999999999.99999)'),
]
BVT2_STRING = [
]


def _battery_spark_sql(numeric, strings) -> str:
    rows = []
    for i, (_, e) in enumerate(numeric):
        v = translate(e)
        rows.append(
            f"SELECT CAST({i} AS INT) AS sid, "
            f"CASE WHEN isnan(ROUND(CAST(({v}) AS DOUBLE), 6)) THEN CAST(NULL AS DOUBLE) "
            f"ELSE ROUND(CAST(({v}) AS DOUBLE), 6) END AS val_num, "
            f"CAST(NULL AS STRING) AS val_str"
        )
    base = len(numeric)
    for i, (_, e) in enumerate(strings):
        v = translate(e)
        rows.append(
            f"SELECT CAST({base + i} AS INT) AS sid, CAST(NULL AS DOUBLE) AS val_num, "
            f"CAST(({v}) AS STRING) AS val_str"
        )
    return " UNION ALL ".join(rows)


def _battery_oracle_sql(numeric, strings) -> str:
    rows = []
    for i, (_, e) in enumerate(numeric):
        e = _pop_aggs(e)
        rows.append(
            f"SELECT CAST({i} AS INT) AS sid, "
            f"CASE WHEN isnan(ROUND(CAST(({e}) AS DOUBLE), 6)) THEN CAST(NULL AS DOUBLE) "
            f"ELSE ROUND(CAST(({e}) AS DOUBLE), 6) END AS val_num, "
            f"CAST(NULL AS VARCHAR) AS val_str"
        )
    base = len(numeric)
    for i, (_, e) in enumerate(strings):
        e = _pop_aggs(e)
        rows.append(
            f"SELECT CAST({base + i} AS INT) AS sid, CAST(NULL AS DOUBLE) AS val_num, "
            f"CAST(({e}) AS VARCHAR) AS val_str"
        )
    return " UNION ALL ".join(rows)


@register(
    "bvt_operator_battery",
    oracle=_battery_oracle_sql(BVT2_NUMERIC, BVT2_STRING),
    tags=("bvt", "dialect"),
    doc=(
        "Second stateless BVT slice: constant SELECT expressions harvested "
        "from the reference's operator/, expression/, and function/*.test "
        "BVT suites, same harvest+curation pipeline and evaluation shape as "
        "bvt_select_battery."
    ),
)
def bvt_operator_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, _battery_spark_sql(BVT2_NUMERIC, BVT2_STRING))


# --- stateful-category batteries (tools/bvt_bake.py) ------------------------
# Whole reference BVT categories compiled to driver-oracle form: each case is
# a fixture snapshot (the tables as the script had built them at that point)
# + the script's own SELECT, canonicalized to (sid, val) rows. The Spark side
# translates the MySQL text through mysql_dialect (quantified comparisons,
# projection-IN, function rewrites all exercised); the oracle runs the
# DuckDB-dialect rendering of the same cases. See BVT_REPORT.md for the
# whole-category co-execution stats behind the kept/dropped accounting.
from matrixone_spark.queries.bvt_baked_data import BAKED


def _register_baked(cat: str) -> None:
    spark_sql, duck_sql, n, srcs = BAKED[cat]
    # "operator" collides with the r2 constant-expression battery name
    qname = f"bvt_{cat}_battery" if cat != "operator" else "bvt_operator_scripts_battery"

    @register(
        qname,
        oracle=duck_sql,
        tags=("bvt", "dialect", "stateful"),
        doc=(
            f"Stateful BVT category battery: {n} SELECT cases baked from "
            f"reference test/distributed/cases/{cat}/ ({srcs}) with their "
            "script-built table states as fixtures (tools/bvt_bake.py)."
        ),
    )
    def baked_battery(spark: SparkSession, sf_dir: str, _sql: str = spark_sql) -> DataFrame:
        return run_sql(spark, _sql)

    baked_battery.__name__ = qname


for _cat in BAKED:
    _register_baked(_cat)
