"""Scalar function batteries — SURVEY §2.8 families, oracle-gated.

Each query SELECTs a battery of expressions from one family over a real
table, with the identical computation written in DuckDB SQL. Reference
registry: pkg/sql/plan/function/function_id.go:813-1420; overloads
list_builtIn.go. Families whose kernels are engine-specific by design
(crypto AES, soundex variants) are covered by unit tests instead
(tests/test_mysql_funcs.py).

FP discipline: transcendental functions (exp/ln/sin/...) may differ in the
last ULP between the JVM and libm → rounded to 9 decimals on both sides.
Integer/string/date functions compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.queries import register


@register(
    "func_string_battery",
    oracle="""
SELECT p_partkey,
       CONCAT(p_brand, ':', p_type)                         AS cat,
       CONCAT_WS('|', p_brand, p_type, CAST(p_size AS VARCHAR)) AS catws,
       UPPER(p_name) AS up, LOWER(p_brand) AS lo,
       SUBSTRING(p_name, 3, 5) AS sub,
       SUBSTRING(p_name, 1, 4) AS left4,
       SUBSTRING(p_name, LENGTH(p_name) - 2, 3) AS right3,
       LPAD(CAST(p_size AS VARCHAR), 5, '0') AS lp,
       RPAD(p_brand, 12, '*') AS rp,
       TRIM(CONCAT('  ', p_brand, ' ')) AS trm,
       REPLACE(p_type, 'A', '@') AS repl,
       REVERSE(p_brand) AS rev,
       REPEAT(p_brand, 2) AS rep,
       LENGTH(p_name) AS len,
       STRPOS(p_name, 'a') AS pos_a,
       SPLIT_PART(p_brand, '#', 2) AS brand_num,
       ASCII(p_brand) AS asc_first,
       STARTS_WITH(p_type, 'PRO') AS sw,
       CASE WHEN p_type LIKE '%DAR%' THEN 1 ELSE 0 END AS has_dar,
       MD5(p_name) AS md5_name
FROM part WHERE p_partkey <= 500
""",
    tags=("functions",),
    doc="String family (list_builtIn.go:79 supportedStringBuiltIns): concat/concat_ws/upper/lower/substring/left/right/lpad/rpad/trim/replace/reverse/repeat/length/locate/split_part/ascii/startswith/like/md5.",
)
def func_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Catalog(spark, sf_dir).table("part").filter(F.col("p_partkey") <= 500)
    name, brand, ptype = F.col("p_name"), F.col("p_brand"), F.col("p_type")
    return p.select(
        "p_partkey",
        F.concat(brand, F.lit(":"), ptype).alias("cat"),
        F.concat_ws("|", brand, ptype, F.col("p_size").cast("string")).alias("catws"),
        F.upper(name).alias("up"),
        F.lower(brand).alias("lo"),
        F.substring(name, 3, 5).alias("sub"),
        F.substring(name, 1, 4).alias("left4"),
        F.substring(name, F.length(name) - 2, F.lit(3)).alias("right3"),
        F.lpad(F.col("p_size").cast("string"), 5, "0").alias("lp"),
        F.rpad(brand, 12, "*").alias("rp"),
        F.trim(F.concat(F.lit("  "), brand, F.lit(" "))).alias("trm"),
        F.replace(ptype, F.lit("A"), F.lit("@")).alias("repl"),
        F.reverse(brand).alias("rev"),
        F.repeat(brand, 2).alias("rep"),
        F.length(name).alias("len"),
        F.instr(name, "a").alias("pos_a"),
        F.split_part(brand, F.lit("#"), F.lit(2)).alias("brand_num"),
        F.ascii(brand).alias("asc_first"),
        F.startswith(ptype, F.lit("PRO")).alias("sw"),
        F.when(ptype.like("%DAR%"), 1).otherwise(0).alias("has_dar"),
        F.md5(name).alias("md5_name"),
    )


@register(
    "func_regexp_battery",
    oracle="""
SELECT c_custkey,
       REGEXP_MATCHES(c_name, '[0-9]{3}$')                    AS ends_3digits,
       REGEXP_EXTRACT(c_name, '([0-9]+)', 1)                  AS digits,
       REGEXP_REPLACE(c_name, '[0-9]', '#', 'g')              AS masked,
       REGEXP_MATCHES(c_mktsegment, '^(BUILD|AUTO)')          AS seg_ba
FROM customer WHERE c_custkey <= 300
""",
    tags=("functions",),
    doc="Regex family (func_builtin_regexp.go: regexp_like/instr/replace/substr). DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.",
)
def func_regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 300)
    return c.select(
        "c_custkey",
        F.col("c_name").rlike("[0-9]{3}$").alias("ends_3digits"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("masked"),
        F.col("c_mktsegment").rlike("^(BUILD|AUTO)").alias("seg_ba"),
    )


@register(
    "func_date_battery",
    oracle="""
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT)      AS y,
       CAST(QUARTER(o_orderdate) AS INT)   AS q,
       CAST(MONTH(o_orderdate) AS INT)     AS mo,
       CAST(DAY(o_orderdate) AS INT)       AS d,
       CAST(HOUR(o_orderdate) AS INT)      AS h,
       CAST(MINUTE(o_orderdate) AS INT)    AS mi,
       CAST(SECOND(o_orderdate) AS INT)    AS s,
       CAST(DAYOFYEAR(o_orderdate) AS INT) AS doy,
       CAST(ISODOW(o_orderdate) AS INT)    AS isodow,
       CAST(WEEK(o_orderdate) AS INT)      AS wk,
       DATE_TRUNC('month', o_orderdate)    AS mstart,
       CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS meand,
       CAST(o_orderdate + INTERVAL 45 DAY AS TIMESTAMP)  AS plus45,
       CAST(o_orderdate - INTERVAL 3 MONTH AS TIMESTAMP) AS minus3m,
       DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
       CAST(EPOCH(o_orderdate) AS BIGINT)  AS unix_ts,
       STRFTIME(o_orderdate, '%Y-%m')      AS ym,
       MONTHNAME(o_orderdate)              AS mname,
       DAYNAME(o_orderdate)                AS dname
FROM orders WHERE o_orderkey <= 400
""",
    tags=("functions",),
    doc="Date/time family (func_unary.go, generalTime.go): extract parts, ISO dow/week, trunc, last_day, interval arithmetic, datediff, unix epoch, format, monthname/dayname. Spark dayofweek is 1=Sunday; ISO dow = weekday()+1.",
)
def func_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") <= 400)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("d"),
        F.hour(d).alias("h"),
        F.minute(d).alias("mi"),
        F.second(d).alias("s"),
        F.dayofyear(d).alias("doy"),
        (F.weekday(d) + 1).alias("isodow"),
        F.weekofyear(d).alias("wk"),
        F.date_trunc("month", d).alias("mstart"),
        F.last_day(d.cast("date")).cast("timestamp").alias("meand"),
        (d + F.expr("INTERVAL 45 DAYS")).alias("plus45"),
        (d - F.expr("INTERVAL 3 MONTHS")).alias("minus3m"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("days_to_y2k"),
        F.unix_timestamp(d).alias("unix_ts"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.date_format(d, "MMMM").alias("mname"),
        F.date_format(d, "EEEE").alias("dname"),
    )


@register(
    "func_math_battery",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey,
       ABS(l_quantity - 25)                        AS absv,
       CAST(SIGN(l_quantity - 25) AS DOUBLE)       AS sgn,
       CAST(l_suppkey % 7 AS BIGINT)               AS md,
       CAST(CEIL(l_extendedprice / 1000) AS BIGINT)  AS ce,
       CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS fl,
       ROUND(l_extendedprice / 7, 2)               AS rnd,
       ROUND(SQRT(l_extendedprice), 9)             AS sq,
       ROUND(EXP(l_discount), 9)                   AS ex,
       ROUND(LN(l_extendedprice), 9)               AS lnx,
       ROUND(LOG10(l_extendedprice), 9)            AS lg10,
       ROUND(LOG2(l_extendedprice), 9)             AS lg2,
       ROUND(POW(l_quantity, 2), 4)                AS p2,
       ROUND(SIN(l_discount), 9)                   AS sn,
       ROUND(COS(l_discount), 9)                   AS cs,
       ROUND(ATAN2(l_quantity, l_extendedprice), 9) AS at2,
       ROUND(DEGREES(l_discount), 9)               AS dg,
       ROUND(RADIANS(l_quantity), 9)               AS rd,
       GREATEST(l_quantity, l_discount * 100)      AS gr,
       LEAST(l_quantity, l_discount * 100)         AS ls,
       ROUND(PI(), 9)                              AS pival
FROM lineitem WHERE l_orderkey <= 300
""",
    tags=("functions",),
    doc="Math family (func_unary.go, momath pkg): abs/sign/mod/ceil/floor/round/sqrt/exp/ln/log10/log2/pow/sin/cos/atan2/degrees/radians/greatest/least/pi. Transcendentals rounded to 9 dp (JVM vs libm last-ULP).",
)
def func_math_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Catalog(spark, sf_dir).table("lineitem").filter(F.col("l_orderkey") <= 300)
    q, e, dd = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.abs(q - 25).alias("absv"),
        F.signum(q - 25).alias("sgn"),
        (F.col("l_suppkey") % 7).cast("bigint").alias("md"),
        F.ceil(e / 1000).alias("ce"),
        F.floor(e / 1000).alias("fl"),
        F.round(e / 7, 2).alias("rnd"),
        F.round(F.sqrt(e), 9).alias("sq"),
        F.round(F.exp(dd), 9).alias("ex"),
        F.round(F.log(e), 9).alias("lnx"),
        F.round(F.log10(e), 9).alias("lg10"),
        F.round(F.log2(e), 9).alias("lg2"),
        F.round(F.pow(q, 2), 4).alias("p2"),
        F.round(F.sin(dd), 9).alias("sn"),
        F.round(F.cos(dd), 9).alias("cs"),
        F.round(F.atan2(q, e), 9).alias("at2"),
        F.round(F.degrees(dd), 9).alias("dg"),
        F.round(F.radians(q), 9).alias("rd"),
        F.greatest(q, dd * 100).alias("gr"),
        F.least(q, dd * 100).alias("ls"),
        F.round(F.lit(3.141592653589793), 9).alias("pival"),
    )


@register(
    "func_conditional_battery",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'neg'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END                                        AS bal_band,
       CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'MACHINERY' THEN 2 ELSE 0 END AS seg_code,
       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '<bldg>')        AS seg_masked,
       CASE WHEN c_mktsegment IN ('AUTOMOBILE','FURNITURE') THEN 1 ELSE 0 END AS in_set,
       CASE WHEN c_acctbal BETWEEN 1000 AND 2000 THEN 1 ELSE 0 END AS in_range,
       CASE WHEN c_name IS NULL THEN 1 ELSE 0 END                  AS name_null,
       IF(c_acctbal > 0, 'credit', 'debit')                        AS direction
FROM customer WHERE c_custkey <= 300
""",
    tags=("functions",),
    doc="Comparison/conditional family (list_operator.go, operator_between.go, operator_in.go): searched CASE, simple CASE, nullif/coalesce, IN, BETWEEN, IS NULL, IF.",
)
def func_conditional_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 300)
    bal, seg = F.col("c_acctbal"), F.col("c_mktsegment")
    return c.select(
        "c_custkey",
        F.when(bal < 0, "neg").when(bal < 5000, "low").otherwise("high").alias("bal_band"),
        F.when(seg == "BUILDING", 1).when(seg == "MACHINERY", 2).otherwise(0).alias("seg_code"),
        F.coalesce(F.nullif(seg, F.lit("BUILDING")), F.lit("<bldg>")).alias("seg_masked"),
        seg.isin("AUTOMOBILE", "FURNITURE").cast("int").alias("in_set"),
        bal.between(1000, 2000).cast("int").alias("in_range"),
        F.col("c_name").isNull().cast("int").alias("name_null"),
        F.when(bal > 0, "credit").otherwise("debit").alias("direction"),
    )


@register(
    "func_encode_battery",
    oracle="""
SELECT s_suppkey,
       hex(encode(s_name))                    AS hx,
       lower(hex(encode(s_name)))             AS hx_lo,
       CAST(s_suppkey * 7 AS BIGINT)          AS n7,
       bin(CAST(s_suppkey * 7 AS BIGINT))     AS bin_str,
       to_base64(encode(s_name))              AS b64,
       decode(from_base64(to_base64(encode(s_name))))  AS b64_roundtrip,
       CASE ((s_suppkey % 3) + 1) WHEN 1 THEN 'one' WHEN 2 THEN 'two' WHEN 3 THEN 'three' END AS elt_pick,
       CASE WHEN 'GERMANY' IN ('FRANCE','GERMANY','CHINA') THEN 2 ELSE 0 END AS fis
FROM supplier WHERE s_suppkey <= 60
""",
    tags=("functions",),
    doc="Encode family (func_binary.go, list_builtIn.go): hex, bin, base64 roundtrip, elt (list_builtIn ELT), find_in_set — DuckDB equivalents via CASE/encode.",
)
def func_encode_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = Catalog(spark, sf_dir).table("supplier").filter(F.col("s_suppkey") <= 60)
    name_bin = F.encode("s_name", "utf-8")
    return s.select(
        "s_suppkey",
        F.hex(name_bin).alias("hx"),
        F.lower(F.hex(name_bin)).alias("hx_lo"),
        (F.col("s_suppkey") * 7).cast("bigint").alias("n7"),
        F.bin((F.col("s_suppkey") * 7).cast("bigint")).alias("bin_str"),
        F.base64(name_bin).alias("b64"),
        F.decode(F.unbase64(F.base64(name_bin)), "utf-8").alias("b64_roundtrip"),
        F.elt((F.col("s_suppkey") % 3 + 1).cast("int"), F.lit("one"), F.lit("two"), F.lit("three")).alias("elt_pick"),
        F.find_in_set(F.lit("GERMANY"), F.lit("FRANCE,GERMANY,CHINA")).alias("fis"),
    )


@register(
    "func_uint64_decimal",
    oracle="""
SELECT l_orderkey,
       CAST(CAST((CAST(l_orderkey AS DECIMAL(20,0)) + 92233720368) * 100000000 + l_partkey AS DECIMAL(20,0)) AS DOUBLE) AS packed,
       CAST((CAST(l_orderkey AS DECIMAL(20,0)) + 92233720368) * 100000000 + l_partkey AS VARCHAR) AS packed_str,
       CAST(((CAST(l_orderkey AS DECIMAL(20,0)) + 92233720368) * 100000000 + l_partkey) % 100000000 AS BIGINT) AS unpacked_part
FROM lineitem WHERE l_orderkey <= 100
""",
    tags=("functions", "types"),
    doc="uint64 semantics via DECIMAL(20,0) (SURVEY §1.2: Spark has no unsigned 64-bit — reference types.go:49 uint64). The 92233720368e8 offset pushes every packed value past int64 max (9.22e18), so arithmetic, string rendering, and modulo round-trip genuinely run in uint64 territory.",
)
def func_uint64_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Catalog(spark, sf_dir).table("lineitem").filter(F.col("l_orderkey") <= 100)
    packed = (
        (F.col("l_orderkey").cast("decimal(20,0)") + F.lit(92233720368).cast("decimal(20,0)"))
        * F.lit(100000000).cast("decimal(20,0)")
        + F.col("l_partkey")
    ).cast("decimal(20,0)")
    return l.select(
        "l_orderkey",
        # display form as DOUBLE (both engines fetch >int64 decimals
        # lossily/differently); packed_str carries the exact uint64 value
        packed.cast("double").alias("packed"),
        packed.cast("string").alias("packed_str"),
        (packed % 100000000).cast("bigint").alias("unpacked_part"),
    )


@register(
    "func_cast_battery",
    oracle="""
SELECT p_partkey,
       CAST(p_size AS VARCHAR)                 AS size_str,
       CAST(CAST(p_retailprice AS DECIMAL(18,4)) AS VARCHAR) AS price_str,
       CAST(p_size AS DOUBLE)                  AS size_dbl,
       CAST(TRUNC(p_retailprice) AS BIGINT)    AS price_trunc,
       CAST(ROUND(p_retailprice, 0) AS BIGINT) AS price_round,
       CAST(CONCAT(CAST(p_partkey AS VARCHAR), '.5') AS DOUBLE) AS str_to_dbl,
       TRY_CAST(p_brand AS INT)                AS bad_int,
       CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE)    AS via_decimal
FROM part WHERE p_partkey <= 300
""",
    tags=("functions",),
    doc="Cast matrix (func_cast.go full matrix; cast/try_cast): numeric↔string, explicit trunc-vs-round to int (MySQL/Spark double→int truncates, DuckDB rounds — made explicit so semantics are pinned), failed cast → NULL via try_cast.",
)
def func_cast_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Catalog(spark, sf_dir).table("part").filter(F.col("p_partkey") <= 300)
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("string").alias("size_str"),
        price.cast("decimal(18,4)").cast("string").alias("price_str"),
        F.col("p_size").cast("double").alias("size_dbl"),
        price.cast("long").alias("price_trunc"),
        F.round(price, 0).cast("long").alias("price_round"),
        F.concat(F.col("p_partkey").cast("string"), F.lit(".5")).cast("double").alias("str_to_dbl"),
        F.expr("try_cast(p_brand AS INT)").alias("bad_int"),
        price.cast("decimal(12,2)").cast("double").alias("via_decimal"),
    )


@register(
    "system_meta_battery",
    oracle="""
SELECT n_nationkey, n_name,
       '8.0.30-MatrixOne-v1.3.0' AS server_version,
       'mo'                      AS current_db,
       'root@localhost'          AS sess_user,
       'moadmin'                 AS sess_role,
       CAST(1 AS BIGINT)         AS conn_id,
       'utf8mb4'                 AS charset_name,
       'utf8mb4_general_ci'      AS collation_name,
       CAST(0 AS BIGINT)         AS last_ins_id,
       CAST(0 AS BIGINT)         AS n_found,
       CAST(-1 AS BIGINT)        AS n_row_count
FROM nation
""",
    tags=("functions", "system"),
    doc=(
        "System/meta functions VERSION/DATABASE/USER/CURRENT_ROLE/"
        "CONNECTION_ID/CHARSET/COLLATION/LAST_INSERT_ID/FOUND_ROWS/ROW_COUNT "
        "(function_id.go:1053-1081; Version resolves the 'version' session "
        "variable, func_unary.go:9082). Runs through mysql_dialect.translate so "
        "the dialect layer's literal-fold rewrite is what's under test "
        "(functions/system.py + mysql_dialect.py)."
    ),
)
def system_meta_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.sql_surface import run_sql
    from matrixone_spark.mysql_dialect import translate

    text = translate(
        """
        SELECT n_nationkey, n_name,
               VERSION()        AS server_version,
               DATABASE()       AS current_db,
               USER()           AS sess_user,
               CURRENT_ROLE()   AS sess_role,
               CONNECTION_ID()  AS conn_id,
               CHARSET()        AS charset_name,
               COLLATION()      AS collation_name,
               LAST_INSERT_ID() AS last_ins_id,
               FOUND_ROWS()     AS n_found,
               ROW_COUNT()      AS n_row_count
        FROM {nation}
        """
    )
    return run_sql(spark, text, nation=Catalog(spark, sf_dir).table("nation"))


@register(
    "func_crypto_battery",
    oracle="""
SELECT s_suppkey,
       sha256(s_name)                                    AS sha256_hex,
       upper(sha256(concat(s_name, ':', CAST(s_suppkey AS VARCHAR)))) AS sha256_cat,
       md5(concat(s_name, '#', CAST(s_nationkey AS VARCHAR)))         AS md5_tag,
       s_name                                            AS aes_ecb_roundtrip,
       concat(s_name, '-', CAST(s_suppkey AS VARCHAR))   AS aes_cbc_roundtrip
FROM supplier WHERE s_suppkey <= 80
""",
    tags=("functions", "crypto"),
    doc=(
        "Crypto family (func_binary.go:12240-12460 generateAESKey/getAESMode/"
        "AESEncrypt/AESDecrypt; function_id.go:1203 sha2): sha2-256 vs DuckDB "
        "sha256; MySQL-compatible AES (key-fold + ECB default, 256-CBC with "
        "explicit IV, MySQL ciphertext layout without IV prefix) gated "
        "end-to-end by encrypt->decrypt->utf8 equaling the source column — "
        "the oracle is the plaintext, so a layout or key-fold bug mismatches. "
        "sha1/sha512 have no DuckDB twin; gated vs hashlib in tests/test_crypto.py."
    ),
)
def func_crypto_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import crypto as C

    s = Catalog(spark, sf_dir).table("supplier").filter(F.col("s_suppkey") <= 80)
    iv = "0123456789abcdef"
    return s.select(
        "s_suppkey",
        C.sha2(F.col("s_name"), 256).alias("sha256_hex"),
        F.upper(
            C.sha2(F.concat_ws(":", "s_name", F.col("s_suppkey").cast("string")), 256)
        ).alias("sha256_cat"),
        F.md5(F.concat_ws("#", "s_name", F.col("s_nationkey").cast("string"))).alias("md5_tag"),
        C.aes_decrypt(C.aes_encrypt("s_name", "bvt-key"), "bvt-key")
        .cast("string")
        .alias("aes_ecb_roundtrip"),
        C.aes_decrypt(
            C.aes_encrypt(
                F.concat_ws("-", "s_name", F.col("s_suppkey").cast("string")),
                "cbc-key-32",
                "aes-256-cbc",
                iv,
            ),
            "cbc-key-32",
            "aes-256-cbc",
            iv,
        )
        .cast("string")
        .alias("aes_cbc_roundtrip"),
    )


@register(
    "func_mysql2_battery",
    oracle="""
SELECT o_orderkey,
       array_to_string((string_split(o_orderpriority, '-'))[1:1], '-') AS prio_num,
       ltrim(concat('  ', o_orderstatus))                  AS lt,
       rtrim(concat(o_orderstatus, '  '))                  AS rt,
       bit_length(o_orderpriority)                         AS bitlen,
       length(o_orderpriority)                             AS charlen,
       ends_with(o_orderpriority, 'LOW')                   AS ew,
       regexp_extract(o_orderpriority, '[0-9]+')           AS re_sub,
       position(regexp_extract(o_orderpriority, '[0-9]+') IN o_orderpriority) AS re_pos,
       strftime(CAST(to_timestamp(o_orderkey * 1000) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS fut,
       CAST(CAST(o_orderdate AS DATE) - 30 AS TIMESTAMP)   AS d_sub,
       CAST(floor((epoch_us(o_orderdate) - epoch_us(TIMESTAMP '1994-01-01 00:00:00')) / 3600000000) AS BIGINT) AS h_diff,
       o_orderdate + INTERVAL 90 MINUTE                    AS ts_add,
       CAST(timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC') AS TIMESTAMP) AS nyc,
       CAST(make_date(1996, 1, 1) + (CAST(o_orderkey % 365 AS INT) + 1 - 1) AS TIMESTAMP) AS md,
       printf('%02d:%02d:%02d', CAST(o_orderkey % 24 AS INT), CAST(o_orderkey % 60 AS INT), 30) AS mt
FROM orders WHERE o_orderkey <= 400
""",
    tags=("functions", "mysql"),
    doc=(
        "Second MySQL-function battery (function_id.go gaps audit): "
        "substring_index, ltrim/rtrim, bit_length/char_length, endswith, "
        "regexp_substr/regexp_instr, from_unixtime, date_sub, "
        "timestampdiff/timestampadd (complete-unit MySQL semantics — the "
        "oracle uses epoch arithmetic, NOT DuckDB date_diff which counts "
        "calendar-boundary crossings), convert_tz (IANA rebase), makedate, "
        "maketime."
    ),
)
def func_mysql2_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import mysql as M

    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") <= 400)
    prio, od = F.col("o_orderpriority"), F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.substring_index(prio, "-", 1).alias("prio_num"),
        F.ltrim(F.concat(F.lit("  "), F.col("o_orderstatus"))).alias("lt"),
        F.rtrim(F.concat(F.col("o_orderstatus"), F.lit("  "))).alias("rt"),
        F.bit_length(prio).alias("bitlen"),
        F.char_length(prio).alias("charlen"),
        F.endswith(prio, F.lit("LOW")).alias("ew"),
        F.regexp_substr(prio, F.lit("[0-9]+")).alias("re_sub"),
        F.regexp_instr(prio, F.lit("[0-9]+")).alias("re_pos"),
        F.from_unixtime(F.col("o_orderkey") * 1000).alias("fut"),
        F.date_sub(od, 30).cast("timestamp").alias("d_sub"),
        M.timestampdiff("HOUR", F.lit("1994-01-01 00:00:00").cast("timestamp"), od).alias("h_diff"),
        M.timestampadd("MINUTE", 90, od).alias("ts_add"),
        M.convert_tz(od, "UTC", "America/New_York").alias("nyc"),
        M.makedate(F.lit(1996), F.col("o_orderkey") % 365 + 1).cast("timestamp").alias("md"),
        M.maketime(F.col("o_orderkey") % 24, F.col("o_orderkey") % 60, F.lit(30)).alias("mt"),
    )


@register(
    "func_compress_battery",
    oracle="""
SELECT s_suppkey,
       s_name                         AS roundtrip,
       CAST(octet_length(encode(s_name)) AS BIGINT) AS unc_len,
       ''                             AS empty_roundtrip
FROM supplier WHERE s_suppkey <= 100
""",
    tags=("functions", "udf"),
    doc=(
        "COMPRESS/UNCOMPRESS/UNCOMPRESSED_LENGTH (func_unary.go:5920: MySQL "
        "layout 4-byte LE uncompressed length + zlib; ''→''): gated by "
        "decompress(compress(x)) == x, the length prefix equaling the "
        "oracle's octet_length, and the empty-string special case."
    ),
)
def func_compress_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.mysql import compress, uncompress, uncompressed_length

    s = Catalog(spark, sf_dir).table("supplier").filter(F.col("s_suppkey") <= 100)
    return s.select(
        "s_suppkey",
        uncompress(compress("s_name")).cast("string").alias("roundtrip"),
        uncompressed_length(compress("s_name")).alias("unc_len"),
        uncompress(compress(F.lit(""))).cast("string").alias("empty_roundtrip"),
    )


@register(
    "func_serial_pack",
    oracle="""
SELECT o_orderkey,
       printf('%016x%016x', o_custkey, o_orderkey) AS packed,
       o_custkey  AS part0,
       o_orderkey AS part1,
       ROW_NUMBER() OVER (ORDER BY o_custkey, o_orderkey) AS tuple_rank,
       ROW_NUMBER() OVER (ORDER BY printf('%016x%016x', o_custkey, o_orderkey)) AS packed_rank
FROM orders WHERE o_orderkey <= 500
""",
    tags=("functions", "types"),
    doc=(
        "serial/serial_extract (func_builtin_serial.go opSerial, "
        "serial_contract.go tuple encoding): order-preserving composite-key "
        "packing as fixed-width big-endian hex. The gate checks BOTH the "
        "roundtrip (extract(pack) == parts) and the defining property — "
        "rank by packed string equals rank by tuple."
    ),
)
def func_serial_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from matrixone_spark.functions.mysql import serial_extract, serial_pack

    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") <= 500)
    packed = serial_pack("o_custkey", "o_orderkey")
    w_t = Window.orderBy("o_custkey", "o_orderkey")
    w_p = Window.orderBy(packed)
    return o.select(
        "o_orderkey",
        packed.alias("packed"),
        serial_extract(packed, 0).alias("part0"),
        serial_extract(packed, 1).alias("part1"),
        F.row_number().over(w_t).alias("tuple_rank"),
        F.row_number().over(w_p).alias("packed_rank"),
    )


@register(
    "func_regexp2_battery",
    oracle="""
SELECT p_partkey,
       len(regexp_extract_all(p_name, '[aeiou]+'))        AS vowel_runs,
       CASE WHEN regexp_matches(p_name, '(?i)^[a-m]') THEN 1 ELSE 0 END AS starts_am,
       coalesce(array_to_string(regexp_extract_all(p_name, '[0-9]+'), '|'), '') AS digit_groups,
       regexp_replace(p_name, '[aeiou]', '*', 'g')        AS starred
FROM part WHERE p_partkey <= 400
""",
    tags=("functions", "regexp"),
    doc=(
        "regexp_count / regexp_like (case-insensitive flag) / "
        "regexp_extract_all / global regexp_replace (reference reg_match + "
        "regexp_* family, function_id.go) — DuckDB needs the 'g' flag to "
        "match Spark's replace-all default."
    ),
)
def func_regexp2_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Catalog(spark, sf_dir).table("part").filter(F.col("p_partkey") <= 400)
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.regexp_count(name, F.lit("[aeiou]+")).alias("vowel_runs"),
        F.when(F.regexp_like(name, F.lit("(?i)^[a-m]")), 1).otherwise(0).alias("starts_am"),
        F.array_join(F.regexp_extract_all(name, F.lit("([0-9]+)")), "|").alias("digit_groups"),
        F.regexp_replace(name, "[aeiou]", "*").alias("starred"),
    )


@register(
    "func_time_battery",
    oracle="""
SELECT event_id,
       ts + ((user_id % 12) * 3600 + 1845) * INTERVAL '1 second'   AS add1,
       ts - 8130 * INTERVAL '1 second'                             AS sub1,
       LPAD(CAST((epoch_us(ts) // 1000000 % 86400) // 3600 AS VARCHAR), 2, '0')
         || ':' ||
       LPAD(CAST((epoch_us(ts) // 1000000 % 3600) // 60 AS VARCHAR), 2, '0')
         || ':' ||
       LPAD(CAST(epoch_us(ts) // 1000000 % 60 AS VARCHAR), 2, '0') AS td,
       strftime(ts, '%H:%M:%S')                                    AS tf,
       (DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) + 719528) * 86400
         + epoch_us(ts) // 1000000 % 86400                         AS tsec,
       epoch_us(ts) % 1000000                                      AS micro,
       CASE CAST(event_id % 3 AS INT) WHEN 0 THEN '%m.%d.%Y'
                                      WHEN 1 THEN '%d.%m.%Y'
                                      ELSE '%Y%m%d' END            AS gf_date,
       '%h:%i:%s %p'                                               AS gf_time_usa,
       '%Y-%m-%d %H:%i:%s'                                         AS gf_dt_iso,
       CAST(NULL AS VARCHAR)                                       AS gf_bad
FROM events WHERE event_id < 1500
""",
    tags=("functions", "date"),
    doc=(
        "TIME-function family (func_binary.go addtime/subtime/timediff/"
        "time_format, func_unary.go to_seconds/microsecond): ADDTIME with a "
        "per-row varying TIME string, SUBTIME, TIMEDIFF vs day start "
        "(= time-of-day HH:MM:SS), TIME_FORMAT %-code translation, "
        "TO_SECONDS day-number arithmetic, MICROSECOND. Exact-parity rule: "
        "all second arithmetic via unix_micros (memory: unix_timestamp "
        "floors vs DuckDB fractional epochs)."
    ),
)
def func_time_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import mysql as M

    e = Catalog(spark, sf_dir).table("events").filter(F.col("event_id") < 1500)
    ts = F.col("ts")
    tstr = F.concat(
        F.lpad((F.col("user_id") % 12).cast("string"), 2, "0"), F.lit(":30:45")
    )
    return e.select(
        "event_id",
        M.addtime(ts, tstr).alias("add1"),
        M.subtime(ts, F.lit("02:15:30")).alias("sub1"),
        M.timediff(ts, F.date_trunc("day", ts)).alias("td"),
        M.time_format(ts, "%H:%i:%s").alias("tf"),
        M.to_seconds(ts).alias("tsec"),
        M.microsecond(ts).alias("micro"),
        M.get_format(
            F.lit("DATE"),
            F.element_at(
                F.array(F.lit("USA"), F.lit("EUR"), F.lit("INTERNAL")),
                (F.col("event_id") % 3 + 1).cast("int"),
            ),
        ).alias("gf_date"),
        M.get_format("TIME", "USA").alias("gf_time_usa"),
        M.get_format("DATETIME", "ISO").alias("gf_dt_iso"),
        M.get_format("DATE", "NOPE").alias("gf_bad"),
    )


@register(
    "func_math2_battery",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(ACOS(l_discount), 9)                    AS ac,
       ROUND(ATAN(l_quantity), 9)                    AS at1,
       ROUND(ATAN2(l_quantity, 7.5), 9)              AS at2,
       ROUND(TAN(l_discount), 9)                     AS tn,
       ROUND(COS(l_discount + 0.05) / SIN(l_discount + 0.05), 9) AS ct,
       ROUND((EXP(l_discount * 5) - EXP(-l_discount * 5)) / 2, 9) AS sh,
       printf('%o', CAST(l_suppkey AS BIGINT))       AS oc,
       ASCII(l_returnflag)                           AS ord_rf,
       xor(CAST(l_orderkey AS BIGINT), CAST(l_partkey AS BIGINT)) AS xr
FROM lineitem WHERE l_orderkey <= 300
""",
    tags=("functions", "math"),
    doc=(
        "Math family part 2 (func_unary.go registry: acos/atan/tan/cot/"
        "sinh/oct/ord, operator xor). Transcendentals rounded to 9 (JVM vs "
        "libm last-ULP rule); inputs kept in low-derivative domains so the "
        "rounding is stable (tan/cot near poles would amplify input ULPs). "
        "cot/sinh expressed via cos/sin and exp on the oracle side; oct via "
        "printf('%o'); ord ≡ ascii for 1-byte charsets (func_unary.go ord)."
    ),
)
def func_math2_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Catalog(spark, sf_dir).table("lineitem").filter(F.col("l_orderkey") <= 300)
    disc, qty = F.col("l_discount"), F.col("l_quantity")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.acos(disc), 9).alias("ac"),
        F.round(F.atan(qty), 9).alias("at1"),
        F.round(F.atan2(qty, F.lit(7.5)), 9).alias("at2"),
        F.round(F.tan(disc), 9).alias("tn"),
        F.round(F.cot(disc + 0.05), 9).alias("ct"),
        F.round(F.sinh(disc * 5), 9).alias("sh"),
        F.conv(F.col("l_suppkey").cast("string"), 10, 8).alias("oc"),
        F.ascii("l_returnflag").alias("ord_rf"),
        F.col("l_orderkey").cast("long").bitwiseXOR(F.col("l_partkey").cast("long")).alias("xr"),
    )


@register(
    "func_inet6_battery",
    oracle="""
SELECT n_nationkey,
       printf('20010db800000000000000000000%04x', 4096 + n_nationkey) AS v6_hex,
       printf('00000000000000000000ffff0a0005%02x', n_nationkey) AS mapped_hex,
       printf('0a0005%02x', n_nationkey)                         AS v4_hex,
       '2001:db8::' || printf('%x', 4096 + n_nationkey)          AS v6_rt,
       '::ffff:10.0.5.' || CAST(n_nationkey AS VARCHAR)          AS mapped_rt,
       TRUE  AS is6_a, FALSE AS is6_b,
       FALSE AS compat_m, TRUE AS mapped_m, TRUE AS compat_c,
       TRUE  AS uuid_ok, FALSE AS uuid_bad
FROM nation
""",
    tags=("functions", "mysql"),
    doc=(
        "INET6 family (func_binary.go inet6_aton/inet6_ntoa/is_ipv6/"
        "is_ipv4_compat/is_ipv4_mapped, is_uuid): binary addresses as hex "
        "strings; aton exercises '::' decompression + dotted-quad dual "
        "output width, ntoa round-trips to RFC 5952 compressed form, "
        "compat/mapped prefix classification are pure Column expressions. "
        "Oracle reconstructs the packed hex with printf and pins the "
        "booleans per constructed input class."
    ),
)
def func_inet6_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import mysql as M

    n = Catalog(spark, sf_dir).table("nation")
    key = F.col("n_nationkey")
    v6 = F.concat(F.lit("2001:db8::"), F.lower(F.conv((key + 4096).cast("string"), 10, 16)))
    mapped = F.concat(F.lit("::ffff:10.0.5."), key.cast("string"))
    compat = F.concat(F.lit("::10.0.5."), key.cast("string"))
    v4 = F.concat(F.lit("10.0.5."), key.cast("string"))
    uuid_s = F.concat(F.lit("550e8400-e29b-41d4-a716-"), F.lpad(key.cast("string"), 12, "0"))
    return n.select(
        "n_nationkey",
        M.inet6_aton_hex(v6).alias("v6_hex"),
        M.inet6_aton_hex(mapped).alias("mapped_hex"),
        M.inet6_aton_hex(v4).alias("v4_hex"),
        M.inet6_ntoa_hex(M.inet6_aton_hex(v6)).alias("v6_rt"),
        M.inet6_ntoa_hex(M.inet6_aton_hex(mapped)).alias("mapped_rt"),
        M.is_ipv6(v6).alias("is6_a"),
        M.is_ipv6(v4).alias("is6_b"),
        M.is_ipv4_mapped(M.inet6_aton_hex(compat)).alias("compat_m"),
        M.is_ipv4_mapped(M.inet6_aton_hex(mapped)).alias("mapped_m"),
        M.is_ipv4_compat(M.inet6_aton_hex(compat)).alias("compat_c"),
        M.is_uuid(uuid_s).alias("uuid_ok"),
        M.is_uuid(F.concat(F.lit("not-a-uuid-"), key.cast("string"))).alias("uuid_bad"),
    )


@register(
    "system_clock_battery",
    oracle="""
SELECT n_nationkey,
       TIMESTAMP '2024-06-15 12:34:56.789'                    AS now_ts,
       TIMESTAMP '2024-06-15 00:00:00'                        AS cur_d,
       '12:34:56'                                             AS cur_t,
       TIMESTAMP '2024-06-15 12:34:56.789'
         + n_nationkey * INTERVAL '1 day'                     AS due,
       DATEDIFF('day', DATE '1995-06-15',
                DATE '2024-06-15') - n_nationkey              AS age_days
FROM nation
""",
    tags=("functions", "system"),
    doc=(
        "Statement-clock family (function_id.go NOW/CURDATE/CURTIME/SYSDATE/"
        "UTC_*): the reference binds the clock once per statement from the "
        "txn timestamp; SessionContext(statement_ts=...) injects that "
        "binding, making now()-relative queries deterministic and oracle-"
        "checkable. UTC variants coincide under the UTC session zone."
    ),
)
def system_clock_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import system as S

    ctx = S.SessionContext(statement_ts="2024-06-15 12:34:56.789")
    n = Catalog(spark, sf_dir).table("nation")
    key = F.col("n_nationkey")
    return n.select(
        "n_nationkey",
        S.now(ctx).alias("now_ts"),
        S.curdate(ctx).cast("timestamp").alias("cur_d"),
        S.curtime(ctx).alias("cur_t"),
        (S.utc_timestamp(ctx) + F.make_interval(days=key)).alias("due"),
        (F.datediff(S.curdate(ctx), F.lit("1995-06-15").cast("date")) - key).alias("age_days"),
    )


@register(
    "func_misc_battery",
    oracle="""
SELECT c_custkey,
       (['alpha','beta','gamma'])[1 + c_custkey % 4]          AS elt_pick,
       chr(65 + c_nationkey)                                  AS char_code,
       CASE WHEN c_acctbal < 0 THEN '-' ELSE '' END
         || format('{:,}', CAST(trunc(abs(c_acctbal)) AS BIGINT))
         || '.' || substr(CAST(CAST(abs(c_acctbal) AS DECIMAL(18,2)) AS VARCHAR), -2) AS fmt_bal,
       NULLIF(c_nationkey, 5) IS NOT DISTINCT FROM
         NULLIF(c_custkey % 25, 5)                            AS nse,
       repeat(' ', c_nationkey % 4) || '|'                    AS spaced,
       (CASE WHEN c_nationkey >= 5 THEN 1 ELSE 0 END
        + CASE WHEN c_nationkey >= 10 THEN 1 ELSE 0 END
        + CASE WHEN c_nationkey >= 20 THEN 1 ELSE 0 END)      AS iv,
       'const_col'                                            AS nc
FROM customer WHERE c_custkey <= 500
""",
    tags=("functions", "mysql"),
    doc=(
        "Misc MySQL-compat family (function_id.go ELT/CHAR/FORMAT/SPACE, "
        "operator.go null-safe equal <=>; BVT func_string_elt, "
        "func_string_char, func_string_format, func_null_safe_equal, "
        "func_string_space): ELT out-of-range index yields NULL in both "
        "engines; FORMAT = format_number thousands grouping (oracle composes "
        "integer grouping + exact 2-dec fraction since DuckDB fmt rejects "
        "grouped floats); <=> = eqNullSafe with NULLs manufactured via "
        "NULLIF so the null=null branch is exercised."
    ),
)
def func_misc_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import mysql as M

    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 500)
    key, nk, bal = F.col("c_custkey"), F.col("c_nationkey"), F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.elt(1 + key % 4, F.lit("alpha"), F.lit("beta"), F.lit("gamma")).alias("elt_pick"),
        F.char(65 + nk).alias("char_code"),
        F.format_number(bal.cast("decimal(18,2)"), 2).alias("fmt_bal"),
        F.nullif(nk, F.lit(5)).eqNullSafe(F.nullif(key % 25, F.lit(5))).alias("nse"),
        F.concat(F.repeat(F.lit(" "), (nk % 4).cast("int")), F.lit("|")).alias("spaced"),
        M.interval_rank(nk, 5, 10, 20).alias("iv"),
        F.lit("const_col").alias("nc"),  # NAME_CONST(name, value) -> named literal
    )


@register(
    "operator_battery",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 2730                                      AS band,
       o_orderkey | 85                                        AS bor,
       xor(o_orderkey, 255)                                   AS bxor,
       ~o_orderkey                                            AS bnot,
       o_orderkey << 3                                        AS shl,
       o_orderkey >> 2                                        AS shr,
       o_orderkey // 7                                        AS idiv,
       o_orderkey % 7                                         AS imod,
       (o_orderkey BETWEEN 100 AND 200)                       AS betw,
       (o_orderstatus IN ('O','F'))                           AS inset,
       (o_orderpriority IS NOT NULL)                          AS nn,
       ((o_orderkey % 2 = 0) != (o_orderkey % 3 = 0))         AS lxor,
       o_orderkey / (o_orderkey % 3)                          AS div0,
       o_orderkey % (o_orderkey % 3)                          AS mod0
FROM orders WHERE o_orderkey <= 2000
""",
    tags=("functions",),
    doc=(
        "Operator family (BVT operator/bit_operator, math_operator, "
        "between_and_operator, in_range_operator, is_operator, "
        "mysql_compat_bitwise/logical_expr; kernels pkg/sql/plan/function/"
        "operator.go): bitwise & | ^ ~ << >>, integer DIV, MOD, BETWEEN, "
        "IN-list, IS NOT NULL, logical XOR (MySQL a XOR b = boolean "
        "inequality), and non-strict divide/modulo by zero -> NULL "
        "(func_div_by_zero; both engines agree with ANSI off). DuckDB "
        "spells bit-xor as xor() and integer division as //."
    ),
)
def operator_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") <= 2000)
    key = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        key.bitwiseAND(F.lit(2730)).alias("band"),
        key.bitwiseOR(F.lit(85)).alias("bor"),
        key.bitwiseXOR(F.lit(255)).alias("bxor"),
        F.expr("~o_orderkey").alias("bnot"),
        F.shiftleft(key, 3).alias("shl"),
        F.shiftright(key, 2).alias("shr"),
        F.expr("o_orderkey div 7").alias("idiv"),
        (key % 7).alias("imod"),
        key.between(100, 200).alias("betw"),
        F.col("o_orderstatus").isin("O", "F").alias("inset"),
        F.col("o_orderpriority").isNotNull().alias("nn"),
        ((key % 2 == 0) != (key % 3 == 0)).alias("lxor"),
        # non-strict div-by-zero -> NULL (BVT func_div_by_zero; ANSI off)
        (key / (key % 3)).alias("div0"),
        (key % (key % 3)).alias("mod0"),
    )


@register(
    "collation_ci_battery",
    oracle="""
WITH mixed AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_mktsegment)
              ELSE LOWER(c_mktsegment) END AS seg
  FROM customer WHERE c_custkey <= 1000
)
SELECT lower(seg)        AS seg_ci,
       COUNT(*)          AS cnt,
       MIN(c_custkey)    AS first_key,
       length('café')    AS nchars,
       strlen('café')    AS nbytes
FROM mixed GROUP BY lower(seg)
""",
    tags=("functions", "mysql"),
    doc=(
        "Collation family (BVT charset_collation/, utf8mb4_general_ci "
        "semantics; charset/collation registry pkg/sql/plan/function/"
        "function_id.go): case-insensitive grouping expressed with Spark 4 "
        "native collations (collate(col,'UTF8_LCASE') — hash/compare under "
        "the collation, the engine-level analogue of *_ci, not a lower() "
        "rewrite), plus multibyte char vs byte length (utf8mb4: LENGTH=bytes "
        "in MySQL, CHAR_LENGTH=chars; here nchars/nbytes on a non-ASCII "
        "literal). Oracle spells CI as lower() since DuckDB collations "
        "are connection-level."
    ),
)
def collation_ci_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").filter(F.col("c_custkey") <= 1000)
    key, seg = F.col("c_custkey"), F.col("c_mktsegment")
    mixed = c.select(
        "c_custkey",
        F.when(key % 2 == 0, F.upper(seg)).otherwise(F.lower(seg)).alias("seg"),
    )
    return (
        mixed.groupBy(F.collate(F.col("seg"), "UTF8_LCASE").alias("g"))
        .agg(F.count("*").alias("cnt"), F.min("c_custkey").alias("first_key"))
        .select(
            F.lower(F.col("g")).cast("string").alias("seg_ci"),
            "cnt",
            "first_key",
            F.char_length(F.lit("café")).alias("nchars"),
            F.octet_length(F.lit("café")).alias("nbytes"),
        )
    )


# MySQL-doc golden vectors for the function_id.go names Spark lacks natively
# (dialect-composed in mysql_dialect.rewrite_mysql_fns): each (expr, want)
# pair comes from the MySQL reference manual examples; the oracle pins the
# documented value, the Spark side computes through the dialect rewrite.
_MYSQL3_CASES: "list[tuple[str, str, str]]" = [
    # (alias, MySQL expr, documented result literal as SQL)
    ("iff1", "iff(1=1, 'a', 'b')", "'a'"),
    ("fis1", "CAST(findinset('b', 'a,b,c') AS BIGINT)", "CAST(2 AS BIGINT)"),
    ("fis2", "CAST(findinset('z', 'a,b,c') AS BIGINT)", "CAST(0 AS BIGINT)"),
    ("mid1", "mid('abcdef', 2, 3)", "'bcd'"),
    ("fld1", "CAST(field('b', 'a', 'b', 'c') AS BIGINT)", "CAST(2 AS BIGINT)"),
    ("fld2", "CAST(field('zz', 'a', 'b') AS BIGINT)", "CAST(0 AS BIGINT)"),
    ("oct1", "oct(12)", "'14'"),
    ("ord1", "CAST(ord('a') AS BIGINT)", "CAST(97 AS BIGINT)"),
    # multi-byte ORD packs the utf-8 bytes LITTLE-endian like the
    # reference (charset_collation_errors golden: ORD('中') = 11385060)
    ("ord2", "CAST(ord('€') AS BIGINT)", "CAST(11305698 AS BIGINT)"),
    ("exs1", "export_set(5, 'Y', 'N', ',', 4)", "'Y,N,Y,N'"),
    ("exs2", "export_set(6, '1', '0', '', 10)", "'0110000000'"),
    ("mks1", "make_set(5, 'hello', 'nice', 'world')", "'hello,world'"),
    ("mks2", "make_set(0, 'a', 'b')", "''"),
    ("ins1", "insert('Quadratic', 3, 4, 'What')", "'QuWhattic'"),
    ("ins2", "insert('Quadratic', -1, 4, 'What')", "'Quadratic'"),
    ("ins3", "insert('Quadratic', 3, 100, 'What')", "'QuWhat'"),
    ("vps1", "CAST(validate_password_strength('abc') AS BIGINT)", "CAST(0 AS BIGINT)"),
    # reference scoring (func_unary.go validatePasswordStrength): 8 chars
    # one type -> 15 -> bucket 25; 9 chars all four types -> 70 -> 75
    ("vps2", "CAST(validate_password_strength('abcdefgh') AS BIGINT)", "CAST(25 AS BIGINT)"),
    ("vps3", "CAST(validate_password_strength('Abcdefg8!') AS BIGINT)", "CAST(75 AS BIGINT)"),
    ("lcu1", "lcase('AbC')", "'abc'"),
    ("ucu1", "ucase('AbC')", "'ABC'"),
]


@register(
    "func_mysql3_battery",
    oracle="SELECT "
    + ", ".join(f"{want} AS {alias}" for alias, _e, want in _MYSQL3_CASES),
    tags=("functions", "mysql", "dialect"),
    doc=(
        "Third MySQL-function battery: the function_id.go registry names "
        "with no Spark builtin — IFF, FINDINSET, MID, FIELD, OCT, ORD "
        "(multi-byte), EXPORT_SET, MAKE_SET, INSERT, "
        "VALIDATE_PASSWORD_STRENGTH, LCASE/UCASE — composed in "
        "mysql_dialect.rewrite_mysql_fns from shiftright/transform/"
        "concat_ws/conv primitives. Oracle pins the MySQL reference-manual "
        "documented values (golden vectors, crypto-battery precedent)."
    ),
)
def func_mysql3_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.sql_surface import run_sql
    from matrixone_spark.mysql_dialect import translate

    sql = "SELECT " + ", ".join(f"{e} AS {alias}" for alias, e, _w in _MYSQL3_CASES)
    return run_sql(spark, translate(sql))
