"""MySQL-dialect scalar functions absent from (or differently named in) Spark.

The reference registers ~700 function names (pkg/sql/plan/function/
function_id.go:813-1420) with typed overloads in function/list_builtIn.go.
Most map 1:1 to pyspark.sql.functions (SURVEY §2.8 table); this module fills
the gaps as *expression builders* — pure Column compositions that stay inside
whole-stage codegen (JVM). Semantics with no Column form (CONV, crc32,
COMPRESS, inet6) are plain row kernels run through one Arrow-batched UDF
wrapper (``functions.arrow_udf``).

Each builder cites the reference implementation it mirrors. MySQL semantic
notes (zero-dates, implicit casts) follow the reference's BVT expectations.
"""

from __future__ import annotations

import ipaddress
import struct
import zlib

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, BooleanType, LongType, StringType

from matrixone_spark.functions import _strict, arrow_udf, col_of


# ---------------------------------------------------------------- comparison


def field(x, *options) -> Column:
    """FIELD(x, a, b, ...) → 1-based index of x in list, 0 if absent.
    Reference: function_id.go FIELD; func_builtin_string tests."""
    x = col_of(x)
    expr = F.lit(0)
    for i in range(len(options) - 1, -1, -1):
        expr = F.when(x == F.lit(options[i]), F.lit(i + 1)).otherwise(expr)
    return expr


def strcmp(a, b) -> Column:
    """STRCMP(a,b) → -1/0/1. Reference: supportedStringBuiltIns list_builtIn.go:79."""
    a, b = col_of(a), col_of(b)
    return F.when(a < b, -1).when(a > b, 1).otherwise(0)


# ------------------------------------------------------------------- numeric


def truncate_num(x, d: int) -> Column:
    """TRUNCATE(x, d): truncate toward zero at d decimals.
    Reference: func_unary.go truncate; MySQL semantics (not round)."""
    x = col_of(x)
    scale = float(10**d)
    return (x * scale).cast("long").cast("double") / scale


_CONV_DIGITS = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_U64_MAX = (1 << 64) - 1
_I64_MAX = (1 << 63) - 1
_I64_MIN = -(1 << 63)


def _conv_scalar(n, fb, tb):
    """MySQL CONV(N, from_base, to_base) with exact sign/overflow semantics:
    leading +/- accepted, parse stops at the first invalid digit, negative
    from_base = signed 64-bit parse (clamped to int64), positive = unsigned
    (negative input wraps two's-complement), negative to_base renders signed.
    Spark's builtin conv differs on all four (BVT function/func_conv.sql)."""
    if n is None or fb is None or tb is None:
        return None
    try:
        fb, tb = int(fb), int(tb)
    except (TypeError, ValueError):
        return None
    if not (2 <= abs(fb) <= 36 and 2 <= abs(tb) <= 36):
        return None
    s = str(n).strip()
    if not s:
        return None  # func_conv.result: conv('', 10, 16) IS NULL
    i, neg = 0, False
    if i < len(s) and s[i] in "+-":
        neg = s[i] == "-"
        i += 1
    base = abs(fb)
    val = 0
    while i < len(s):
        d = _CONV_DIGITS.find(s[i].upper())
        if d < 0 or d >= base:
            break
        val = val * base + d
        i += 1
    if fb < 0:
        v = -val if neg else val
        u = max(_I64_MIN, min(_I64_MAX, v)) & _U64_MAX
    elif neg:
        # negative magnitudes wrap mod 2^64; positive overflow clamps
        # (func_conv.result:233-246 — asymmetric on purpose)
        u = (-val) & _U64_MAX
    else:
        u = min(val, _U64_MAX)
    if tb < 0 and u > _I64_MAX:
        sv = u - (1 << 64)
        return "-" + _to_base_str(-sv, -tb)
    out_base = abs(tb)
    return _to_base_str(u, out_base)


def _to_base_str(v: int, b: int) -> str:
    if v == 0:
        return "0"
    out = []
    while v:
        out.append(_CONV_DIGITS[v % b])
        v //= b
    return "".join(reversed(out))


_conv_udf = arrow_udf(_conv_scalar, StringType())


def conv(x, from_base: int, to_base: int) -> Column:
    """CONV(n, f, t) with MySQL semantics. Reference: func_unary.go conv."""
    return _conv_udf(col_of(x).cast("string"), F.lit(from_base), F.lit(to_base))


def oct_(x) -> Column:
    """OCT(n) = CONV(n, 10, 8). Reference: function_id.go OCT."""
    return F.conv(col_of(x).cast("string"), 10, 8)


def _k_crc32(v):
    """Binary values hash as they are; anything else as its UTF-8 text."""
    return zlib.crc32(v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8"))


_crc32_udf = arrow_udf(_strict(_k_crc32), LongType())


def crc32(x) -> Column:
    """CRC32(s). Reference: func_unary.go crc32. Arrow-batched row kernel
    (no Spark builtin); cheap enough off the hot path."""
    return _crc32_udf(col_of(x))


# ---------------------------------------------------------------------- date


# MySQL %-format → Java SimpleDateFormat-ish pattern used by Spark.
_MYSQL_FMT = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%c": "M", "%d": "dd", "%e": "d",
    "%H": "HH", "%k": "H", "%h": "hh", "%I": "hh", "%i": "mm", "%s": "ss",
    "%S": "ss", "%f": "SSSSSS", "%b": "MMM", "%M": "MMMM", "%a": "EEE",
    "%W": "EEEE", "%j": "DDD", "%T": "HH:mm:ss", "%r": "hh:mm:ss a",
    "%p": "a", "%%": "%",
}


# parsing-mode overrides: MySQL's %d/%m/%H… accept 1-2 digit fields
# ('May 1, 2013' parses under %d), while Java's 2-letter patterns demand
# exactly two digits; %r parses with an OPTIONAL meridian ('11:13:56' is
# valid %r input, 12 reads as 00 — func_str_to_date.sql)
_MYSQL_FMT_PARSE = {
    "%d": "d", "%e": "d", "%m": "M", "%c": "M", "%H": "H", "%k": "H",
    "%h": "h", "%I": "h", "%i": "m", "%s": "s", "%S": "s",
    "%r": "h:mm:ss[ a]", "%j": "D",
}


def mysql_format_to_java(fmt: str, parsing: bool = False) -> str:
    """Translate a MySQL date_format/str_to_date pattern to Spark's.
    ``parsing=True`` uses the lenient field widths (STR_TO_DATE);
    the default padded widths are for DATE_FORMAT output."""
    table = dict(_MYSQL_FMT)
    if parsing:
        table.update(_MYSQL_FMT_PARSE)
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            # unknown %-tokens are literal characters in MySQL; quote alpha
            # fallbacks so Spark's pattern engine doesn't read them as
            # pattern letters (e.g. '%x' must emit 'x', not week-based-year)
            out.append(table.get(tok, f"'{tok[1]}'" if tok[1].isalpha() else tok[1]))
            i += 2
        else:
            ch = fmt[i]
            if parsing and ch == ",":
                # MySQL's parser tolerates whitespace after literal
                # separators ('May 1, 2013' under '%b %d,%Y') — emit an
                # optional-space section
                out.append(",[ ]")
            else:
                # quote literal letters so SimpleDateFormat doesn't eat them
                out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


# GET_FORMAT({DATE|TIME|DATETIME}, {EUR|USA|JIS|ISO|INTERNAL}) lookup table
# (func_binary.go:5539-5625 GetFormat; DATETIME USA/EUR use '.' separators
# per the reference, diverging from stock MySQL on purpose).
_GET_FORMAT: "dict[tuple[str, str], str]" = {
    ("DATE", "USA"): "%m.%d.%Y", ("DATE", "EUR"): "%d.%m.%Y",
    ("DATE", "JIS"): "%Y-%m-%d", ("DATE", "ISO"): "%Y-%m-%d",
    ("DATE", "INTERNAL"): "%Y%m%d",
    ("TIME", "USA"): "%h:%i:%s %p", ("TIME", "EUR"): "%H.%i.%s",
    ("TIME", "JIS"): "%H:%i:%s", ("TIME", "ISO"): "%H:%i:%s",
    ("TIME", "INTERNAL"): "%H%i%s",
    ("DATETIME", "USA"): "%Y-%m-%d %H.%i.%s", ("DATETIME", "EUR"): "%Y-%m-%d %H.%i.%s",
    ("DATETIME", "JIS"): "%Y-%m-%d %H:%i:%s", ("DATETIME", "ISO"): "%Y-%m-%d %H:%i:%s",
    ("DATETIME", "INTERNAL"): "%Y%m%d%H%i%s",
}
for _k, _v in list(_GET_FORMAT.items()):
    if _k[0] == "DATETIME":
        _GET_FORMAT[("TIMESTAMP", _k[1])] = _v


def get_format(type_, locale) -> Column:
    """GET_FORMAT(type, locale) → MySQL format string, NULL for unknown
    combinations (func_binary.go:5539 GetFormat). Pure expression: a chained
    CASE over the 20-entry lookup, so constant args fold at plan time."""
    t = F.upper(type_ if isinstance(type_, Column) else F.lit(type_))
    loc = F.upper(locale if isinstance(locale, Column) else F.lit(locale))
    out = F.lit(None).cast("string")
    for (ty, lo), fmt in _GET_FORMAT.items():
        out = F.when((t == ty) & (loc == lo), F.lit(fmt)).otherwise(out)
    return out


def date_format_mysql(x, fmt: str) -> Column:
    """DATE_FORMAT(d, '%Y-%m-%d') with MySQL patterns.
    Reference: func_unary.go date_format, generalTime.go."""
    return F.date_format(col_of(x), mysql_format_to_java(fmt))


# MySQL %-tokens that consume DATE vs TIME fields — STR_TO_DATE's result
# type follows the format's content (func_str_to_date.go: date-only
# format → DATE, time-only → TIME, both → DATETIME)
STR_TO_DATE_DATE_TOKS = ("%Y", "%y", "%m", "%c", "%d", "%e", "%b", "%M",
                         "%a", "%W", "%j")
STR_TO_DATE_TIME_TOKS = ("%H", "%k", "%h", "%I", "%i", "%s", "%S", "%f",
                         "%T", "%r", "%p")


def str_to_date(x, fmt: str) -> Column:
    """STR_TO_DATE(s, fmt). Reference: func_str_to_date.go."""
    return F.to_timestamp(col_of(x), mysql_format_to_java(fmt, parsing=True))


# Days between year 0 ('0000-01-01') and epoch, per MySQL's proleptic calendar
# (TO_DAYS('1970-01-01') = 719528).
_TO_DAYS_EPOCH_OFFSET = 719528


def to_days(x) -> Column:
    """TO_DAYS(date). Reference: func_unary.go to_days (MySQL day-number)."""
    return (F.datediff(col_of(x), F.lit("1970-01-01")) + _TO_DAYS_EPOCH_OFFSET).cast("long")


def from_days(x) -> Column:
    """FROM_DAYS(n) — inverse of to_days. Reference: func_unary.go from_days."""
    return F.date_add(F.lit("1970-01-01"), (col_of(x) - _TO_DAYS_EPOCH_OFFSET).cast("int"))


def period_add(p, n) -> Column:
    """PERIOD_ADD(yyyymm, n) → yyyymm shifted by n months.
    Reference: func_unary.go period_add."""
    p = col_of(p).cast("long")
    nn = n if isinstance(n, Column) else F.lit(n)
    months = (p / 100).cast("long") * 12 + (p % 100) - 1 + nn
    return ((months / 12).cast("long") * 100 + months % 12 + 1).cast("long")


def period_diff(p1, p2) -> Column:
    """PERIOD_DIFF(p1, p2) in months. Reference: func_unary.go period_diff."""
    p1, p2 = col_of(p1).cast("long"), col_of(p2).cast("long")
    m1 = (p1 / 100).cast("long") * 12 + (p1 % 100)
    m2 = (p2 / 100).cast("long") * 12 + (p2 % 100)
    return m1 - m2


def sec_to_time(x) -> Column:
    """SEC_TO_TIME(n) → 'HH:MM:SS' string (MySQL TIME can exceed 24h).
    Reference: func_unary.go sec_to_time."""
    s = col_of(x).cast("long")
    out = F.concat_ws(
        ":",
        F.lpad((s / 3600).cast("long").cast("string"), 2, "0"),
        F.lpad(((s % 3600) / 60).cast("long").cast("string"), 2, "0"),
        F.lpad((s % 60).cast("string"), 2, "0"),
    )
    # concat_ws swallows NULL args; MySQL returns NULL for NULL input
    return F.when(s.isNull(), F.lit(None).cast("string")).otherwise(out)


def time_to_sec(x) -> Column:
    """TIME_TO_SEC('HH:MM:SS'). Reference: func_unary.go time_to_sec.
    The sign of a negative TIME ('-01:30:00' = -5400) applies to the WHOLE
    value, so compute on the absolute value and negate."""
    s = col_of(x)
    neg = s.startswith("-")
    p = F.split(F.regexp_replace(s, "^-", ""), ":")
    total = (
        p.getItem(0).cast("long") * 3600
        + p.getItem(1).cast("long") * 60
        + p.getItem(2).cast("long")
    )
    return F.when(neg, -total).otherwise(total)


def yearweek(x) -> Column:
    """YEARWEEK(d), MySQL default mode 0: Sunday-first weeks 1–53 with
    WeekYear borrow — a date before the year's first Sunday belongs to the
    last week of the PREVIOUS year (YEARWEEK('1987-01-01') = 198652).
    Reference: func_unary.go yearweek; date.go calcWeekFromCalendar."""
    d = col_of(x).cast("date")

    def wk0(e: Column) -> Column:
        jan1_dow = F.dayofweek(F.trunc(e, "YEAR"))  # Sunday = 1
        return F.floor(
            (F.dayofyear(e) - 1 + jan1_dow - 1) / 7
        ) + F.when(jan1_dow == 1, 1).otherwise(0)

    w = wk0(d)
    prev_dec31 = F.make_date(F.year(d) - 1, F.lit(12), F.lit(31))
    return (
        F.when(w >= 1, F.year(d) * 100 + w)
        .otherwise((F.year(d) - 1) * 100 + wk0(prev_dec31))
        .cast("long")
    )


# -------------------------------------------------------------------- string


def insert_str(s, pos, length, repl) -> Column:
    """INSERT(str, pos, len, newstr) = MySQL string splice → overlay.
    Reference: list_builtIn.go insert."""
    return F.overlay(col_of(s), repl if isinstance(repl, Column) else F.lit(repl), pos, length)


def export_set(bits, on: str, off: str, sep: str = ",", n_bits: int = 64) -> Column:
    """EXPORT_SET(bits, on, off, sep, n) — bit i set → on else off, joined.
    Reference: list_builtIn.go export_set. Pure array expression."""
    b = col_of(bits).cast("long")
    items = F.array(
        *[
            F.when(b.bitwiseAND(F.lit(1 << i)) != 0, F.lit(on)).otherwise(F.lit(off))
            for i in range(n_bits)
        ]
    )
    return F.array_join(items, sep)


def make_set(bits, *strings) -> Column:
    """MAKE_SET(bits, s1, s2, ...) — strings whose bit is set, comma-joined.
    Reference: list_builtIn.go make_set."""
    b = col_of(bits).cast("long")
    parts = [
        F.when(b.bitwiseAND(F.lit(1 << i)) != 0, F.lit(s)).otherwise(F.lit(None))
        for i, s in enumerate(strings)
    ]
    return F.concat_ws(",", *parts)


def quote(s) -> Column:
    """QUOTE(s) → 'escaped'. Reference: list_builtIn.go quote."""
    s = col_of(s)
    esc = F.regexp_replace(F.regexp_replace(s, r"\\", r"\\\\"), "'", r"\\'")
    return F.when(s.isNull(), F.lit("NULL")).otherwise(F.concat(F.lit("'"), esc, F.lit("'")))


# ---------------------------------------------------------------------- inet


def inet_aton(ip) -> Column:
    """INET_ATON('a.b.c.d') → number. Reference: func_binary.go inet_aton.
    Pure expression (split + weighted sum)."""
    p = F.split(col_of(ip), r"\.")
    return (
        p.getItem(0).cast("long") * 16777216
        + p.getItem(1).cast("long") * 65536
        + p.getItem(2).cast("long") * 256
        + p.getItem(3).cast("long")
    )


def inet_ntoa(n) -> Column:
    """INET_NTOA(number) → 'a.b.c.d'. Reference: func_binary.go inet_ntoa."""
    n = col_of(n).cast("long")
    return F.concat_ws(
        ".",
        ((n / 16777216).cast("long") % 256).cast("string"),
        ((n / 65536).cast("long") % 256).cast("string"),
        ((n / 256).cast("long") % 256).cast("string"),
        (n % 256).cast("string"),
    )


def is_ipv4(s) -> Column:
    """IS_IPV4(s). Reference: func_binary.go is_ipv4."""
    octet = r"(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    return col_of(s).rlike(rf"^{octet}\.{octet}\.{octet}\.{octet}$").cast("int")


# ---------------------------------------------------------------------- uuid


def uuid_to_bin(u) -> Column:
    """UUID_TO_BIN(uuid_str) → 16-byte binary. Reference: types/uuid.go."""
    return F.unhex(F.regexp_replace(col_of(u), "-", ""))


def bin_to_uuid(b) -> Column:
    """BIN_TO_UUID(bin) → canonical uuid string."""
    h = F.lower(F.hex(col_of(b)))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def makedate(year, dayofyear) -> Column:
    """MAKEDATE(year, dayofyear) (func_binary.go makedate): day-of-year 1
    anchors Jan 1; NULL for dayofyear < 1 (MySQL)."""
    y, n = col_of(year), col_of(dayofyear)
    return F.when(n >= 1, F.date_add(F.make_date(y, F.lit(1), F.lit(1)), n.cast("int") - 1))


def maketime(hour, minute, second) -> Column:
    """MAKETIME(h, m, s) → 'HH:MM:SS' string (TIME renders as text here;
    the reference's TIME type maps to string/interval in Spark)."""
    return F.format_string(
        "%02d:%02d:%02d", col_of(hour).cast("int"), col_of(minute).cast("int"), col_of(second).cast("int")
    )


def timestampdiff(unit: str, start, end) -> Column:
    """TIMESTAMPDIFF(unit, a, b): complete units between timestamps
    (MySQL truncation semantics — NOT calendar-boundary crossings)."""
    return F.expr(f"timestampdiff({unit}, {_name(start)}, {_name(end)})")


def timestampadd(unit: str, n: int, ts) -> Column:
    return F.expr(f"timestampadd({unit}, {n}, {_name(ts)})")


def convert_tz(ts, from_tz: str, to_tz: str) -> Column:
    """CONVERT_TZ (func_binary.go convert_tz): rebase a wall-clock timestamp
    between IANA zones."""
    return F.convert_timezone(F.lit(from_tz), F.lit(to_tz), col_of(ts))


def _name(x) -> str:
    """SQL text for a column reference (expr-based MySQL shims)."""
    return x if isinstance(x, str) else x._jc.toString()


# --- COMPRESS/UNCOMPRESS/UNCOMPRESSED_LENGTH (func_unary.go:5920 Compress:
# MySQL layout = 4-byte little-endian uncompressed length + zlib stream;
# empty string compresses to empty). ---


def _k_compress(s):
    b = s if isinstance(s, (bytes, bytearray)) else str(s).encode("utf-8")
    if not b:
        return b""
    return struct.pack("<I", len(b)) + zlib.compress(b)


def _k_uncompress(s):
    if not s:
        return b""
    try:
        n = struct.unpack("<I", bytes(s[:4]))[0]
        out = zlib.decompress(bytes(s[4:]))
        return out if len(out) == n else None
    except Exception:
        return None


def _k_uncompressed_length(s):
    if not s:
        return 0
    return int(struct.unpack("<I", bytes(s[:4]))[0])


_compress_udf = arrow_udf(_strict(_k_compress), BinaryType())
_uncompress_udf = arrow_udf(_strict(_k_uncompress), BinaryType())
_uncompressed_length_udf = arrow_udf(_strict(_k_uncompressed_length), LongType())


def compress(s) -> Column:
    """MySQL COMPRESS (func_unary.go:5920): 4-byte LE length + zlib."""
    return _compress_udf(col_of(s))


def uncompress(b) -> Column:
    """MySQL UNCOMPRESS: NULL on corrupt stream or length mismatch."""
    return _uncompress_udf(col_of(b))


def uncompressed_length(b) -> Column:
    return _uncompressed_length_udf(col_of(b))


# --- serial / serial_extract (func_builtin_serial.go opSerial +
# serial_contract.go: order-preserving tuple encoding used for composite
# index keys; function_id.go serial/serial_full/serial_extract). Spark
# analogue for non-negative integer components: fixed-width big-endian hex
# per part — lexicographic order of the packed string equals tuple order,
# which is the property the reference's packer exists to provide. ---


def serial_pack(*cols) -> Column:
    """Pack non-negative bigint components into one order-preserving key."""
    parts = [F.lower(F.lpad(F.hex(col_of(c).cast("bigint")), 16, "0")) for c in cols]
    return F.concat(*parts)


def serial_extract(packed, idx: int) -> Column:
    """Unpack component idx (0-based) of a serial_pack key."""
    part = F.substring(col_of(packed), idx * 16 + 1, 16)
    return F.conv(part, 16, 10).cast("bigint")


def addtime(ts, t) -> Column:
    """ADDTIME(ts, 'HH:MM:SS'): shift by a TIME-string offset.
    Reference: func_binary.go addtime."""
    return F.timestamp_micros(F.unix_micros(col_of(ts)) + time_to_sec(t) * 1_000_000)


def subtime(ts, t) -> Column:
    """SUBTIME(ts, 'HH:MM:SS'). Reference: func_binary.go subtime."""
    return F.timestamp_micros(F.unix_micros(col_of(ts)) - time_to_sec(t) * 1_000_000)


def timediff(a, b) -> Column:
    """TIMEDIFF(a, b) → signed 'HH:MM:SS' (whole seconds, truncated toward
    zero like MySQL's second precision). Reference: func_binary.go timediff."""
    us = F.unix_micros(col_of(a)) - F.unix_micros(col_of(b))
    s = (us / 1_000_000).cast("long")
    return F.when(s < 0, F.concat(F.lit("-"), sec_to_time(-s))).otherwise(sec_to_time(s))


_TIME_FORMAT_MAP = (
    ("%H", "HH"),  # hour 00-23
    ("%i", "mm"),  # minute
    ("%s", "ss"),  # second
    ("%h", "hh"),  # hour 01-12
    ("%p", "a"),   # AM/PM
)


def time_format(x, fmt: str) -> Column:
    """TIME_FORMAT(t, '%H:%i:%s') — translate the MySQL %-codes (the subset
    meaningful for TIME values) to Spark's SimpleDateFormat pattern.
    Reference: func_binary.go time_format / generalTime.go format table."""
    for mysql_code, spark_code in _TIME_FORMAT_MAP:
        fmt = fmt.replace(mysql_code, spark_code)
    return F.date_format(col_of(x), fmt)


def to_seconds(x) -> Column:
    """TO_SECONDS(ts) = TO_DAYS(date part)·86400 + second-of-day.
    Reference: func_unary.go to_seconds."""
    c = col_of(x)
    sod = (F.unix_micros(c) / 1_000_000).cast("long") % 86400
    return to_days(c.cast("date")) * 86400 + sod


def microsecond(x) -> Column:
    """MICROSECOND(ts): fractional-second part in µs.
    Reference: func_unary.go microsecond."""
    return F.unix_micros(col_of(x)) % 1_000_000


# --- IPv6 / UUID validity family -------------------------------------------
# Reference: func_binary.go inet6_aton/inet6_ntoa, is_ipv4_compat/
# is_ipv4_mapped/is_ipv6 (operate on the 16-byte binary form), is_uuid.
# Binary addresses surface as lowercase hex strings here: parquet-friendly,
# byte-faithful, and directly comparable across engines.


def _k_inet6_aton_hex(a):
    try:
        return ipaddress.ip_address(a.strip()).packed.hex()
    except ValueError:
        return None


def _k_inet6_ntoa_hex(h):
    try:
        b = bytes.fromhex(h)
    except ValueError:
        return None
    if len(b) == 4:
        return str(ipaddress.IPv4Address(b))
    if len(b) == 16:
        v6 = ipaddress.IPv6Address(b)
        # MySQL keeps the dotted-quad rendering for mapped addresses
        if v6.ipv4_mapped is not None:
            return f"::ffff:{v6.ipv4_mapped}"
        return str(v6)  # RFC 5952 compressed form
    return None


def _k_is_ipv6(a):
    try:
        return ipaddress.ip_address(a.strip()).version == 6
    except ValueError:
        return False


_inet6_aton_hex_udf = arrow_udf(_strict(_k_inet6_aton_hex), StringType())
_inet6_ntoa_hex_udf = arrow_udf(_strict(_k_inet6_ntoa_hex), StringType())
_is_ipv6_udf = arrow_udf(_strict(_k_is_ipv6), BooleanType())


def inet6_aton_hex(addr) -> Column:
    """INET6_ATON(addr) → packed bytes as lowercase hex (16 for v6 with
    full '::' decompression, 4 for dotted-quad input, NULL if invalid)."""
    return _inet6_aton_hex_udf(col_of(addr))


def inet6_ntoa_hex(h) -> Column:
    """INET6_NTOA over the hex-string binary form (inverse of
    inet6_aton_hex; v6 renders RFC 5952 compressed, matching MySQL)."""
    return _inet6_ntoa_hex_udf(col_of(h))


def is_ipv6(addr) -> Column:
    """IS_IPV6(addr)."""
    return _is_ipv6_udf(col_of(addr))


def is_ipv4_compat(h) -> Column:
    """IS_IPV4_COMPAT over hex binary: 16 bytes with a zero 96-bit prefix
    ('::a.b.c.d'). Pure Column expression — no UDF needed."""
    h = col_of(h)
    return (F.length(h) == 32) & F.substring(h, 1, 24).rlike("^0{24}$")


def is_ipv4_mapped(h) -> Column:
    """IS_IPV4_MAPPED over hex binary: '::ffff:a.b.c.d' prefix form."""
    h = col_of(h)
    return (F.length(h) == 32) & F.substring(h, 1, 24).rlike("^0{20}ffff$")


def is_uuid(s) -> Column:
    """IS_UUID: 8-4-4-4-12 hex with optional braces/dashes per MySQL."""
    s = F.lower(F.regexp_replace(col_of(s).cast("string"), r"[{}-]", ""))
    return s.rlike("^[0-9a-f]{32}$") & (F.length(s) == 32)


def interval_rank(x, *thresholds) -> Column:
    """MySQL INTERVAL(N, t1, t2, ...): number of thresholds <= N (equality
    advances past equal thresholds); NULL N yields -1
    (func_interval BVT; reference operator registry function_id.go)."""
    n = col_of(x)
    cnt: Column = F.lit(0)
    for t in thresholds:
        cnt = cnt + F.when(n >= F.lit(t), 1).otherwise(0)
    return F.when(n.isNull(), F.lit(-1)).otherwise(cnt)
