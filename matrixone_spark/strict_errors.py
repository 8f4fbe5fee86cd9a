"""Reference strict-evaluation gate for the BVT replay (error parity).

The reference engine REJECTS a class of statements that MySQL-compatible
engines (and the replay's Spark/DuckDB pair) answer leniently — strict
string→int casts, int64-range function parameters, bitwise aggregates over
float/temporal arguments, geometry preconditions, ONLY_FULL_GROUP_BY-style
HAVING scoping.  Each rule below re-implements the reference's own
rejection predicate (file:line cited per rule — semantics re-derived, no
code copied) so the replay can refuse the statement the same way the
reference does.

Grading contract (bvt_runner._run_script_inner): ``strict_reject`` is
evaluated INDEPENDENTLY of the script's ``.result`` file.  When it fires
AND the .result records an error for the statement, the runner counts a
``ref_errmatch`` (matched rejection — behavioral parity).  When it fires
but the reference answered rows, the runner falls back to normal
co-execution and grading, so a gate false-positive can never manufacture a
pass, suppress a mismatch, or desync replay state.
"""

from __future__ import annotations

import re

from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.mysql_dialect import (
    _split_top_level,
    mask_literals,
    unmask_literals,
)

_PH_RE = re.compile("\x01(\\d+)\x01")

_INT64_MAX = (1 << 63) - 1
_INT64_MIN = -(1 << 63)


def _lit_value(token: str, spans: "list[str]") -> "str | None":
    """Masked placeholder → decoded string literal value (quotes stripped,
    doubled quotes and simple backslash escapes folded); None if the token
    is not a lone placeholder."""
    m = re.fullmatch(r"\s*\x01(\d+)\x01\s*", token)
    if not m:
        return None
    raw = spans[int(m.group(1))]
    if len(raw) >= 2 and raw[0] in "'\"" and raw[-1] == raw[0]:
        q, body = raw[0], raw[1:-1]
        body = body.replace(q + q, q)
        body = re.sub(r"\\(.)", r"\1", body)
        return body
    return None


# ---------------------------------------------------------------------------
# string → integer cast grammar (reference func_cast.go:6184
# splitCastNumericSign / parseCastNumericToken, :6488 explicitIntegerCastInput,
# :6424 parseSignedExplicitCastString).  Explicit CAST saturates on range —
# the ONLY errors are malformed tokens.
# ---------------------------------------------------------------------------

def _leading_int_prefix(s: str) -> str:
    """Port of leadingDecimalIntegerPrefix (func_cast.go:6466): optional
    sign + ASCII digit run; a bare '.<digit>' start reads as sign+'0'."""
    t = s.strip()
    if not t:
        return ""
    i = 1 if t[0] in "+-" else 0
    j = i
    while j < len(t) and t[j].isdigit():
        j += 1
    if j == i:
        if j + 1 < len(t) and t[j] == "." and t[j + 1].isdigit():
            return t[:i] + "0"
        return ""
    return t[:j]


def _cast_token_error(s: str) -> bool:
    """parseCastNumericToken failure (func_cast.go:6220): empty body,
    double sign, inner whitespace, or an invalid/empty prefixed-base body."""
    t = s.strip()
    body = t[1:] if t[:1] in "+-" else t
    if not body or body[0] in "+-":
        return True
    if any(ch.isspace() for ch in body):
        return True
    if len(body) >= 2 and body[0] == "0" and body[1] in "bBoOxX":
        digits, base = body[2:], {"b": 2, "o": 8, "x": 16}[body[1].lower()]
        if not digits:
            return True
        try:
            int(digits, base)
        except ValueError:
            return True
        return False
    # base-10 path: strconv.ParseUint rejects any non-digit ('1.1', '1e0')
    return not body.isdigit()


def _explicit_int_cast_error(s: str) -> bool:
    """True when the reference's explicit str→int cast rejects ``s``."""
    t = s.strip()
    body = t[1:] if t[:1] in "+-" else t
    if len(body) >= 2 and body[0] == "0" and body[1] in "bBoOxX":
        return _cast_token_error(t)
    return _cast_token_error(_leading_int_prefix(t))


def _has_numeric_prefix(s: str) -> bool:
    """Any leading numeric interpretation at all (digits, .d, 0b/0o/0x)."""
    t = s.strip()
    body = t[1:] if t[:1] in "+-" else t
    if len(body) >= 2 and body[0] == "0" and body[1] in "bBoOxX":
        return not _cast_token_error(t)
    return _leading_int_prefix(t) != ""


_CAST_STR_INT_RE = re.compile(
    r"cast\s*\(\s*(\x01\d+\x01)\s+as\s+"
    r"(signed(?:\s+integer)?|unsigned(?:\s+integer)?)\s*\)",
    re.IGNORECASE,
)


def _r_cast_str_int(masked: str, spans, sess) -> "str | None":
    for m in _CAST_STR_INT_RE.finditer(masked):
        lit = _lit_value(m.group(1), spans)
        if lit is None:
            continue
        if _explicit_int_cast_error(lit):
            kind = "uint64" if m.group(2).lower().startswith("uns") else "int"
            return f"invalid argument cast to {kind}, bad value {lit.strip()}"
    return None


_CAST_STR_DEC_RE = re.compile(
    r"cast\s*\(\s*(\x01\d+\x01)\s+as\s+(?:decimal|numeric)\b",
    re.IGNORECASE,
)


def _r_cast_str_decimal(masked: str, spans, sess) -> "str | None":
    # reference strToDecimal128: a literal with NO numeric prefix at all
    # cannot convert ("invalid input: a beyond the range, can't be
    # converted to Decimal128(38,0)."), and the EMPTY string is "invalid
    # numeric string" (dtype/decimal.test CAST('' AS decimal) — unlike
    # cast('' as double), which stores 0); digit-prefixed forms store
    # leniently (func_cast.result: cast('9999999.99' as decimal(6,2))
    # saturates, no error)
    for m in _CAST_STR_DEC_RE.finditer(masked):
        lit = _lit_value(m.group(1), spans)
        if lit is None:
            continue
        if not lit.strip():
            return 'invalid input: "" is invalid numeric string'
        if not _has_numeric_prefix(lit):
            return (
                f"invalid input: {lit.strip()} beyond the range, "
                "can't be converted to Decimal128(38,0)."
            )
    # a DATETIME/TIMESTAMP column renders as the 14-integer-digit packed
    # number for decimal casts (YYYYMMDDHHMMSS.ffffff): any decimal(p,s)
    # with p-s < 14 integer digits ALWAYS overflows ("beyond the range,
    # can't be converted to Decimal128(20,10)" — dtype/decimal.test)
    for m in re.finditer(
        r"cast\s*\(\s*([a-zA-Z_][\w.]*)\s+as\s+(?:decimal|numeric)"
        r"\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)",
        masked, re.IGNORECASE,
    ):
        p, s = int(m.group(2)), int(m.group(3) or 0)
        ty = _col_type(m.group(1), masked, sess)
        if ty is not None and ty.split("(")[0] == "timestamp" and p - s < 14:
            kind = "Decimal64" if p <= 18 else "Decimal128"
            return (
                "invalid input: datetime value beyond the range, "
                f"can't be converted to {kind}({p},{s})."
            )
    return None


_CAST_DBL_INT_RE = re.compile(
    r"cast\s*\(\s*cast\s*\(\s*(\x01\d+\x01)\s+as\s+(?:double|float)"
    r"(?:\s+precision)?\s*\)\s+as\s+(signed|unsigned)(?:\s+integer)?\s*\)",
    re.IGNORECASE,
)


def _r_double_to_int_range(masked: str, spans, sess) -> "str | None":
    # float64 → int64/uint64 conversion errors on out-of-range values
    # (unlike the saturating explicit STRING cast): "data out of range"
    for m in _CAST_DBL_INT_RE.finditer(masked):
        lit = _lit_value(m.group(1), spans)
        if lit is None:
            continue
        try:
            v = float(lit.strip())
        except ValueError:
            continue
        unsigned = m.group(2).lower() == "unsigned"
        if unsigned:
            bad = v >= 2.0 ** 64 or v <= -(2.0 ** 63)
            kind = "uint64"
        else:
            bad = v >= 2.0 ** 63 or v < -(2.0 ** 63)
            kind = "int64"
        if bad:
            return (
                "Data truncation: data out of range: "
                f"data type {kind}, value '{lit.strip()}'"
            )
    return None


_CAST_HEX_INT_RE = re.compile(
    r"cast\s*\(\s*0x([0-9a-f]+)\s+as\s+signed(?:\s+integer)?\s*\)",
    re.IGNORECASE,
)


def _r_hex_to_signed_range(masked: str, spans, sess) -> "str | None":
    # hex literals are unsigned 64-bit values; > int64 max cannot land in
    # SIGNED ("data out of range: data type int")
    for m in _CAST_HEX_INT_RE.finditer(masked):
        if int(m.group(1), 16) > _INT64_MAX:
            return "Data truncation: data out of range: data type int"
    return None


_CAST_BIN_RE = re.compile(
    r"cast\s*\(\s*([^(),]*?)\s+as\s+(?:var)?binary\s*\(\s*(\d+)\s*\)\s*\)",
    re.IGNORECASE,
)


def _r_cast_binary_len(masked: str, spans, sess) -> "str | None":
    # BINARY/VARBINARY casts do NOT truncate in the reference (dtype/
    # binary.test): a source rendering longer than the declared width
    # errors — "Src length L is larger than Dest length N" for strings,
    # "data truncated ... for binary/varbinary" for numerics
    for m in _CAST_BIN_RE.finditer(masked):
        arg, width = m.group(1).strip(), int(m.group(2))
        lit = _lit_value(arg, spans)
        if lit is not None:
            if len(lit) > width:
                return (
                    f"internal error: Can't cast '{lit}' from VARCHAR type "
                    f"to VARBINARY type. Src length {len(lit)} is larger "
                    f"than Dest length {width}"
                )
            continue
        nm = re.fullmatch(r"[+-]?\d+", arg)
        if nm:
            if len(str(int(arg))) > width:
                return (
                    "Data truncation: data truncated: data type Signed,  "
                    "truncated for binary/varbinary"
                )
            continue
        nm = re.fullmatch(r"[+-]?\d+\.\d+", arg)
        if nm and len(arg) > width:
            return (
                "Data truncation: data truncated: data type Decimal64, "
                "truncated for binary/varbinary"
            )
    return None


# ---------------------------------------------------------------------------
# int64 function parameters (reference builds these on strict int64 casts of
# the argument vector; out-of-range literals and non-numeric strings error)
# ---------------------------------------------------------------------------

# function → int-typed argument positions (0-based)
_INT_PARAM_FNS = {
    "substring": (1, 2),
    "substr": (1, 2),
    "mid": (1, 2),
    "lpad": (1,),
    "rpad": (1,),
    "left": (1,),
    "right": (1,),
    "repeat": (1,),
    "space": (0,),
}

_FN_CALL_RE = re.compile(r"\b([a-z_][a-z0-9_]*)\s*\(", re.IGNORECASE)


def _call_args(masked: str, open_paren: int) -> "list[str] | None":
    depth, i = 1, open_paren + 1
    while i < len(masked) and depth:
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    return _split_top_level(masked[open_paren + 1 : i - 1])


def _r_int64_params(masked: str, spans, sess) -> "str | None":
    for m in _FN_CALL_RE.finditer(masked):
        fname = m.group(1).lower()
        positions = _INT_PARAM_FNS.get(fname)
        if positions is None:
            continue
        args = _call_args(masked, m.end() - 1)
        if args is None:
            continue
        for p in positions:
            if p >= len(args):
                continue
            a = args[p].strip()
            im = re.fullmatch(r"[+-]?\d+", a)
            if im:
                v = int(a)
                if v > _INT64_MAX or v < _INT64_MIN:
                    return (
                        "Data truncation: data out of range: "
                        f"data type int64, value '{a}'"
                    )
                continue
            lit = _lit_value(a, spans)
            if lit is not None and _explicit_int_cast_error(lit):
                return f"invalid argument cast to int, bad value {lit.strip()}"
    return None


# ---------------------------------------------------------------------------
# bitwise aggregates reject non-integer argument types at plan time
# (reference agg bit_and/bit_or/bit_xor register integer/bit inputs only:
# "invalid argument aggregate function bit_and, bad value [FLOAT]")
# ---------------------------------------------------------------------------

_FLOAT_FNS = (
    "sin|cos|tan|cot|asin|acos|atan|exp|ln|log|log2|log10|sqrt|power|pow|"
    "degrees|radians|rand|truncate"
)
_FLOAT_FN_RE = re.compile(rf"\b(?:{_FLOAT_FNS})\s*\(", re.IGNORECASE)
_CAST_FLOAT_RE = re.compile(
    r"\bcast\s*\([^()]*\s+as\s+(float|double|real)\b", re.IGNORECASE
)
_FRAC_LIT_RE = re.compile(r"(?<![\w.])\d+\.\d+|(?<![\w.])\.\d+|\d+e[+-]?\d+",
                          re.IGNORECASE)
_BITAGG_RE = re.compile(r"\b(bit_and|bit_or|bit_xor)\s*\(", re.IGNORECASE)

_BAD_BITAGG_COLTYPES = {
    "float": "FLOAT",
    "double": "DOUBLE",
    "timestamp": "DATETIME",
    "date": "DATE",
}


def _from_tables(masked: str, sess) -> "list[str]":
    names = []
    for tm in re.finditer(r"\b(?:from|join)\s+[`]?([\w.]+)", masked,
                          re.IGNORECASE):
        t = tm.group(1).split(".")[-1].lower()
        if t in getattr(sess, "schemas", {}):
            names.append(t)
    return names


def _col_type(ident: str, masked: str, sess) -> "str | None":
    col = ident.split(".")[-1].strip("`").lower()
    for t in _from_tables(masked, sess):
        for c, ty in sess.schemas.get(t, ()):
            if c.lower() == col:
                return ty.lower()
    return None


def _r_bitwise_agg(masked: str, spans, sess) -> "str | None":
    for m in _BITAGG_RE.finditer(masked):
        fname = m.group(1).lower()
        args = _call_args(masked, m.end() - 1)
        if not args:
            continue
        arg = args[0]
        bad = None
        if _CAST_FLOAT_RE.search(arg):
            bad = _CAST_FLOAT_RE.search(arg).group(1).upper()
            bad = "DOUBLE" if bad == "REAL" else bad
        elif _FLOAT_FN_RE.search(arg) or "/" in arg or _FRAC_LIT_RE.search(arg):
            bad = "DOUBLE"
        else:
            for ident in re.findall(r"[a-zA-Z_][\w.]*", arg):
                if ident.lower() in ("and", "or", "not", "null", "case",
                                     "when", "then", "else", "end"):
                    continue
                ty = _col_type(ident, masked, sess)
                if ty is None:
                    continue
                base = ty.split("(")[0]
                if base in _BAD_BITAGG_COLTYPES:
                    bad = _BAD_BITAGG_COLTYPES[base]
                    break
        if bad:
            return (
                f"invalid argument aggregate function {fname}, "
                f"bad value [{bad}]"
            )
    return None


# ---------------------------------------------------------------------------
# TIMESTAMP/DATETIME → FLOAT/DOUBLE cast is not a supported operator pair
# ("invalid argument operator cast, bad value [TIMESTAMP FLOAT]")
# ---------------------------------------------------------------------------

_CAST_TS_FLOAT_RE = re.compile(
    r"cast\s*\(\s*(timestamp|datetime)\s*\x01\d+\x01\s+as\s+"
    r"(float|double)(?:\s+precision)?\s*\)",
    re.IGNORECASE,
)


def _r_ts_to_float(masked: str, spans, sess) -> "str | None":
    m = _CAST_TS_FLOAT_RE.search(masked)
    if m:
        src = "TIMESTAMP" if m.group(1).lower() == "timestamp" else "DATETIME"
        return f"invalid argument operator cast, bad value [{src} FLOAT]"
    # column-typed source
    for cm in re.finditer(
        r"cast\s*\(\s*([a-zA-Z_][\w.]*)\s+as\s+(?:float|double)"
        r"(?:\s+precision)?\s*\)",
        masked, re.IGNORECASE,
    ):
        ty = _col_type(cm.group(1), masked, sess)
        if ty is not None and ty.split("(")[0] == "timestamp":
            return "invalid argument operator cast, bad value [TIMESTAMP FLOAT]"
    return None


# ---------------------------------------------------------------------------
# arithmetic with a non-numeric string literal: the implicit str→int cast
# is strict ("select 10+'a'" → invalid argument cast to int, bad value a)
# ---------------------------------------------------------------------------

_ARITH_STR_RE = re.compile(
    r"(\x01\d+\x01)\s*[+\-*%]|[+\-*%]\s*(\x01\d+\x01)"
)


def _r_arith_nonnum_str(masked: str, spans, sess) -> "str | None":
    for m in _ARITH_STR_RE.finditer(masked):
        tok = m.group(1) or m.group(2)
        lit = _lit_value(tok, spans)
        if lit is None or not lit.strip():
            continue
        if not _has_numeric_prefix(lit):
            return f"invalid argument cast to int, bad value {lit.strip()}"
    return None


# ---------------------------------------------------------------------------
# HAVING without GROUP BY referencing a non-aggregated column: the
# reference enforces ONLY_FULL_GROUP_BY-style scoping at plan time
# ("column \"t.a\" must appear in the GROUP BY clause or be used in an
# aggregate function"), where MySQL's extension allows it.
# ---------------------------------------------------------------------------

_AGG_FN_RE = re.compile(
    r"\b(?:count|sum|avg|min|max|group_concat|bit_and|bit_or|bit_xor|"
    r"stddev(?:_pop|_samp)?|std|var(?:iance|_pop|_samp)?|any_value|"
    r"json_arrayagg|json_objectagg|median)\s*\(",
    re.IGNORECASE,
)
_KW = {
    "and", "or", "not", "null", "true", "false", "in", "is", "like",
    "between", "exists", "select", "from", "where", "case", "when", "then",
    "else", "end", "interval", "day", "month", "year", "any", "all", "some",
    "union", "order", "by", "limit", "asc", "desc", "distinct",
}


def _r_having_nongrouped(masked: str, spans, sess) -> "str | None":
    low = masked.lower()
    for hm in re.finditer(r"\bhaving\b", low):
        # scope: scan BACKWARD to the opening of the current (sub)query —
        # the nearest 'select' at the same paren depth — checking for an
        # intervening same-depth 'group by'
        depth = 0
        i = hm.start() - 1
        has_group_by = False
        found_select = False
        while i >= 0:
            ch = low[i]
            if ch == ")":
                depth += 1
            elif ch == "(":
                if depth == 0:
                    break
                depth -= 1
            if depth == 0:
                if low.startswith("group", i) and re.match(
                    r"group\s+by\b", low[i:]
                ):
                    has_group_by = True
                    break
                if low.startswith("select", i) and re.match(
                    r"select\b", low[i:]
                ) and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")):
                    found_select = True
                    break
            i -= 1
        if has_group_by or not found_select:
            continue
        # HAVING expression: up to the next same-depth clause keyword
        j, depth2 = hm.end(), 0
        while j < len(low):
            ch = low[j]
            if ch == "(":
                depth2 += 1
            elif ch == ")":
                if depth2 == 0:
                    break
                depth2 -= 1
            elif depth2 == 0 and re.match(
                r"\b(union|order\s+by|limit|into)\b", low[j:]
            ):
                break
            j += 1
        expr = masked[hm.end():j]
        bare = _AGG_FN_RE.sub("\x02(", expr)
        # drop the aggregate-call bodies entirely
        bare = re.sub(r"\x02\([^()]*\)", " ", bare)
        for ident in re.findall(r"[a-zA-Z_][\w.]*", bare):
            if ident.lower() in _KW or _PH_RE.fullmatch(ident):
                continue
            # an identifier followed by '(' is a function name, skip
            pos = bare.find(ident)
            tail = bare[pos + len(ident):].lstrip()
            if tail.startswith("("):
                continue
            return (
                f'SQL syntax error: column "{ident}" must appear in the '
                "GROUP BY clause or be used in an aggregate function"
            )
    return None


# ---------------------------------------------------------------------------
# IS [NOT] TRUE/FALSE over a string column: the reference casts the cell to
# bool strictly ("invalid input: 'JACK' is not a valid bool expression")
# ---------------------------------------------------------------------------

_IS_BOOL_RE = re.compile(
    r"\b([a-zA-Z_][\w.]*)\s+is\s+(?:not\s+)?(?:true|false)\b", re.IGNORECASE
)


def _r_is_bool_on_string(masked: str, spans, sess) -> "str | None":
    for m in _IS_BOOL_RE.finditer(masked):
        ty = _col_type(m.group(1), masked, sess)
        if ty is not None and ty.split("(")[0] in ("string", "binary"):
            return "invalid input: value is not a valid bool expression"
    return None


# ---------------------------------------------------------------------------
# date-extraction functions over a literal the reference's ParseDateCast
# rejects ("invalid argument parsedate, bad value 10000-12-21") — the
# grammar port lives in bvt_runner._mysql_datestr (date.go / datetime.go)
# ---------------------------------------------------------------------------

_PARSEDATE_FNS = (
    "year|month|day|dayofmonth|dayofyear|dayofweek|weekday|week|weekofyear|"
    "quarter|monthname|dayname|to_days|last_day|hour|minute|second"
)
_PARSEDATE_RE = re.compile(rf"\b(?:{_PARSEDATE_FNS})\s*\(", re.IGNORECASE)


def _r_parsedate_literal(masked: str, spans, sess) -> "str | None":
    from matrixone_spark.bvt_runner import _mysql_datestr

    for m in _PARSEDATE_RE.finditer(masked):
        args = _call_args(masked, m.end() - 1)
        if not args or len(args) != 1:
            continue
        a = args[0].strip()
        lit = _lit_value(a, spans)
        if lit is None:
            if re.fullmatch(r"[+-]?\d+(?:\.\d+)?", a):
                lit = a  # bare numeric literal goes through the same parse
            else:
                continue
        if _mysql_datestr(lit) is None:
            return f"invalid argument parsedate, bad value {lit.strip()}"
    return None


# ---------------------------------------------------------------------------
# geometry preconditions (reference func_unary.go: payload validation
# :1088-1995, type gates ST_Area :1601, ST_Length :1618, linestring-only
# accessors :3650, polygon-only accessors :2898, supported-type switches
# ST_IsSimple :3031, ST_Envelope :3092, ST_Centroid :3138, ST_Boundary
# :3165, ST_PointOnSurface :3216, ST_IsValid :3456, index ranges :2887 and
# :3639, GC nesting depth :1989, max_points_in_geometry :1787, binary-op
# SRID agreement)
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?$")


class _BadWKT(Exception):
    pass


def _split_items(content: str) -> "list[str]":
    items, d, s = [], 0, 0
    for i, ch in enumerate(content):
        if ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
            if d < 0:
                raise _BadWKT()
        elif ch == "," and d == 0:
            items.append(content[s:i])
            s = i + 1
    if d != 0:
        raise _BadWKT()
    items.append(content[s:])
    if any(not it.strip() for it in items):
        raise _BadWKT()  # trailing/empty item: 'GEOMETRYCOLLECTION(POINT(1 1),)'
    return [it.strip() for it in items]


def _coord_pair(text: str) -> None:
    parts = text.split()
    if len(parts) != 2:
        raise _BadWKT()
    for p in parts:
        if not _NUM_RE.match(p):
            raise _BadWKT()  # NaN / Inf / malformed number


def _wkt_info(wkt: str, depth: int = 0) -> "tuple[str, int]":
    """(type_name, total_point_count); raises _BadWKT on invalid payload,
    ValueError('depth') when GEOMETRYCOLLECTION nesting exceeds 64."""
    t = wkt.strip()
    m = re.match(r"([A-Za-z]+)\s*\(", t)
    if not m:
        raise _BadWKT()
    typ = m.group(1).upper()
    if not t.endswith(")"):
        raise _BadWKT()
    content = t[m.end(): -1].strip()
    # balanced-paren check over the whole body
    if typ == "GEOMETRYCOLLECTION":
        if depth + 1 > 64:
            raise ValueError("depth")
        if not content:
            return typ, 0
        total = 0
        for item in _split_items(content):
            _ity, n = _wkt_info(item, depth + 1)
            total += n
        return typ, total
    if typ == "POINT":
        _coord_pair(content)
        return typ, 1
    if typ == "LINESTRING":
        pts = _split_items(content)
        for p in pts:
            _coord_pair(p)
        return typ, len(pts)
    if typ == "POLYGON" or typ == "MULTILINESTRING":
        total = 0
        for ring in _split_items(content):
            ring = ring.strip()
            if not (ring.startswith("(") and ring.endswith(")")):
                raise _BadWKT()
            pts = _split_items(ring[1:-1])
            for p in pts:
                _coord_pair(p)
            total += len(pts)
        return typ, total
    if typ == "MULTIPOINT":
        total = 0
        for item in _split_items(content):
            item = item.strip()
            if item.startswith("(") and item.endswith(")"):
                item = item[1:-1]
            _coord_pair(item)
            total += 1
        return typ, total
    if typ == "MULTIPOLYGON":
        total = 0
        for poly in _split_items(content):
            poly = poly.strip()
            if not (poly.startswith("(") and poly.endswith(")")):
                raise _BadWKT()
            for ring in _split_items(poly[1:-1]):
                ring = ring.strip()
                if not (ring.startswith("(") and ring.endswith(")")):
                    raise _BadWKT()
                pts = _split_items(ring[1:-1])
                for p in pts:
                    _coord_pair(p)
                total += len(pts)
        return typ, total
    raise _BadWKT()


def _const_fold(expr: str, spans) -> "str | None":
    """Evaluate literal-only concat()/repeat() so WKT built as
    concat(repeat('GEOMETRYCOLLECTION(',65), …) is visible to the gate."""
    e = expr.strip()
    lit = _lit_value(e, spans)
    if lit is not None:
        return lit
    m = re.match(r"(concat|repeat)\s*\(", e, re.IGNORECASE)
    if not m or not e.endswith(")"):
        return None
    args = _split_top_level(e[m.end(): -1])
    vals = [_const_fold(a, spans) for a in args]
    if m.group(1).lower() == "concat":
        if any(v is None for v in vals):
            return None
        return "".join(vals)
    if len(vals) == 2 and vals[0] is not None:
        try:
            n = int(args[1].strip())
        except ValueError:
            return None
        return vals[0] * min(n, 10000)
    return None


# unary st_ functions: required base types (None → no type gate, payload
# validity only); message templates from the observed reference errors
_GEO_TYPE_GATES = {
    "st_area": ({"POLYGON", "MULTIPOLYGON"},
                "invalid input: geometry is not a POLYGON or MULTIPOLYGON"),
    "st_length": ({"LINESTRING", "MULTILINESTRING"},
                  "invalid input: geometry is not a LINESTRING or MULTILINESTRING"),
    "st_startpoint": ({"LINESTRING"}, "invalid input: geometry is not a LINESTRING"),
    "st_endpoint": ({"LINESTRING"}, "invalid input: geometry is not a LINESTRING"),
    "st_numpoints": ({"LINESTRING"}, "invalid input: geometry is not a LINESTRING"),
    "st_isclosed": ({"LINESTRING"}, "invalid input: geometry is not a LINESTRING"),
    "st_isring": ({"LINESTRING"}, "invalid input: geometry is not a LINESTRING"),
    "st_pointn": ({"LINESTRING"}, "invalid input: geometry is not a LINESTRING"),
    "st_exteriorring": ({"POLYGON"}, "invalid input: geometry is not a POLYGON"),
    "st_numinteriorrings": ({"POLYGON"}, "invalid input: geometry is not a POLYGON"),
    "st_interiorringn": ({"POLYGON"}, "invalid input: geometry is not a POLYGON"),
    "st_issimple": ({"POINT", "LINESTRING"},
                    "invalid input: geometry type is not supported by ST_IsSimple"),
    "st_isvalid": ({"POINT", "LINESTRING", "POLYGON"},
                   "invalid input: geometry type is not supported by ST_IsValid"),
    "st_envelope": ({"POINT", "LINESTRING", "POLYGON"},
                    "invalid input: geometry type is not supported by ST_Envelope"),
    "st_centroid": ({"POINT", "LINESTRING", "POLYGON"},
                    "invalid input: geometry type is not supported by ST_Centroid"),
    "st_boundary": ({"LINESTRING", "POLYGON"},
                    "invalid input: geometry type is not supported by ST_Boundary"),
    "st_pointonsurface": ({"POINT", "LINESTRING", "POLYGON"},
                          "invalid input: geometry type is not supported by ST_PointOnSurface"),
}

_GEO_BINARY_FNS = (
    "st_distance|st_contains|st_within|st_intersects|st_disjoint|st_touches|"
    "st_crosses|st_overlaps|st_equals|st_covers|st_coveredby"
)
_GEO_BIN_RE = re.compile(rf"\b({_GEO_BINARY_FNS})\s*\(", re.IGNORECASE)
_DIST_OK = {"POINT", "LINESTRING", "POLYGON", "MULTIPOINT",
            "MULTILINESTRING", "MULTIPOLYGON"}


def _geom_literal(arg: str, spans) -> "tuple[str | None, int | None]":
    """st_geomfromtext('<wkt>'[, srid]) or cast('<wkt>' as geometry) with a
    literal payload → (wkt_text, srid|None); (None, None) otherwise."""
    a = arg.strip()
    m = re.match(r"st_geomfromtext\s*\(", a, re.IGNORECASE)
    if m and a.endswith(")"):
        parts = _split_top_level(a[m.end(): -1])
        if not parts:
            return None, None
        wkt = _const_fold(parts[0], spans)
        srid = None
        if len(parts) >= 2:
            try:
                srid = int(parts[1].strip())
            except ValueError:
                srid = None
        return wkt, srid
    m = re.match(r"cast\s*\(\s*(\x01\d+\x01)\s+as\s+geometry\s*\)", a,
                 re.IGNORECASE)
    if m:
        return _lit_value(m.group(1), spans), None
    return None, None


def _r_geometry(masked: str, spans, sess) -> "str | None":
    # payload validity + per-function type gates + index ranges,
    # on every st_* call with a literal WKT argument
    for m in re.finditer(r"\b(st_[a-z_0-9]+)\s*\(", masked, re.IGNORECASE):
        fname = m.group(1).lower()
        args = _call_args(masked, m.end() - 1)
        if args is None:
            continue
        # SRID agreement for binary predicates
        if re.fullmatch(_GEO_BINARY_FNS, fname) and len(args) >= 2:
            (w1, s1), (w2, s2) = (_geom_literal(args[0], spans),
                                  _geom_literal(args[1], spans))
            if s1 is not None and s2 is not None and s1 != s2:
                return (
                    f"invalid input: Binary geometry function "
                    f"{fname.upper()} given two geometries of different "
                    f"srids: {s1} and {s2}, which should have been identical."
                )
            if fname == "st_distance":
                for w in (w1, w2):
                    if w is None:
                        continue
                    try:
                        typ, _n = _wkt_info(w)
                    except (ValueError, _BadWKT):
                        return "invalid input: invalid geometry payload"
                    if typ not in _DIST_OK:
                        return (
                            "invalid input: ST_DISTANCE only supports POINT, "
                            "LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, "
                            "or MULTIPOLYGON inputs"
                        )
        geo_args = []
        for a in args:
            w, _s = _geom_literal(a, spans)
            if w is not None:
                geo_args.append(w)
        if fname == "st_geomfromtext" and args:
            w = _const_fold(args[0], spans)
            if w is not None:
                geo_args.append(w)
        for w in geo_args:
            try:
                typ, npts = _wkt_info(w)
            except ValueError:
                return "invalid input: geometry collection nesting depth exceeds 64"
            except _BadWKT:
                return "invalid input: invalid geometry payload"
            maxp = getattr(sess, "sysvars", {}).get("max_points_in_geometry")
            if maxp is not None:
                try:
                    lim = int(maxp)
                except ValueError:
                    lim = None
                if lim is not None and npts > lim:
                    return (
                        f"invalid input: geometry has {npts} points, which "
                        f"exceeds max_points_in_geometry={lim}"
                    )
            gate = _GEO_TYPE_GATES.get(fname)
            if gate is not None and typ not in gate[0]:
                return gate[1]
            # index-range accessors over literal geometries
            if fname == "st_pointn" and typ == "LINESTRING" and len(args) >= 2:
                im = re.fullmatch(r"\s*[+-]?\d+\s*", args[1])
                if im:
                    n = int(args[1])
                    try:
                        _t, total = _wkt_info(w)
                    except (_BadWKT, ValueError):
                        continue
                    if n < 1 or n > total:
                        return "invalid input: point index out of range"
            if (fname == "st_interiorringn" and typ == "POLYGON"
                    and len(args) >= 2):
                im = re.fullmatch(r"\s*[+-]?\d+\s*", args[1])
                if im:
                    n = int(args[1])
                    rings = w.count("(") - 1 - 1  # rings minus exterior
                    if n < 1 or n > rings:
                        return "invalid input: ring index out of range"
    return None


# ---------------------------------------------------------------------------
# CONV(str, from_base, to_base): the reference validates the WHOLE string
# against the source base (MySQL truncates at the first invalid digit) —
# "invalid input: invalid conv input \"g\" for base 16"
# ---------------------------------------------------------------------------

_CONV_RE = re.compile(
    r"\bconv\s*\(\s*(\x01\d+\x01)\s*,\s*(-?\d+)\s*,\s*-?\d+\s*\)",
    re.IGNORECASE,
)


def _r_conv_literal(masked: str, spans, sess) -> "str | None":
    for m in _CONV_RE.finditer(masked):
        lit = _lit_value(m.group(1), spans)
        if lit is None:
            continue
        base = abs(int(m.group(2)))
        if base < 2 or base > 36:
            continue
        body = lit.strip()
        if body[:1] in "+-":
            body = body[1:]
        ok = bool(body)
        for ch in body:
            try:
                if int(ch, 36) >= base:
                    ok = False
                    break
            except ValueError:
                ok = False
                break
        if not ok:
            return (
                f'invalid input: invalid conv input "{lit.strip()}" '
                f"for base {base}"
            )
    return None


# ---------------------------------------------------------------------------
# INT ± INTERVAL: interval arithmetic requires a date/time operand
# ("invalid argument operator +, bad value [INT INTERVAL]")
# ---------------------------------------------------------------------------

_INT_INTERVAL_RE = re.compile(
    r"cast\s*\([^()]*\s+as\s+(?:tiny|small|medium|big)?int(?:eger)?\s*\)\s*"
    r"([+\-])\s*interval\b"
    r"|interval\s+\S+\s+\w+\s*([+\-])\s*"
    r"cast\s*\([^()]*\s+as\s+(?:tiny|small|medium|big)?int(?:eger)?\s*\)",
    re.IGNORECASE,
)


def _r_int_interval(masked: str, spans, sess) -> "str | None":
    m = _INT_INTERVAL_RE.search(masked)
    if m:
        op = m.group(1) or m.group(2)
        order = "[INT INTERVAL]" if m.group(1) else "[INTERVAL INT]"
        return f"invalid argument operator {op}, bad value {order}"
    return None


# ---------------------------------------------------------------------------
# weekday/dayofyear accept only date/datetime/string inputs — numeric and
# bool argument TYPES are plan-time rejections ("invalid argument function
# dayofyear, bad value [BIGINT]")
# ---------------------------------------------------------------------------

_DOY_FNS_RE = re.compile(r"\b(weekday|dayofyear)\s*\(", re.IGNORECASE)
_NUMERIC_COLTYPES = {
    "int": "INT", "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    "decimal": "DECIMAL", "boolean": "BOOL",
}


def _r_doy_numeric_type(masked: str, spans, sess) -> "str | None":
    for m in _DOY_FNS_RE.finditer(masked):
        fname = m.group(1).lower()
        args = _call_args(masked, m.end() - 1)
        if not args or len(args) != 1:
            continue
        a = args[0].strip()
        bad = None
        if re.fullmatch(r"[+-]?\d+", a):
            bad = "BIGINT"
        elif re.fullmatch(r"[+-]?\d*\.\d+", a):
            bad = "DOUBLE"
        elif re.fullmatch(r".+\s*=\s*.+", a) and not _PH_RE.search(a):
            bad = "BOOL"
        else:
            ty = _col_type(a, masked, sess)
            if ty is not None:
                base = ty.split("(")[0]
                if base in _NUMERIC_COLTYPES:
                    bad = _NUMERIC_COLTYPES[base]
        if bad:
            return f"invalid argument function {fname}, bad value [{bad}]"
    return None


# ---------------------------------------------------------------------------
# SPACE(n) beyond the reference's max (8000) and OCT over non-numeric /
# out-of-integer-range inputs (func_string_space/oct)
# ---------------------------------------------------------------------------

def _r_space_oct(masked: str, spans, sess) -> "str | None":
    for m in re.finditer(r"\bspace\s*\(", masked, re.IGNORECASE):
        args = _call_args(masked, m.end() - 1)
        if args and len(args) == 1:
            a = args[0].strip()
            try:
                v = float(a)
            except ValueError:
                lit = _lit_value(a, spans)
                if lit is None:
                    continue
                pre = _leading_int_prefix(lit)
                if not pre:
                    continue
                try:
                    v = float(pre)
                except ValueError:
                    continue
            if v > 8000:
                return (
                    "invalid input: the space count is greater than "
                    "max allowed value 8000"
                )
    for m in re.finditer(r"\boct\s*\(", masked, re.IGNORECASE):
        args = _call_args(masked, m.end() - 1)
        if not args or len(args) != 1:
            continue
        a = args[0].strip()
        lit = _lit_value(a, spans)
        if lit is not None:
            if lit.strip() and not _has_numeric_prefix(lit):
                return f"invalid argument function oct, bad value {lit.strip()}"
            continue
        try:
            v = float(a)
        except ValueError:
            continue
        if abs(v) >= 2.0 ** 64:
            return "internal error: the input value is out of integer range"
    return None


# ---------------------------------------------------------------------------
# multiple ORDER BY / LIMIT on a parenthesized query:
# "(select … order by a) order by a" is a reference parse error
# ---------------------------------------------------------------------------

def _r_multi_orderby_limit(masked: str, spans, sess) -> "str | None":
    t = masked.strip().rstrip(";").strip()
    while t.startswith("("):
        depth, close = 0, -1
        for i, ch in enumerate(t):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        if close < 0:
            return None
        inner, tail = t[1:close], t[close + 1:].strip()
        if not tail:
            t = inner.strip()
            continue
        # depth-0 clause scan of the inner query
        def _has(kw_re: str, text: str) -> bool:
            d = 0
            low = text.lower()
            for i, ch in enumerate(text):
                if ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
                elif d == 0 and re.match(kw_re, low[i:]):
                    return True
            return False

        # unwrap nested parens on the inner side too
        inner_u = inner.strip()
        while inner_u.startswith("(") and inner_u.endswith(")"):
            d = 0
            ok = True
            for i, ch in enumerate(inner_u):
                if ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
                    if d == 0 and i != len(inner_u) - 1:
                        ok = False
                        break
            if not ok:
                break
            inner_u = inner_u[1:-1].strip()
        low_tail = tail.lower()
        if re.match(r"order\s+by\b", low_tail) and (
            _has(r"order\s+by\b", inner_u)
        ):
            return "SQL syntax error: multiple ORDER BY clauses not allowed"
        if re.match(r"limit\b", low_tail) and _has(r"limit\b", inner_u):
            return "SQL syntax error: multiple LIMIT clauses not allowed"
        return None
    return None


# ---------------------------------------------------------------------------
# data-checked rules: the replay session HOLDS the table state, so
# value-dependent reference rejections (strict cast of stored strings,
# narrowing-int casts, NULL generate_series bounds, int-arith overflow at
# the stored boundary values) are evaluated against the actual fixture
# rows. A fire is still only CONCEDED when the .result records an error.
# ---------------------------------------------------------------------------

def _probe(sess, sql: str) -> bool:
    """True when ``sql`` (a LIMIT-1 existence probe) returns a row.
    Memoized per table-state version (bvt_runner bumps _state_ver on every
    _register) so repeated reads between DMLs cost one Spark job, not one
    per statement."""
    ver = getattr(sess, "_state_ver", None)
    cache = getattr(sess, "_probe_cache", None)
    if cache is None or cache.get("__ver") != ver:
        cache = {"__ver": ver}
        sess._probe_cache = cache
    if sql in cache:
        return cache[sql]
    try:
        r = len(run_sql(sess.spark, sql).limit(1).collect()) > 0
    except Exception:  # noqa: BLE001
        r = False
    cache[sql] = r
    return r


def _r_strcol_numeric_cmp(masked: str, spans, sess) -> "str | None":
    # string column compared to a numeric literal (scalar or inside a row
    # constructor): the reference casts the CELL to int strictly, so any
    # stored non-numeric value rejects the query (dtype/text_1.sql t10,
    # operator/row_constructor.sql row01)
    tables = _from_tables(masked, sess)
    if not tables:
        return None
    cands: "list[str]" = []
    for m in re.finditer(
        r"([a-zA-Z_][\w.]*)\s*(?:=|!=|<>|<=|>=|<|>)\s*[+-]?\d+(?:\.\d+)?"
        r"|[+-]?\d+(?:\.\d+)?\s*(?:=|!=|<>|<=|>=|<|>)\s*([a-zA-Z_][\w.]*)",
        masked,
    ):
        cands.append(m.group(1) or m.group(2))
    # row constructors: (a, b) cmp (c, 0) — pair positions
    for m in re.finditer(
        r"\(([^()]+)\)\s*(?:=|!=|<>|<=|>=|<|>)\s*\(([^()]+)\)", masked
    ):
        l_items = _split_top_level(m.group(1))
        r_items = _split_top_level(m.group(2))
        if len(l_items) != len(r_items) or len(l_items) < 2:
            continue
        for li, ri in zip(l_items, r_items):
            li, ri = li.strip(), ri.strip()
            if re.fullmatch(r"[+-]?\d+(?:\.\d+)?", ri) and re.fullmatch(
                r"[a-zA-Z_][\w.]*", li
            ):
                cands.append(li)
            if re.fullmatch(r"[+-]?\d+(?:\.\d+)?", li) and re.fullmatch(
                r"[a-zA-Z_][\w.]*", ri
            ):
                cands.append(ri)
    for ident in cands:
        ty = _col_type(ident, masked, sess)
        if ty is None or ty.split("(")[0] != "string":
            continue
        col = ident.split(".")[-1]
        for t in tables:
            if any(c.lower() == col.lower() for c, _ty in sess.schemas[t]):
                if _probe(
                    sess,
                    f"SELECT 1 FROM {t} WHERE {col} IS NOT NULL AND "
                    f"try_cast({col} AS DOUBLE) IS NULL",
                ):
                    return "invalid argument cast to int, bad value"
    return None


def _r_intcol_str_cmp(masked: str, spans, sess) -> "str | None":
    # integer column compared to a STRING literal: the reference parses
    # the literal with the STRICT full-string int grammar — '1.1' is a
    # rejection, not a truncation (dtype/tinyint.test "id = '1.1'",
    # IN ('1.1','2.2'), BETWEEN '1.1' AND '1.9')
    def _int_col(ident: str) -> bool:
        ty = _col_type(ident, masked, sess)
        return ty is not None and ty.split("(")[0] in ("int", "bigint")

    def _bad(tok: str) -> "str | None":
        lit = _lit_value(tok, spans)
        if lit is not None and _cast_token_error(lit):
            return lit.strip()
        return None

    for m in re.finditer(
        r"([a-zA-Z_][\w.]*)\s*(?:<=>|=|!=|<>|<=|>=|<|>)\s*(\x01\d+\x01)"
        r"|(\x01\d+\x01)\s*(?:<=>|=|!=|<>|<=|>=|<|>)\s*([a-zA-Z_][\w.]*)",
        masked,
    ):
        ident, tok = (m.group(1), m.group(2)) if m.group(1) else (
            m.group(4), m.group(3))
        if _int_col(ident):
            b = _bad(tok)
            if b is not None:
                return f"invalid argument cast to int, bad value {b}"
    for m in re.finditer(
        r"([a-zA-Z_][\w.]*)\s+(?:not\s+)?in\s*\(([^()]*)\)", masked,
        re.IGNORECASE,
    ):
        if not _int_col(m.group(1)):
            continue
        for item in _split_top_level(m.group(2)):
            b = _bad(item.strip())
            if b is not None:
                return f"invalid argument cast to int, bad value {b}"
    for m in re.finditer(
        r"([a-zA-Z_][\w.]*)\s+(?:not\s+)?between\s+(\x01\d+\x01)\s+and\s+"
        r"(\x01\d+\x01)",
        masked, re.IGNORECASE,
    ):
        if not _int_col(m.group(1)):
            continue
        for tok in (m.group(2), m.group(3)):
            b = _bad(tok)
            if b is not None:
                return f"invalid argument cast to int, bad value {b}"
    return None


_INT_RANGES = {
    "tinyint": (-(1 << 7), (1 << 7) - 1, "int8"),
    "smallint": (-(1 << 15), (1 << 15) - 1, "int16"),
    "mediumint": (-(1 << 23), (1 << 23) - 1, "int24"),
    "int": (-(1 << 31), (1 << 31) - 1, "int32"),
    "integer": (-(1 << 31), (1 << 31) - 1, "int32"),
    "bigint": (_INT64_MIN, _INT64_MAX, "int64"),
}


def _r_cast_col_int_range(masked: str, spans, sess) -> "str | None":
    # narrowing integer cast of a column whose stored values exceed the
    # target range: the reference errors where Spark/MySQL wrap or NULL
    # (dtype/tinyint.test t8, function/func_conv.sql t_conv)
    tables = _from_tables(masked, sess)
    if not tables:
        return None
    for m in re.finditer(
        r"cast\s*\(\s*([a-zA-Z_][\w.]*)\s+as\s+"
        r"(tinyint|smallint|mediumint|int|integer|bigint)\s*\)",
        masked, re.IGNORECASE,
    ):
        lo, hi, kind = _INT_RANGES[m.group(2).lower()]
        ty = _col_type(m.group(1), masked, sess)
        if ty is None:
            continue
        base = ty.split("(")[0]
        if base not in ("string", "int", "bigint", "double", "float",
                        "decimal", "numeric"):
            continue
        if base in ("int",) and m.group(2).lower() in ("int", "integer",
                                                       "bigint"):
            continue  # widening — cannot overflow
        col = m.group(1).split(".")[-1]
        for t in tables:
            if any(c.lower() == col.lower() for c, _ty in sess.schemas[t]):
                if _probe(
                    sess,
                    f"SELECT 1 FROM {t} WHERE try_cast({col} AS DOUBLE) "
                    f"IS NOT NULL AND (try_cast({col} AS DOUBLE) < {lo} OR "
                    f"try_cast({col} AS DOUBLE) > {hi})",
                ) or (base == "string" and _probe(
                    sess,
                    f"SELECT 1 FROM {t} WHERE {col} IS NOT NULL AND "
                    f"trim({col}) != '' AND try_cast({col} AS DOUBLE) IS NULL",
                )):
                    return (
                        "Data truncation: data out of range: "
                        f"data type {kind}"
                    )
    return None


def _r_generate_series_null(masked: str, spans, sess) -> "str | None":
    # generate_series over COLUMN bounds: a NULL start/end/step row is a
    # reference rejection (join/apply.sql)
    for m in re.finditer(r"\bgenerate_series\s*\(", masked, re.IGNORECASE):
        args = _call_args(masked, m.end() - 1)
        if not args or not any(
            re.fullmatch(r"[a-zA-Z_]\w*\.[a-zA-Z_]\w*|[a-zA-Z_]\w*", a.strip())
            and _col_type(a.strip(), masked, sess) is not None
            for a in args
        ):
            continue
        tables = _from_tables(masked, sess)
        for a in args:
            a = a.strip()
            ty = _col_type(a, masked, sess)
            if ty is None:
                continue
            col = a.split(".")[-1]
            for t in tables:
                if any(c.lower() == col.lower()
                       for c, _ty in sess.schemas[t]):
                    if _probe(sess, f"SELECT 1 FROM {t} WHERE {col} IS NULL"):
                        return (
                            "invalid input: the value of generate_series "
                            "bound can't be NULL"
                        )
    return None


def _r_int_arith_overflow(masked: str, spans, sess) -> "str | None":
    # integer + integer at the stored boundary overflows the result type
    # (dtype/boundary_comprehensive.sql): evaluate the arithmetic in
    # double over the statement's own FROM/WHERE and compare against the
    # WIDEST operand type's range (the reference's add/sub/mul result type)
    mm = re.match(
        r"\s*select\s+(.+?)\s+from\s+([`\w.]+)(?:\s+where\s+(.+?))?\s*;?\s*$",
        masked, re.IGNORECASE | re.DOTALL,
    )
    if not mm:
        return None
    tbl = mm.group(2).split(".")[-1].lower()
    if tbl not in getattr(sess, "schemas", {}):
        return None
    where = mm.group(3) or "true"
    if _PH_RE.search(where):
        return None  # literal-bearing WHERE: keep the probe simple
    for em in re.finditer(
        r"([a-zA-Z_]\w*)\s*([+\-*])\s*([a-zA-Z_]\w*|\d+)", mm.group(1)
    ):
        l, op, r = em.group(1), em.group(2), em.group(3)
        lt = _col_type(l, masked, sess)
        if lt is None or lt.split("(")[0] not in ("int", "bigint"):
            continue
        if r.isdigit():
            rt = "int"
        else:
            rt = _col_type(r, masked, sess)
            if rt is None or rt.split("(")[0] not in ("int", "bigint"):
                continue
        widest = "bigint" if "bigint" in (lt.split("(")[0],
                                          rt.split("(")[0]) else "int"
        lo, hi, kind = _INT_RANGES[widest]
        if _probe(
            sess,
            f"SELECT 1 FROM {tbl} WHERE ({where}) AND "
            f"(CAST({l} AS DOUBLE) {op} CAST({r} AS DOUBLE) > {hi} OR "
            f"CAST({l} AS DOUBLE) {op} CAST({r} AS DOUBLE) < {lo})",
        ):
            return (
                f"Data truncation: data out of range: data type {kind}"
            )
    return None


def _r_decimal_arith_overflow(masked: str, spans, sess) -> "str | None":
    # decimal128 Mul/Div whose unscaled result exceeds the 128-bit range
    # errors in the reference (arith_decimal_fast.go; dtype/decimal.test
    # decimal07/08/18/19).  Mul: |x·y|·10^(s1+s2) beyond ~1.70e38
    # overflows int128.  Div: the numerator is pre-scaled so the result
    # carries at least 12 fractional digits (divIncreaseScale), so
    # |x|·10^(s1+12) beyond the range overflows regardless of the divisor.
    # Data-checked via the memoized state-version probe (like
    # _r_int_arith_overflow); decisions never consult the .result.
    mm = re.match(
        r"\s*select\s+(.+?)\s+from\s+([`\w.]+)(?:\s+where\s+(.+?))?\s*;?\s*$",
        masked, re.IGNORECASE | re.DOTALL,
    )
    if not mm:
        return None
    tbl = mm.group(2).split(".")[-1].lower()
    if tbl not in getattr(sess, "schemas", {}):
        return None
    where = mm.group(3) or "true"
    if _PH_RE.search(where):
        return None

    def _scale(op: str) -> "tuple[str, int] | None":
        """('col'|'lit', scale) for an identifier or numeric literal."""
        if re.fullmatch(r"[+-]?\d+(?:\.\d+)?", op):
            return ("lit", len(op.split(".")[1]) if "." in op else 0)
        ty = _col_type(op, masked, sess)
        if ty is None or not ty.startswith("decimal"):
            return None
        dm = re.match(r"decimal\((\d+)\s*(?:,\s*(\d+))?\)", ty)
        return ("col", int(dm.group(2) or 0) if dm else 0)

    lim = "1.70141e38"  # 2^127 ≈ 1.701e38 (decimal128 magnitude ceiling)
    for em in re.finditer(
        r"([a-zA-Z_]\w*|[+-]?\d+(?:\.\d+)?)\s*(\*|/|\bdiv\b)\s*"
        r"([a-zA-Z_]\w*|[+-]?\d+(?:\.\d+)?)",
        mm.group(1), re.IGNORECASE,
    ):
        l, op, r = em.group(1), em.group(2), em.group(3)
        ls, rs = _scale(l), _scale(r)
        if ls is None or rs is None:
            continue
        if ls[0] != "col" and rs[0] != "col":
            continue  # pure literal arithmetic: constant-folds, no probe
        s1, s2 = ls[1], rs[1]
        if op == "*":
            # Mul result scale = clamp(max(12, s1, s2), <= s1+s2)
            # (decimal.go:1331); overflow when the product at that scale
            # exceeds 128 bits
            scale = min(max(12, s1, s2), s1 + s2)
            cond = (
                f"abs(CAST({l} AS DOUBLE)) * abs(CAST({r} AS DOUBLE)) "
                f"* 1e{scale} >= {lim}"
            )
            kind = "Mul"
        else:
            # Div pre-scales the numerator to scale+s2 fractional digits,
            # scale = clamp(12 into [s1, s1+6]) (decimal.go:1421)
            scale = min(max(12, s1), s1 + 6)
            cond = (
                f"abs(CAST({l} AS DOUBLE)) * 1e{min(scale + s2, 40)} "
                f">= {lim}"
            )
            kind = "Div"
        if _probe(
            sess,
            f"SELECT 1 FROM {tbl} WHERE ({where}) AND ({cond})",
        ):
            return (
                "Data truncation: data out of range: data type DECIMAL, "
                f"invalid input: Decimal128 {kind} overflow"
            )
    return None


_CAST_JSON_RE = re.compile(
    r"(?i)\bcast\s*\(\s*(\x01\d+\x01)\s+as\s+json\s*\)"
    r"|\bconvert\s*\(\s*(\x01\d+\x01)\s*,\s*json\s*\)")
_CAST_UUID_JSON_RE = re.compile(
    r"(?i)\b(?:cast\s*\(|convert\s*\(\s*)\s*cast\s*\([^()]*as\s+uuid\s*\)"
    r"\s*(?:as\s+json\s*\)|,\s*json\s*\))")


def _r_cast_const_json(masked: str, spans, sess) -> "str | None":
    """CAST('<text>' AS JSON)/CONVERT('<text>', JSON) of a CONSTANT that is
    not a valid JSON document is rejected by the reference's bytejson
    parser (pkg/container/bytejson ParseFromString;
    func_convert_json.result 'invalid input: json text …'); a UUID source
    has no JSON conversion at all."""
    if _CAST_UUID_JSON_RE.search(masked):
        return "invalid argument operator cast, bad value [UUID JSON]"
    import json as _json

    for m in _CAST_JSON_RE.finditer(masked):
        v = _lit_value(m.group(1) or m.group(2), spans)
        if v is None:
            continue
        if v.strip() == "":
            return "invalid input: json text is empty"
        try:
            _json.loads(v)
        except (ValueError, TypeError):
            return f"invalid input: json text {v}"
    return None


def _strip_parens(t: str) -> str:
    t = t.strip()
    while t.startswith("(") and t.endswith(")") and \
            t[1:-1].count("(") == t[1:-1].count(")"):
        t = t[1:-1].strip()
    return t


def _r_format_misuse(masked: str, spans, sess) -> "str | None":
    """FORMAT() returns a comma-grouped VARCHAR the reference refuses to
    feed back into numeric context (func_string_format.test: ABS/SUM/CEIL
    over format(), format() in numeric comparisons → 'invalid argument
    cast to int, bad value 46,787,698'), and rejects temporal first
    arguments outright ('bad value [DATE BIGINT]',
    pkg/sql/plan/function/func_binary.go Format)."""
    low = masked.lower()
    if "format" not in low:
        return None
    for m in re.finditer(r"(?<![\w.])format\s*\(", low):
        args = _call_args(masked, m.end() - 1)
        if not args or len(args) < 2:
            continue
        ty = _col_type(_strip_parens(args[0]), masked, sess)
        if ty is not None and ty.split("(")[0] in ("date", "timestamp"):
            kind = "DATE" if ty == "date" else "DATETIME"
            return (f"invalid argument function format, "
                    f"bad value [{kind} BIGINT]")
    if re.search(
            r"\b(?:abs|sum|avg|ceil|ceiling|floor|round)\s*\(\s*format\s*\(",
            low):
        return "invalid argument cast to int, bad value (FORMAT output)"
    fmt_atom = r"format\s*\((?:[^()]|\([^()]*\))*\)"
    if re.search(
            rf"{fmt_atom}\s*(?:>=|<=|<>|!=|=|<|>)\s*-?(?:\d|\x01)", low) or \
            re.search(rf"{fmt_atom}\s+(?:not\s+)?between\b", low):
        return "invalid argument cast to int, bad value (FORMAT output)"
    return None


_NC_NUM_RE = re.compile(r"[+-]?\d+(?:\.\d+)?(?:e[+-]?\d+)?", re.IGNORECASE)


def _r_name_const(masked: str, spans, sess) -> "str | None":
    """NAME_CONST(name, value) takes LITERALS only: name must be a string
    literal or unsigned integer, value a (signed) numeric/string literal
    or NULL — function calls, columns, NULL/negative names are rejected
    (func_nameconst.test; pkg/sql/plan/function func_mo.go NameConst)."""
    low = masked.lower()
    if "name_const" not in low:
        return None
    for m in re.finditer(r"\bname_const\s*(\()", low):
        args = _call_args(masked, m.start(1))
        if args is None or len(args) != 2:
            continue
        name, val = _strip_parens(args[0]), _strip_parens(args[1])
        name_ok = (
            re.fullmatch(r"\x01\d+\x01", name) is not None
            and _lit_value(name, spans) is not None
        ) or re.fullmatch(r"\d+", name) is not None
        val_ok = (
            re.fullmatch(r"(?:_\w+\s*)?\x01\d+\x01"
                         r"(?:\s+collate\s+\w+)?", val) is not None
            or _NC_NUM_RE.fullmatch(val) is not None
            or val.lower() == "null"
        )
        if not (name_ok and val_ok):
            return "invalid argument NAME_CONST, bad value"
    return None


_RULES = (
    _r_cast_str_int,
    _r_cast_str_decimal,
    _r_double_to_int_range,
    _r_hex_to_signed_range,
    _r_cast_binary_len,
    _r_int64_params,
    _r_bitwise_agg,
    _r_ts_to_float,
    _r_arith_nonnum_str,
    _r_having_nongrouped,
    _r_is_bool_on_string,
    _r_parsedate_literal,
    _r_conv_literal,
    _r_int_interval,
    _r_doy_numeric_type,
    _r_space_oct,
    _r_multi_orderby_limit,
    _r_strcol_numeric_cmp,
    _r_intcol_str_cmp,
    _r_cast_col_int_range,
    _r_generate_series_null,
    _r_int_arith_overflow,
    _r_decimal_arith_overflow,
    _r_geometry,
    _r_cast_const_json,
    _r_format_misuse,
    _r_name_const,
)


def strict_reject(stmt: str, sess) -> "str | None":
    """Reason string when the reference would reject this SELECT under its
    strict evaluation semantics; None when no rule fires.  Purely static —
    never consults a .result file."""
    masked, spans = mask_literals(stmt)
    for rule in _RULES:
        try:
            r = rule(masked, spans, sess)
        except Exception:  # noqa: BLE001 — a gate bug must never kill replay
            r = None
        if r is not None:
            return r
    return None
