"""JSON mutation functions Spark lacks — SURVEY §2.8 JSON family.

Reference: binary-JSON functions in pkg/sql/plan/function/func_builtin_json.go
over pkg/container/bytejson/ (json_set/insert/replace/remove/merge_patch...).
Spark covers extraction (get_json_object, from_json, json_tuple) natively;
the mutators below are Arrow-batched row kernels over Python's json — the
sanctioned slow path for semantics built-ins can't express (they never sit on
the 100 TB hot path; extraction does, and stays JVM-side).
"""

from __future__ import annotations

import json
import re
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType

from matrixone_spark.functions import _strict, arrow_udf, col_of


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def _loads_or_none(s):
    try:
        return json.loads(s)
    except (TypeError, ValueError):
        return None


def _walk_set(doc, path: str, value, *, create: bool, replace: bool):
    """Apply MySQL-style $.a.b / $.arr[i] path assignment."""
    if not path.startswith("$"):
        return doc
    steps: list = []
    i = 1
    while i < len(path):
        if path[i] == ".":
            j = i + 1
            while j < len(path) and path[j] not in ".[":
                j += 1
            steps.append(path[i + 1 : j])
            i = j
        elif path[i] == "[":
            j = path.index("]", i)
            steps.append(int(path[i + 1 : j]))
            i = j + 1
        else:
            return doc
    cur = doc
    for s in steps[:-1]:
        if isinstance(s, str) and isinstance(cur, dict) and s in cur:
            cur = cur[s]
        elif isinstance(s, int) and isinstance(cur, list) and s < len(cur):
            cur = cur[s]
        else:
            return doc
    last = steps[-1]
    if isinstance(last, str) and isinstance(cur, dict):
        exists = last in cur
        if (exists and replace) or (not exists and create):
            cur[last] = value
    elif isinstance(last, int) and isinstance(cur, list):
        if last < len(cur):
            if replace:
                cur[last] = value
        elif create:
            cur.append(value)
    return doc


def _json_mutate(d, p, v, *, create: bool, replace: bool):
    doc = _loads_or_none(d)
    if doc is None or p is None:
        return None
    return _dumps(_walk_set(doc, p, _loads_or_none(v), create=create, replace=replace))


def _k_json_set(d, p, v):
    return _json_mutate(d, p, v, create=True, replace=True)


def _k_json_insert(d, p, v):
    return _json_mutate(d, p, v, create=True, replace=False)


def _k_json_replace(d, p, v):
    return _json_mutate(d, p, v, create=False, replace=True)


_json_set_udf = arrow_udf(_k_json_set, StringType())
_json_insert_udf = arrow_udf(_k_json_insert, StringType())
_json_replace_udf = arrow_udf(_k_json_replace, StringType())


def json_set(doc, path, value) -> Column:
    """JSON_SET(doc, path, val): insert-or-replace (func_builtin_json.go)."""
    return _json_set_udf(doc, path, value)


def json_insert(doc, path, value) -> Column:
    """JSON_INSERT: insert only if absent."""
    return _json_insert_udf(doc, path, value)


def json_replace(doc, path, value) -> Column:
    """JSON_REPLACE: replace only if present."""
    return _json_replace_udf(doc, path, value)


def _k_json_remove(d, p):
    doc = _loads_or_none(d)
    if doc is None or p is None:
        return None
    if not p.startswith("$."):
        return _dumps(doc)
    if isinstance(doc, dict):
        doc.pop(p[2:], None)
    return _dumps(doc)


_json_remove_udf = arrow_udf(_k_json_remove, StringType())


def json_remove(doc, path) -> Column:
    """JSON_REMOVE(doc, '$.key') — top-level key removal."""
    return _json_remove_udf(doc, path)


def _merge_patch(x, y):
    if not isinstance(x, dict) or not isinstance(y, dict):
        return y
    out = dict(x)
    for k, v in y.items():
        if v is None:
            out.pop(k, None)
        else:
            out[k] = _merge_patch(out.get(k), v)
    return out


def _k_json_merge_patch(a, b):
    xa, xb = _loads_or_none(a), _loads_or_none(b)
    return None if xa is None or xb is None else _dumps(_merge_patch(xa, xb))


_json_merge_patch_udf = arrow_udf(_k_json_merge_patch, StringType())


def json_merge_patch(a, b) -> Column:
    """JSON_MERGE_PATCH (RFC 7396) — matches DuckDB/MySQL semantics."""
    return _json_merge_patch_udf(a, b)


# --- bytejson query/type surface (func_builtin_json.go: json_type,
# json_quote/json_unquote, json_contains; function_id.go:870-1131) ---


def json_type(j) -> Column:
    """MySQL JSON_TYPE over JSON text: OBJECT/ARRAY/STRING/BOOLEAN/NULL/
    INTEGER/DOUBLE — a pure first-token classifier, no parse needed (the
    reference tags the type in the bytejson header byte; text sniffing is
    the equivalent over serialized JSON)."""
    j = col_of(j)
    t = F.trim(j)
    c = F.substring(t, 1, 1)
    return (
        F.when(j.isNull(), F.lit(None))
        .when(c == "{", "OBJECT")
        .when(c == "[", "ARRAY")
        .when(c == '"', "STRING")
        .when(t.isin("true", "false"), "BOOLEAN")
        .when(t == "null", "NULL")
        .when(t.rlike(r"^-?[0-9]+$"), "INTEGER")
        .otherwise("DOUBLE")
    )


def json_quote(s) -> Column:
    """MySQL JSON_QUOTE: wrap a string as a JSON string literal (escaping
    backslash and double-quote; control-char escaping follows the same
    replace chain when needed)."""
    s = col_of(s)
    esc = F.regexp_replace(F.regexp_replace(s, r"\\", r"\\\\"), '"', r'\\"')
    return F.concat(F.lit('"'), esc, F.lit('"'))


def json_unquote(j) -> Column:
    """MySQL JSON_UNQUOTE: '$' extraction unquotes string scalars and
    passes other JSON through as text (get_json_object semantics match)."""
    return F.get_json_object(col_of(j), "$")


def _mysql_json_contains(target, candidate) -> bool:
    """MySQL containment rules (func_builtin_json.go json_contains →
    bytejson containment): arrays contain a candidate if some element
    does (every element, for an array candidate); objects contain object
    candidates with a subset of keys and contained values; scalars compare
    with numeric coercion."""
    if isinstance(target, list):
        if isinstance(candidate, list):
            return all(
                any(_mysql_json_contains(e, c) for e in target) for c in candidate
            )
        return any(_mysql_json_contains(e, candidate) for e in target)
    if isinstance(target, dict):
        if not isinstance(candidate, dict):
            return False
        return all(
            k in target and _mysql_json_contains(target[k], v)
            for k, v in candidate.items()
        )
    if isinstance(candidate, list) or isinstance(candidate, dict):
        return False
    tb, cb = isinstance(target, bool), isinstance(candidate, bool)
    if tb or cb:
        return tb and cb and target == candidate
    if isinstance(target, (int, float)) and isinstance(candidate, (int, float)):
        return float(target) == float(candidate)
    return target == candidate


def _k_json_contains(t, c):
    if t is None or c is None:
        return None
    try:
        return bool(_mysql_json_contains(json.loads(t), json.loads(c)))
    except (ValueError, TypeError):
        return None


_json_contains_udf = arrow_udf(_k_json_contains, BooleanType())


def json_contains(target, candidate) -> Column:
    """MySQL JSON_CONTAINS(target, candidate) — Arrow-batched UDF (the
    recursive containment walk has no Column-expression form)."""
    return _json_contains_udf(col_of(target), col_of(candidate))


def json_objectagg_sorted(key, value) -> Column:
    """JSON_OBJECTAGG rendered with sorted keys: deterministic under
    parallel aggregation (MySQL emits insertion order, which is not
    reproducible distributed — sorted keys is the batch-stable contract)."""
    entry = F.concat(F.lit('"'), col_of(key), F.lit('":'), col_of(value).cast("string"))
    return F.concat(
        F.lit("{"), F.concat_ws(",", F.array_sort(F.collect_list(entry))), F.lit("}")
    )


def _paths_steps(path: str):
    """Parse a MySQL '$.a.b[i]' path into step list, or None if malformed."""
    if not path or not path.startswith("$"):
        return None
    steps: list = []
    i = 1
    while i < len(path):
        if path[i] == ".":
            j = i + 1
            while j < len(path) and path[j] not in ".[":
                j += 1
            steps.append(path[i + 1 : j])
            i = j
        elif path[i] == "[":
            j = path.index("]", i)
            steps.append(int(path[i + 1 : j]))
            i = j + 1
        else:
            return None
    return steps


def _path_exists(doc, path: str) -> bool:
    steps = _paths_steps(path)
    if steps is None:
        return False
    cur = doc
    for s in steps:
        if isinstance(s, str) and isinstance(cur, dict) and s in cur:
            cur = cur[s]
        elif isinstance(s, int) and isinstance(cur, list) and -len(cur) <= s < len(cur):
            cur = cur[s]
        else:
            return False
    return True


def _k_json_contains_path(d, m, ps):
    if d is None or ps is None:
        return None
    obj = _loads_or_none(d)
    if obj is None and d.strip() != "null":
        return None
    checks = [_path_exists(obj, p) for p in ps.split("|")]
    return all(checks) if (m or "one").lower() == "all" else any(checks)


_json_contains_path_udf = arrow_udf(_k_json_contains_path, BooleanType())


def json_contains_path(doc, mode, paths) -> Column:
    """MySQL JSON_CONTAINS_PATH(doc, 'one'|'all', path...) —
    func_builtin_json.go registry. ``paths`` is a '|'-joined path list
    column (the variadic surface flattened for a single UDF signature)."""
    return _json_contains_path_udf(col_of(doc), col_of(mode), col_of(paths))


def _scalar_overlap(a, b) -> bool:
    ab, bb = isinstance(a, bool), isinstance(b, bool)
    if ab or bb:
        return ab and bb and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return type(a) is type(b) and a == b


def _k_json_overlaps(x, y):
    xo, yo = _loads_or_none(x), _loads_or_none(y)
    xa = xo if isinstance(xo, list) else [xo]
    ya = yo if isinstance(yo, list) else [yo]
    if isinstance(xo, dict) and isinstance(yo, dict):
        return any(k in yo and _scalar_overlap(v, yo[k]) for k, v in xo.items())
    return any(
        _scalar_overlap(e, f) if not isinstance(e, (dict, list)) else e == f
        for e in xa
        for f in ya
    )


_json_overlaps_udf = arrow_udf(_strict(_k_json_overlaps), BooleanType())


def json_overlaps(a, b) -> Column:
    """MySQL JSON_OVERLAPS: arrays overlap on any shared element, objects
    on any shared key/value pair, scalars on equality (numeric-coercing)."""
    return _json_overlaps_udf(col_of(a), col_of(b))


def _k_json_pretty(d):
    obj = _loads_or_none(d)
    if obj is None and d.strip() != "null":
        return None
    return json.dumps(obj, indent=2, ensure_ascii=False)


_json_pretty_udf = arrow_udf(_strict(_k_json_pretty), StringType())


def json_pretty(doc) -> Column:
    """MySQL JSON_PRETTY: 2-space-indented canonical rendering."""
    return _json_pretty_udf(col_of(doc))


def _merge_preserve(x, y):
    """MySQL JSON_MERGE_PRESERVE: arrays concatenate, objects merge
    per-key recursively, scalars pair into arrays."""
    if isinstance(x, dict) and isinstance(y, dict):
        out = dict(x)
        for k, v in y.items():
            out[k] = _merge_preserve(out[k], v) if k in out else v
        return out
    xa = x if isinstance(x, list) else [x]
    ya = y if isinstance(y, list) else [y]
    return xa + ya


def _k_json_merge_preserve(x, y):
    return _dumps(_merge_preserve(_loads_or_none(x), _loads_or_none(y)))


_json_merge_preserve_udf = arrow_udf(_strict(_k_json_merge_preserve), StringType())


def json_merge_preserve(a, b) -> Column:
    """MySQL JSON_MERGE_PRESERVE (the pre-8.0 JSON_MERGE semantics)."""
    return _json_merge_preserve_udf(col_of(a), col_of(b))


def json_value(doc, path, cast_to: str = "string") -> Column:
    """MySQL 8 JSON_VALUE(doc, path RETURNING type): extract + unquote +
    cast — composes Spark's native get_json_object with a cast, all
    JVM-side (no UDF; this one IS hot-path shaped)."""
    return F.get_json_object(col_of(doc), path).cast(cast_to)


def json_extract_float64(doc, path) -> Column:
    """Reference json_extract_float64 (func_builtin_json.go): numeric
    extraction as double."""
    return json_value(doc, path, "double")


_IDENT_KEY_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


@lru_cache(maxsize=256)
def _like_regex(pattern: str, escape: str) -> "re.Pattern":
    """SQL LIKE pattern → anchored regex (MySQL JSON_SEARCH match rules)."""
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == escape and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
        i += 1
    return re.compile("^" + "".join(out) + "$", re.DOTALL)


def _search_paths(node, rx, path: str, acc: "list[str]") -> None:
    if isinstance(node, str):
        if rx.match(node):
            acc.append(path)
    elif isinstance(node, dict):
        for k, v in node.items():
            step = f".{k}" if _IDENT_KEY_RE.match(k) else f'."{k}"'
            _search_paths(v, rx, path + step, acc)
    elif isinstance(node, list):
        for i, v in enumerate(node):
            _search_paths(v, rx, f"{path}[{i}]", acc)


def json_search(doc, one_or_all: str, pattern, escape: str = "\\") -> Column:
    """MySQL JSON_SEARCH(doc, 'one'|'all', like_pattern[, escape]): paths of
    string values matching the LIKE pattern, as a JSON string ('one' / single
    match) or JSON array ('all' with several matches); NULL when absent.
    MySQL-compat surface beyond the reference registry (function_id.go:1082
    stops at json_extract/set/contains families); document-order DFS matches
    MySQL's path ordering."""
    mode = one_or_all.lower()

    def _k_json_search(d, pat):
        parsed = _loads_or_none(d)
        if parsed is None:
            return None
        acc: "list[str]" = []
        _search_paths(parsed, _like_regex(pat, escape), "$", acc)
        if not acc:
            return None
        return _dumps(acc[0] if mode == "one" or len(acc) == 1 else acc)

    return arrow_udf(_strict(_k_json_search), StringType())(col_of(doc), col_of(pattern))


# ---------------------------------------------------------------------------
# jq / try_jq — mini-jq evaluator (func_builtin_jq.go uses gojq; jq_mini.py
# implements the deterministic core with a real parser: identity, field
# paths, array indexing/iteration, pipes, keys/length/add/not/floor/abs,
# select()/map(), arithmetic (+ - * / %), comparisons with jq's total
# order, and if/then/else/end. Unsupported syntax raises (jq) or yields
# NULL (try_jq).
# ---------------------------------------------------------------------------

from matrixone_spark.functions import jq_mini as _jq_mini


def _jq_run(doc: "str | None", program: str) -> "str | None":
    if doc is None:
        return None
    values = _jq_mini.run(json.loads(doc), program)
    if len(values) == 1:
        return _dumps(values[0])
    return "\n".join(_dumps(v) for v in values)  # jq emits one result per line


def _try_jq_run(doc: "str | None", program: str) -> "str | None":
    try:
        return _jq_run(doc, program)
    except Exception:  # noqa: BLE001 — try_jq swallows by contract
        return None


_jq_udf = arrow_udf(_jq_run, StringType())
_try_jq_udf = arrow_udf(_try_jq_run, StringType())


def jq(doc, program) -> Column:
    """jq(doc, program): evaluate a jq program (paths, ``.a[]`` iteration,
    pipes, ``keys``/``length``/``add``/``not``/``floor``/``abs``,
    ``select()``/``map()``, arithmetic, comparisons, ``if/then/else/end`` —
    see functions/jq_mini.py) against a JSON document; raises on invalid
    programs (func_builtin_jq.go:jq)."""
    return _jq_udf(col_of(doc), col_of(program))


def try_jq(doc, program) -> Column:
    """try_jq: like jq but returns NULL on evaluation errors
    (func_builtin_jq.go:try_jq)."""
    return _try_jq_udf(col_of(doc), col_of(program))


# --- MySQL JSON path evaluation (wildcards / ** / last / ranges) ------------
# Reference: pkg/container/bytejson path grammar (func_json_extract.test):
#   $.key  $."quoted key"  $.*  $[N]  $[last]  $[last-N]  $[A to B]  $[*]  $**
# A path containing * / ** / a range always yields a JSON ARRAY of matches;
# otherwise a single match is returned bare. No match -> NULL. A non-array
# value is addressed as a one-element array by index/range legs ($[0] on a
# scalar returns the scalar, func_json_extract.test $[0 to 0] on '1' -> [1]).

_JSON_PATH_TOKEN_RE = re.compile(
    r"""\.\s*"(?P<qkey>(?:[^"\\]|\\.)*)"   # ."quoted key"
      | \.\s*(?P<wildkey>\*)               # .*
      | \.\s*(?P<key>[^.\[\*"]+)           # .key
      | \[\s*(?P<body>[^\]]*)\]            # [ ... ]
      | (?P<rec>\*\*)                      # **
    """,
    re.VERBOSE,
)
_JSON_IDX_RE = re.compile(r"^(?:(?P<n>\d+)|last(?:\s*-\s*(?P<off>\d+))?)$")


def _parse_json_path(path: str) -> "list[tuple] | None":
    p = path.strip()
    if not p.startswith("$"):
        return None
    steps: "list[tuple]" = []
    i = 1
    while i < len(p):
        m = _JSON_PATH_TOKEN_RE.match(p, i)
        if not m:
            return None
        if m.group("qkey") is not None:
            steps.append(("key", m.group("qkey").replace('\\"', '"')))
        elif m.group("wildkey"):
            steps.append(("key_wild",))
        elif m.group("key") is not None:
            steps.append(("key", m.group("key").strip()))
        elif m.group("rec"):
            steps.append(("rec",))
        else:
            body = m.group("body").strip()
            if body == "*":
                steps.append(("idx_wild",))
            elif " to " in body:
                lo, hi = (s.strip() for s in body.split(" to ", 1))
                ml, mh = _JSON_IDX_RE.match(lo), _JSON_IDX_RE.match(hi)
                if not ml or not mh:
                    return None
                steps.append(("range", _idx_spec(ml), _idx_spec(mh)))
            else:
                mi = _JSON_IDX_RE.match(body)
                if not mi:
                    return None
                spec = _idx_spec(mi)
                steps.append(("idx", spec))
        i = m.end()
    # MySQL (and the reference's bytejson) reject a path whose LAST leg is
    # `**` — recursive descent must be followed by a selector.
    if steps and steps[-1][0] == "rec":
        return None
    return steps


def _idx_spec(m: "re.Match") -> "tuple[str, int]":
    if m.group("n") is not None:
        return ("n", int(m.group("n")))
    return ("last", int(m.group("off") or 0))


def _resolve_idx(spec: "tuple[str, int]", n: int) -> int:
    return spec[1] if spec[0] == "n" else n - 1 - spec[1]


def _all_json_nodes(node):
    yield node
    if isinstance(node, dict):
        for v in node.values():
            yield from _all_json_nodes(v)
    elif isinstance(node, list):
        for v in node:
            yield from _all_json_nodes(v)


def _eval_json_path(node, steps: "list[tuple]") -> list:
    if not steps:
        return [node]
    head, rest = steps[0], steps[1:]
    kind = head[0]
    out: list = []
    if kind == "key":
        if isinstance(node, dict) and head[1] in node:
            out += _eval_json_path(node[head[1]], rest)
    elif kind == "key_wild":
        if isinstance(node, dict):
            for v in node.values():
                out += _eval_json_path(v, rest)
    elif kind == "idx":
        arr = node if isinstance(node, list) else [node]
        i = _resolve_idx(head[1], len(arr))
        if 0 <= i < len(arr):
            out += _eval_json_path(arr[i], rest)
    elif kind == "range":
        arr = node if isinstance(node, list) else [node]
        a = max(_resolve_idx(head[1], len(arr)), 0)
        b = min(_resolve_idx(head[2], len(arr)), len(arr) - 1)
        for i in range(a, b + 1):
            out += _eval_json_path(arr[i], rest)
    elif kind == "idx_wild":
        if isinstance(node, list):
            for v in node:
                out += _eval_json_path(v, rest)
    elif kind == "rec":
        for n in _all_json_nodes(node):
            out += _eval_json_path(n, rest)
    return out


def _mysql_dumps(obj) -> str:
    return json.dumps(obj, separators=(", ", ": "), ensure_ascii=False)


def mysql_json_extract_str(doc: "str | None", path: "str | None") -> "str | None":
    if doc is None or path is None:
        return None
    steps = _parse_json_path(str(path))
    if steps is None:
        raise ValueError(f"invalid json path {path!r}")
    node = json.loads(doc)
    matches = _eval_json_path(node, steps)
    if not matches:
        return None
    wild = any(s[0] in ("key_wild", "idx_wild", "range", "rec") for s in steps)
    if wild or len(matches) > 1:
        return _mysql_dumps(matches)
    return _mysql_dumps(matches[0])


# invalid paths / invalid JSON documents propagate: MySQL and the
# reference error the whole statement (the BVT replay grades the pair as
# both-error), they do not yield NULL rows.
_mo_json_extract_udf = arrow_udf(mysql_json_extract_str, StringType())


def mo_json_extract(doc, path) -> Column:
    """json_extract with the reference's full path grammar (wildcards,
    ``**`` recursive descent, ``last``/ranges) — bytejson path semantics;
    the dialect routes wildcard paths here, plain paths stay on Spark's
    JVM-side get_json_object."""
    return _mo_json_extract_udf(col_of(doc), col_of(path))
