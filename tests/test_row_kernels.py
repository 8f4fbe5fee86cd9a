"""Characterization of the DataFrame tier's per-row Python builders.

Each case runs one builder over a few rows: a NULL in every argument
position, one malformed or edge input and one ordinary value. The expected
rows pin what each builder returns, so a change to the UDF wrapper or to a
kernel cannot change a result unnoticed. A case whose expected value is
``RAISES`` pins a row that fails the statement.
"""

from __future__ import annotations

import base64
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from matrixone_spark.functions import cjk_dict as CJ
from matrixone_spark.functions import geo as G
from matrixone_spark.functions import h3cell as H3
from matrixone_spark.functions import json_fns as J
from matrixone_spark.functions import mysql as M
from matrixone_spark.functions import s2cell as S2
from matrixone_spark.functions import vector as V
from matrixone_spark.operators import fulltext as FT
from matrixone_spark.queries import geofull

RAISES = "RAISES"
NAN = float("nan")

_S2 = Decimal(1153278845885874176)  # level-10 cell at (1, 1)
_S2_NBR = Decimal(1153281044909129728)  # one of its edge neighbours
_H3 = Decimal(599849916910534655)  # resolution-5 cell at (116, 40)
_H3_NBR = Decimal(599849923352985599)
_ZHELLO = b"\x05\x00\x00\x00x\x9c\xcbH\xcd\xc9\xc9\x07\x00\x06,\x02\x15"
_WKB_PT = b"\x01\x01\x00\x00\x00" + b"\x00" * 6 + b"\xf0?" + b"\x00" * 7 + b"@"
_F32 = base64.b64encode(b"\x00\x00\x80?\x00\x00 @").decode()  # [1.0, 2.5]

_DOC3 = "d string, p string, v string"
_TWO = "a string, b string"
_CELL = "c decimal(20,0)"
_CELLS = "a decimal(20,0), b decimal(20,0)"
_XY = "x double, y double"


def _rows(build, schema, rows):
    """A run of ``build`` over the input columns of ``rows``."""
    def run(spark):
        df = spark.createDataFrame(rows, schema)
        return [r[0] for r in df.select(build(*[F.col(c) for c in df.columns])).collect()]

    return run


def _geo_eval(*cases):
    """A run of geofull's battery runner, which calls geo_eval per row."""
    def run(spark):
        df = geofull._run(spark, [geofull._case(*c) for c in cases])
        return [tuple(r) for r in df.collect()]

    return run


# (id, run over a fresh DataFrame, expected rows)
CASES = [
    ("json_set", _rows(J.json_set, _DOC3,
     [('{"a":1}', "$.b", "2"), (None, "$.a", "1"), ('{"a":1}', "$.a", None),
      ("bad", "$.a", "1")]),
     ['{"a":1,"b":2}', None, '{"a":null}', None]),
    ("json_set_null_path", _rows(J.json_set, _DOC3, [('{"a":1}', None, "1")]),
     [None]),
    ("json_insert", _rows(J.json_insert, _DOC3,
     [('{"a":1}', "$.a", "2"), ('{"a":1}', "$.b", "2"), (None, "$.a", "1"),
      ('{"a":1}', "$.c", None), ('[1]', "$[3]", "2")]),
     ['{"a":1}', '{"a":1,"b":2}', None, '{"a":1,"c":null}', '[1,2]']),
    ("json_insert_null_path", _rows(J.json_insert, _DOC3, [('{"a":1}', None, "1")]),
     [None]),
    ("json_replace", _rows(J.json_replace, _DOC3,
     [('{"a":1}', "$.a", "2"), ('{"a":1}', "$.b", "2"), (None, "$.a", "1"),
      ('{"a":1}', "$.a", None)]),
     ['{"a":2}', '{"a":1}', None, '{"a":null}']),
    ("json_replace_null_path", _rows(J.json_replace, _DOC3, [('{"a":1}', None, "1")]),
     [None]),
    ("json_remove", _rows(J.json_remove, _TWO,
     [('{"a":1,"b":2}', "$.a"), (None, "$.a"), ('[1,2]', "$[0]"), ("bad", "$.a")]),
     ['{"b":2}', None, '[1,2]', None]),
    ("json_remove_null_path", _rows(J.json_remove, _TWO, [('{"a":1}', None)]),
     [None]),
    ("json_merge_patch", _rows(J.json_merge_patch, _TWO,
     [('{"a":1,"b":2}', '{"b":null,"c":3}'), (None, "{}"), ("{}", None),
      ("null", '{"a":1}'), ("bad", "{}")]),
     ['{"a":1,"c":3}', None, None, None, None]),
    ("json_contains", _rows(J.json_contains, _TWO,
     [('[1,2,{"a":3}]', '{"a":3}'), (None, "1"), ("1", None), ("bad", "1"),
      ("[1,2]", "[2,1]")]),
     [True, None, None, None, True]),
    ("json_contains_path", _rows(J.json_contains_path, "d string, m string, p string",
     [('{"a":1,"b":{"c":2}}', "all", "$.a|$.b.c"), (None, "one", "$.a"),
      ('{"a":1}', None, "$.x|$.a"), ('{"a":1}', "one", None), ("bad", "one", "$.a"),
      ("null", "all", "$")]),
     [True, None, True, None, None, True]),
    ("json_overlaps", _rows(J.json_overlaps, _TWO,
     [("[1,2]", "[2,3]"), (None, "1"), ("1", None), ('{"a":1}', '{"a":1.0}'),
      ("bad", "1"), ("null", "null")]),
     [True, None, None, True, False, True]),
    ("json_pretty", _rows(J.json_pretty, "d string",
     [('{"a":[1,2]}',), (None,), ("null",), ("bad",)]),
     ['{\n  "a": [\n    1,\n    2\n  ]\n}', None, 'null', None]),
    ("json_merge_preserve", _rows(J.json_merge_preserve, _TWO,
     [('{"a":1}', '{"a":2}'), (None, "1"), ("1", None), ("bad", "[1]")]),
     ['{"a":[1,2]}', None, None, '[null,1]']),
    ("json_search", _rows(lambda d, p: J.json_search(d, "all", p), _TWO,
     [('{"a":"abc","b":["abd","x"]}', "ab%"), (None, "a"), ('{"a":"x"}', None),
      ("bad", "%"), ('{"a":"x"}', "y")]),
     ['["$.a","$.b[0]"]', None, None, None, None]),
    ("jq", _rows(J.jq, _TWO, [('{"a":[1,2]}', ".a[]"), (None, "."), ('{"a":1}', ".a")]),
     ['1\n2', None, '1']),
    ("jq_null_program", _rows(J.jq, _TWO, [('{"a":1}', None)]),
     RAISES),
    ("jq_invalid_program", _rows(J.jq, _TWO, [('{"a":1}', ".a |||")]),
     RAISES),
    ("try_jq", _rows(J.try_jq, _TWO,
     [('{"a":[1,2]}', ".a[]"), (None, "."), ('{"a":1}', None), ('{"a":1}', ".a |||"),
      ("bad", ".")]),
     ['1\n2', None, None, None, None]),
    ("crc32", _rows(M.crc32, "s string", [("MySQL",), (None,), ("",)]),
     [3259397556, None, 0]),
    ("compress", _rows(M.compress, "s string", [("hello",), (None,), ("",)]),
     [b'\x05\x00\x00\x00x\x9c\xcbH\xcd\xc9\xc9\x07\x00\x06,\x02\x15', None, b'']),
    ("uncompress", _rows(M.uncompress, "b binary",
     [(_ZHELLO,), (None,), (b"",), (b"\x05\x00\x00\x00garbage",),
      (b"\x09\x00\x00\x00" + _ZHELLO[4:],)]),
     [b'hello', None, b'', None, None]),
    ("uncompressed_length", _rows(M.uncompressed_length, "b binary",
     [(_ZHELLO,), (None,), (b"",)]),
     [5, None, 0]),
    ("uncompressed_length_short", _rows(M.uncompressed_length, "b binary",
     [(b"\x01\x02",)]),
     RAISES),
    ("inet6_aton_hex", _rows(M.inet6_aton_hex, "s string",
     [("::1",), (None,), ("1.2.3.4",), ("bogus",), (" ::ffff:1.2.3.4 ",)]),
     [
      '00000000000000000000000000000001',
      None,
      '01020304',
      None,
      '00000000000000000000ffff01020304',
     ]),
    ("inet6_ntoa_hex", _rows(M.inet6_ntoa_hex, "h string",
     [("00000000000000000000ffff01020304",), (None,), ("zz",), ("0102",),
      ("01020304",), ("20010db8000000000000000000000001",)]),
     ['::ffff:1.2.3.4', None, None, None, '1.2.3.4', '2001:db8::1']),
    ("is_ipv6", _rows(M.is_ipv6, "s string",
     [("::1",), (None,), ("1.2.3.4",), ("x",), (" ::1 ",)]),
     [True, None, False, False, True]),
    ("st_geohash", _rows(lambda x, y: G.st_geohash(x, y, 7), _XY,
     [(116.4, 39.9), (None, 39.9), (116.4, None), (NAN, 39.9), (116.4, NAN),
      (200.0, 0.0)]),
     ['wx4fbxx', None, None, None, None, None]),
    ("st_longfromgeohash", _rows(G.st_longfromgeohash, "g string",
     [("wx4g0",), (None,), ("",), ("aio",)]),
     [116.38916015625, None, None, None]),
    ("st_latfromgeohash", _rows(G.st_latfromgeohash, "g string",
     [("wx4g0",), (None,), ("",), ("aio",)]),
     [39.92431640625, None, None, None]),
    ("st_aswkb", _rows(lambda w: G.st_aswkb(G.st_geomfromtext(w)), "w string",
     [("POINT(1 2)",), (None,), ("LINESTRING(0 0,1 1)",)]),
     [
      b'\x01\x01\x00\x00\x00\x00\x00\x00\x00\x00\x00\xf0?\x00\x00\x00'
       b'\x00\x00\x00\x00@',
      None,
      b'\x01\x02\x00\x00\x00\x02\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00'
       b'\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00\xf0'
       b'?\x00\x00\x00\x00\x00\x00\xf0?',
     ]),
    ("st_aswkb_malformed", _rows(lambda w: G.st_aswkb(G.st_geomfromtext(w)), "w string",
     [("POINT(x)",)]),
     RAISES),
    ("st_geomfromwkb", _rows(lambda b: G.st_astext(G.st_geomfromwkb(b)), "b binary",
     [(_WKB_PT,), (None,), (b"\x01",), (b"\x01\x07\x00\x00\x00",)]),
     ['POINT(1.0 2.0)', None, None, None]),
    ("s2_cellid_center_wkt", _rows(S2.s2_cellid_center_wkt, _CELL, [(_S2,), (None,)]),
     ['POINT(1.020322391962957 1.0201606459006027)', None]),
    ("s2_cellid_area", _rows(S2.s2_cellid_area, _CELL, [(_S2,), (None,)]),
     [72424585.10235547, None]),
    ("s2_cellid_edgeneighbors", _rows(S2.s2_cellid_edgeneighbors, _CELL, [(_S2,), (None,)]),
     [
      '[1153281044909129728, 1153289841002151936,'
       ' 1153303035141685248, 1153276646862618624]',
      None,
     ]),
    ("s2_cellid_allneighbors", _rows(S2.s2_cellid_allneighbors, _CELL, [(_S2,), (None,)]),
     [
      '[1153274447839363072, 1153283243932385280,'
       ' 1153281044909129728, 1153303035141685248,'
       ' 1153276646862618624, 1153289841002151936,'
       ' 1153305234164940800, 1153292040025407488]',
      None,
     ]),
    ("s2_cellid_areneighbors", _rows(S2.s2_cellid_areneighbors, _CELLS,
     [(_S2, _S2_NBR), (None, _S2), (_S2, None), (_S2, _S2)]),
     [True, None, None, False]),
    ("h3_h3index", _rows(lambda x, y: H3.h3_h3index(x, y, 5), _XY,
     [(116.0, 40.0), (None, 40.0), (116.0, None), (NAN, 40.0), (116.0, NAN)]),
     [Decimal('599849916910534655'), None, None, None, None]),
    ("h3_h3index_resolution", _rows(H3.h3_h3index_resolution, _CELL, [(_H3,), (None,)]),
     [5, None]),
    ("h3_h3index_resolution_invalid", _rows(H3.h3_h3index_resolution, _CELL,
     [(Decimal(12345),)]),
     RAISES),
    ("h3_h3index_parent", _rows(lambda c: H3.h3_h3index_parent(c, 3), _CELL,
     [(_H3,), (None,)]),
     [Decimal('590842776711593983'), None]),
    ("h3_h3index_center_wkt", _rows(H3.h3_h3index_center_wkt, _CELL, [(_H3,), (None,)]),
     ['POINT(115.96673241818901 39.99711862580376)', None]),
    ("h3_h3index_boundary_wkt", _rows(H3.h3_h3index_boundary_wkt, _CELL, [(_H3,), (None,)]),
     [
      'MULTIPOINT(115.89293847194438 40.03759773111383,'
       '115.87983238096467 39.957700279209675,'
       '115.95353702599259 39.917301973976365,'
       '116.04032644244816 39.95665467188818,'
       '116.05364914630387 40.0364342345424,'
       '115.97996619772412 40.076979019817415)',
      None,
     ]),
    ("h3_h3index_neighbors", _rows(H3.h3_h3index_neighbors, _CELL, [(_H3,), (None,)]),
     [
      '[599849923352985599, 599849919058018303, 599849920131760127,'
       ' 599849917984276479, 599849922279243775, 599849921205501951]',
      None,
     ]),
    ("h3_h3index_areneighbors", _rows(H3.h3_h3index_areneighbors, _CELLS,
     [(_H3, _H3_NBR), (None, _H3), (_H3, None), (_H3, _H3)]),
     [True, None, None, False]),
    ("vec_to_base64", _rows(V.vec_to_base64, "v array<float>",
     [([1.0, 2.5],), (None,), ([],)]),
     ['AACAPwAAIEA=', None, '']),
    ("vec_from_base64", _rows(V.vec_from_base64, "s string",
     [(_F32,), (None,), ("!!not base64",), ("AAA=",)]),
     [[1.0, 2.5], None, None, None]),
    ("vec_from_base64_int8", _rows(lambda s: V.vec_from_base64(s, "int8"), "s string",
     [("AQL/",), (None,), ("!!",)]),
     [[1.0, 2.0, -1.0], None, None]),
    ("vecbf16_from_base64", _rows(V.vecbf16_from_base64, "s string",
     [("gD8AQQ==",), (None,), ("!!",), ("AAA=",), ("AAAA",)]),
     [[1.0, 8.0], None, None, [0.0], None]),
    ("tokenize_dict", _rows(CJ.tokenize_dict, "t string",
     [("北京大学的数据 SQL",), (None,), ("",)]),
     [['北京', '大学', '的', '数据', 'sql'], None, []]),
    ("tokenize_dict_pos", _rows(CJ.tokenize_dict_pos, "t string",
     [("北京大学的数据 SQL",), (None,), ("",)]),
     [[('北京', 0), ('大学', 2), ('的', 4), ('数据', 5), ('sql', 8)], None, []]),
    ("make_tokenizer", _rows(lambda t: CJ.make_tokenizer({"数据库": 100})[1](t), "t string",
     [("数据库查询",), (None,)]),
     [[('数据库', 0), ('查', 3), ('询', 4)], None]),
    ("fulltext_mixed_pos", _rows(FT._mixed_pos_udf, "t string",
     [("北京大学 Spark",), (None,), ("",)]),
     [[('北京大', 0), ('京大学', 1), ('大学', 2), ('学', 3), ('spark', 5)], None, []]),
    ("geo_eval", _geo_eval(
        ("n1_null_num", "simplify", "LINESTRING(0 0,5 0.0001,10 0)"),
        ("n2_nan_num", "interp_point", "LINESTRING(0 0,10 0)", None, NAN),
        ("n3_null_op", None, "POINT(1 2)"),
        ("n4_null_a", "astext", None),
        ("n5_null_b", "collect", "POINT(0 0)"),
        ("n6_null_digits", "asgeojson", "POINT(1.23456 2)"),
        ("n7_value", "buffer_text", "POINT(3 4)", None, 0.0),
        ("n8_malformed", "area", "POLYGON((0 0,1 0"),
    ),
     [
      ('n1_null_num', None),
      ('n2_nan_num', None),
      ('n3_null_op', None),
      ('n4_null_a', None),
      ('n5_null_b', None),
      ('n6_null_digits', '{"type":"Point","coordinates":[1.23456,2]}'),
      ('n7_value', 'POINT(3 4)'),
      ('n8_malformed', None),
     ]),
]


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_row_builder(spark, case):
    _id, run, expected = case
    if expected == RAISES:
        with pytest.raises(Exception):
            run(spark)
    else:
        assert run(spark) == expected
