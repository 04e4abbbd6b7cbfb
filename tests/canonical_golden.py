"""Golden canonical-form values: a frame covering every canonical branch,
and the ``row_hash``/``bucket_id``/``canonical_value`` outputs over it.

The values were produced by the Column-built canonicalizer that the single
SQL-text definition in ``functions/hashing.py`` replaced. Bucket ids feed
persisted digest artifacts, so a moved value needs a ``BUCKETING_VERSION``
bump; a moved row hash flags every persisted digest as drifted.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import types as T

D = T.DoubleType()
SCHEMA = T.StructType([
    T.StructField("id", T.IntegerType()),
    T.StructField("by", T.ByteType()),
    T.StructField("sh", T.ShortType()),
    T.StructField("l", T.LongType()),
    T.StructField("d18", T.DecimalType(18, 0)),
    T.StructField("d20", T.DecimalType(20, 0)),
    T.StructField("dec", T.DecimalType(12, 2)),
    T.StructField("dec38", T.DecimalType(38, 10)),
    T.StructField("f", T.FloatType()),
    T.StructField("d", D),
    T.StructField("s", T.StringType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("dt", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("tn", T.TimestampNTZType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("m", T.MapType(T.StringType(), D)),
    T.StructField("as", T.ArrayType(T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("b", D),
        T.StructField("c", T.StringType()),
    ]))),
    T.StructField("sm", T.StructType([
        T.StructField("m", T.MapType(T.StringType(), D)),
        T.StructField("a", T.ArrayType(D)),
        T.StructField("x", T.LongType()),
    ])),
    T.StructField("mia", T.MapType(T.IntegerType(), T.ArrayType(D))),
    T.StructField("aad", T.ArrayType(T.ArrayType(D))),
    T.StructField("ms", T.MapType(T.StringType(), T.StructType([
        T.StructField("p", D),
        T.StructField("q", T.StringType()),
    ]))),
    T.StructField("am", T.ArrayType(T.MapType(T.StringType(), D))),
    # field names holding a dot and a backtick, at two nesting levels
    T.StructField("wc", T.StructType([
        T.StructField("a.b", D),
        T.StructField("c`d", T.StringType()),
        T.StructField("e", T.MapType(T.StringType(), T.StructType([
            T.StructField("x.y", D), T.StructField("z`", T.IntegerType()),
        ]))),
    ])),
])
_TS = datetime.datetime(
    2024, 3, 1, 12, 30, 45, 123456, tzinfo=datetime.timezone.utc
)
_NTZ = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_NAN = float("nan")
ROWS = [
    (1, 1, 10, 100, Decimal(5), Decimal(5), Decimal("1.25"),
     Decimal("3.1415926535"), 0.5, 1.23456789, "a", True,
     datetime.date(2024, 1, 1), _TS, _NTZ, b"\x00\x01",
     {"k": -0.0, "j": 2.5}, [(1, -0.0, "x"), None, (None, 0.0001, None)],
     ({"z": 1.0}, [0.0, -0.0, None], 7), {2: [1.0, -0.0], 1: None},
     [[1.5, None], None, []], {"p": (-0.0, "q"), "n": None},
     [{"a": -0.0}, None, {}], (-0.0, "v", {"k": (1.0004, 3)})),
    (2, -1, -10, -100, Decimal(-5), Decimal("12345678901234567890"),
     Decimal("-0.01"), Decimal("0"), -0.0, -0.0, "", False,
     datetime.date(1999, 12, 31), _TS, _NTZ, b"",
     {}, [], (None, None, None), {}, [], {}, [], (None, None, None)),
    (3,) + (None,) * 23,
    (4, 127, 32767, 2**62, Decimal("999999999999999999"),
     Decimal("99999999999999999999"), Decimal("9999999999.99"),
     Decimal("1234567890.0123456789"), 1.0004999, 2.0004999, "a,b.c`d",
     True, datetime.date(1970, 1, 1), _EPOCH,
     datetime.datetime(1970, 1, 1), b"\xff",
     {"x": None}, [(None, None, None)], ({}, [], None),
     {-1: [], 0: [None]}, [[None]], {"": (None, None)}, [{"b": None}],
     (1.23456, None, {})),
    (5, 0, 0, 0, Decimal(0), Decimal(0), Decimal("0.00"), Decimal("-0E-10"),
     _NAN, _NAN, "z", None, None, None, None, None,
     {"a": _NAN, "b": 0.0}, [(0, _NAN, "")],
     ({"m": -0.0}, [_NAN], 0), {5: [_NAN, 0.0]},
     [[-0.0, 0.0]], {"k": (0.0, "")}, [{"k": 0.0}], (0.0, "", None)),
]
# scalar-only frame: a dot and a backtick in TOP-LEVEL column names
SCALAR_DDL = "id int, `a.b` double, `c``d` int, `e``.f` string"
SCALAR_ROWS = [(1, -0.0, 3, "x"), (2, 1.00049, None, None), (3, None, -7, "")]
SCALAR_PK = ["c`d", "a.b", "e`.f"]

# ROW_HASH[fr] is row_hash(df, None, fr) by id; "_sub" drops the id column;
# "scalar_" is over the scalar frame
ROW_HASH = {
    'None': [
        2058811753733460404, 1571667027230040532, 804121664681899114,
        7317851770401596975, -2653766820595166269
    ],
    '3': [
        1214236972447092312, 1571667027230040532, 804121664681899114,
        -4555736125505404880, -2653766820595166269
    ],
    'None_sub': [
        5506793206397090674, 5480660468392854200, -2972368162211014992,
        6851519885522869879, -3558877300105601978
    ],
    '3_sub': [
        178013302524842585, 5480660468392854200, -2972368162211014992,
        -8423381659495222882, -3558877300105601978
    ],
    'scalar_None': [
        7657475737712412543, -6462606794947358779, 6957476792862439630
    ],
    'scalar_3': [
        7657475737712412543, 7158927617160189711, 6957476792862439630
    ],
}
# BUCKET["+".join(pk)] is bucket_id(pk, 4096, df) by id; "scalar" uses
# SCALAR_PK over the scalar frame
BUCKET = {
    'b': [2345, 2291, 42, 2345, 42],
    'bin': [2575, 1796, 42, 928, 42],
    'by': [842, 928, 42, 2911, 1831],
    'd': [1007, 1132, 42, 279, 3890],
    'd18': [979, 1349, 42, 580, 1831],
    'd20': [979, 3741, 42, 2370, 1831],
    'dec': [976, 928, 42, 1616, 1831],
    'dec38': [3386, 1831, 42, 1550, 1831],
    'dt': [2273, 0, 42, 2291, 42],
    'f': [1882, 2291, 42, 3852, 2296],
    'id': [842, 4085, 731, 3096, 979],
    'id+s+dec': [3200, 1492, 731, 2957, 2987],
    'l': [862, 2074, 42, 1729, 1831],
    's': [204, 1796, 42, 477, 3867],
    'scalar': [3932, 265, 3316],
    'sh': [3756, 3375, 42, 3007, 1831],
    'tn': [580, 580, 42, 1132, 42],
    'ts': [580, 580, 42, 1132, 42],
}
# CANONICAL["col|fr"] is the decimal sum over rows of
# xxhash64(id, xxhash64(v), to_json(struct(v AS v))), v =
# canonical_value(col, dtype, fr): any one moved value (or JSON field name)
# moves it; "scalar:col|fr" lists xxhash64(v) by id
CANONICAL = {
    'aad|3': 4954014567033276294,
    'aad|None': 4954014567033276294,
    'am|3': -1398404907926840395,
    'am|None': -1398404907926840395,
    'as|3': 15030292752260349321,
    'as|None': 28971206614104859034,
    'bin|3': 11734210210783099814,
    'bin|None': 11734210210783099814,
    'by|3': 1465827849436044818,
    'by|None': 1465827849436044818,
    'b|3': -576352358993375950,
    'b|None': -576352358993375950,
    'd18|3': 1613583177639360136,
    'd18|None': 1613583177639360136,
    'd20|3': 18484330749001082349,
    'd20|None': 18484330749001082349,
    'dec38|3': 570043647385321819,
    'dec38|None': 570043647385321819,
    'dec|3': 5582536131963416876,
    'dec|None': 5582536131963416876,
    'dt|3': 4072169839840107607,
    'dt|None': 4072169839840107607,
    'd|3': -6650829425400815373,
    'd|None': 6400786525903781202,
    'f|3': 7591766726257870677,
    'f|None': 2788572284846963849,
    'id|3': -11305444231694154168,
    'id|None': -11305444231694154168,
    'l|3': -6989155688492440382,
    'l|None': -6989155688492440382,
    'mia|3': 16901579801904634395,
    'mia|None': 16901579801904634395,
    'ms|3': 24788269059742777627,
    'ms|None': 24788269059742777627,
    'm|3': 7107787646701363469,
    'm|None': 7107787646701363469,
    'scalar:a.b|3': [-5252525462095825812, -2162451265447482029, 42],
    'scalar:a.b|None': [-5252525462095825812, 1670837915675640073, 42],
    'scalar:c`d|3': [5580451351978070747, 42, -1781220330244724889],
    'scalar:c`d|None': [5580451351978070747, 42, -1781220330244724889],
    'scalar:e`.f|3': [-5636050478767222463, 42, -7444071767201028348],
    'scalar:e`.f|None': [-5636050478767222463, 42, -7444071767201028348],
    'scalar:id|3': [
        6668291691252061002, 8706501748336259061, 5580451351978070747
    ],
    'scalar:id|None': [
        6668291691252061002, 8706501748336259061, 5580451351978070747
    ],
    'sh|3': 7605361027707603894,
    'sh|None': 7605361027707603894,
    'sm|3': -27232175692492308471,
    'sm|None': -27232175692492308471,
    's|3': 380248536047333726,
    's|None': 380248536047333726,
    'tn|3': 10838371714004213510,
    'tn|None': 10838371714004213510,
    'ts|3': 17511525687783778481,
    'ts|None': 17511525687783778481,
    'wc|3': -14764448983068086213,
    'wc|None': -17759643901916381593,
}
