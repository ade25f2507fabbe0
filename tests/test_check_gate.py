"""The local gate's type canon must stay faithful to the driver's
hasher: DuckDB HUGEINT (sum() outputs, arrow decimal128) vs Spark
BIGINT FAILS; integer WIDTH differences pass (driver-attested green in
r2/r4). This is what let three r4 oracles pass locally and fail the
driver — the gate may never mask it again."""

import os
import sys

import duckdb
from pyspark.sql import types as T

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_queries import (  # noqa: E402
    canon_arrow_type, canon_spark_type, session_size, type_mismatches)


def _arrow(sql):
    return duckdb.connect().execute(sql).arrow().schema


def test_uncast_sum_is_flagged_count_is_not():
    schema = T.StructType([
        T.StructField("s", T.LongType()),
        T.StructField("c", T.LongType()),
    ])
    arrow = _arrow("SELECT sum(x) AS s, count(*) AS c "
                   "FROM (VALUES (1), (2)) t(x)")
    mm = type_mismatches(schema, arrow)
    assert [m[0] for m in mm] == ["s"]
    assert mm[0][1] == "int" and mm[0][2].startswith("decimal")


def test_bigint_cast_fixes_it():
    schema = T.StructType([T.StructField("s", T.LongType())])
    arrow = _arrow("SELECT CAST(sum(x) AS BIGINT) AS s "
                   "FROM (VALUES (1), (2)) t(x)")
    assert type_mismatches(schema, arrow) == []


def test_integer_widths_collapse():
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.IntegerType()),
    ])
    arrow = _arrow("SELECT CAST(1 AS INT) AS a, CAST(2 AS BIGINT) AS b")
    assert type_mismatches(schema, arrow) == []


def test_string_vs_int_flagged():
    schema = T.StructType([T.StructField("v", T.StringType())])
    arrow = _arrow("SELECT 1 AS v")
    assert len(type_mismatches(schema, arrow)) == 1


def test_canon_names_cover_common_types():
    assert canon_spark_type(T.DoubleType()) == "float64"
    assert canon_spark_type(T.ArrayType(T.FloatType())) == "array<float32>"
    assert canon_spark_type(T.DecimalType(38, 0)) == "decimal(38,0)"
    arrow = _arrow("SELECT 1.5::DOUBLE AS d, 'x' AS s, DATE '2020-01-01' AS dt")
    names = {f.name: canon_arrow_type(f.type) for f in arrow}
    assert names == {"d": "float64", "s": "string", "dt": "date"}


def test_session_is_sized_from_the_host():
    """The gate's session takes one slot per core up to its 32 shuffle
    partitions and a quarter of RAM for the heap, capped at 8g: a
    32-core host with room keeps local[32]/8g, a 4-core 16 GB host
    gets local[4] and a 4 GB heap."""
    gb = 1 << 30
    assert session_size(32, 64 * gb) == ("local[32]", "8g")
    assert session_size(32, 32 * gb) == ("local[32]", "8g")
    assert session_size(64, 256 * gb) == ("local[32]", "8g")
    assert session_size(4, 16 * gb) == ("local[4]", "4096m")
    assert session_size(4, 16479424 * 1024) == ("local[4]", "4023m")
    assert session_size(None, 8 * gb) == ("local[1]", "2048m")
