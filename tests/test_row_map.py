"""frames.row_map: the one per-row Arrow map.

A kernel's output rows keep input order, a batch with no output rows
yields no frame (so empty output never reaches Arrow as a float64
column), and every per-row map in the package goes through the helper:
the only other ``mapInPandas`` calls are the batch- and partition-level
reducers listed in ``BATCH_LEVEL``."""

import ast
import collections
import os

from pyspark.sql import types as T

from pandasschema_spark.frames import row_map

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "pandasschema_spark")

#: module -> its mapInPandas calls; each works on whole batches or
#: partitions (Gram partials and their combine, bitmap OR, bottom-k
#: sketches, vectorized scoring of a batch against a matrix), not on one
#: row at a time
BATCH_LEVEL = {
    "operators/pca.py": 3,
    "operators/digest.py": 1,
    "operators/referential.py": 2,
    "operators/sketch.py": 2,
    "operators/similarity.py": 4,
}


def test_empty_output_yields_no_frame(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(50)], "k long, v double")
    for schema in (
            T.StructType([T.StructField("k", T.LongType(), False),
                          T.StructField("e", T.ArrayType(T.FloatType(), False), False)]),
            T.StructType([T.StructField("k", T.LongType(), False),
                          T.StructField("b", T.BinaryType(), False)])):
        out = row_map(df, ["k", "v"], schema, lambda k, v: ())
        assert out.schema == schema
        assert out.collect() == []


def test_fan_out_keeps_input_order(spark):
    df = spark.createDataFrame([(i,) for i in range(40)], "k long").coalesce(1)
    schema = T.StructType([T.StructField("k", T.LongType(), False),
                           T.StructField("j", T.IntegerType(), False),
                           T.StructField("b", T.BinaryType(), True)])

    def fan(k):
        for j in range(k % 3):
            yield (k, j, bytes([k, j]) if j else None)

    got = [tuple(r) for r in row_map(df, ["k"], schema, fan).collect()]
    want = [(k, j, bytes([k, j]) if j else None) for k in range(40) for j in range(k % 3)]
    assert got == want


def test_kernel_over_spark_range(spark):
    schema = T.StructType([T.StructField("i", T.LongType(), False),
                           T.StructField("s", T.StringType(), False),
                           T.StructField("e", T.ArrayType(T.FloatType(), False), True)])
    out = row_map(spark.range(0, 100, 1, 3), ["id"], schema,
                  lambda i: [(int(i), "r{}".format(i), [float(i)] * 2)] if i % 4 else [])
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(i, "r{}".format(i), [float(i)] * 2) for i in range(100) if i % 4]


def test_per_row_maps_go_through_row_map():
    """Source lint: outside frames.py the package calls mapInPandas only
    in the batch- and partition-level reducers of BATCH_LEVEL; a per-row
    kernel calls row_map instead of writing its own batch loop."""
    found = collections.Counter()
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if not f.endswith(".py") or rel == "frames.py":
                continue
            with open(path) as fh:
                for node in ast.walk(ast.parse(fh.read())):
                    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "mapInPandas"):
                        found[rel] += 1
    assert dict(found) == BATCH_LEVEL
