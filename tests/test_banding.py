"""operators.banding: the hot-key cap, signature chunking and the bucket
self-join that every banded near-duplicate operator shares, plus a
source lint that keeps those rules in that one module."""

import ast
import collections
import pathlib

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators.banding import (
    bit_chunks, bucket_pairs, drop_hot_keys, hot_keys)

OPS = pathlib.Path(__file__).resolve().parents[1] / "pandasschema_spark" / "operators"


def _keys(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_cap_keeps_exactly_cap_rows_and_drops_one_more(spark):
    rows = [("a", i) for i in range(3)] + [("b", i) for i in range(4)] + \
        [("c", 0)] + [(None, i) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, i long")
    [kept] = drop_hot_keys([df], "k", 3)
    # the NULL group is counted hot, but a NULL key never matches the
    # equi anti join, so its rows stay (sessions joins NULL-safe instead)
    assert {r["k"] for r in hot_keys([df], ["k"], 3).collect()} == {"b", None}
    assert collections.Counter(r["k"] for r in kept.collect()) == {"a": 3, "c": 1, None: 4}


def test_no_cap_returns_the_frames_themselves(spark):
    a, b = spark.range(3), spark.range(5)
    out = drop_hot_keys([a, b], "id", None)
    assert out[0] is a and out[1] is b


def test_cap_counts_over_the_union_of_both_sides(spark):
    new = spark.createDataFrame([("x", 1), ("x", 2), ("y", 3)], "k string, id long")
    store = spark.createDataFrame([("x", 4), ("x", 5), ("y", 6)], "k string, id long")
    # x has 2 rows on each side, under the cap of 3, but 4 on the union
    nk, sk = drop_hot_keys([new, store], ["k"], 3)
    assert _keys(nk, "k", "id") == [("y", 3)]
    assert _keys(sk, "k", "id") == [("y", 6)]


def test_cap_on_multi_column_keys(spark):
    rows = [(1, 1, i) for i in range(3)] + [(1, 2, i) for i in range(2)] + [(2, 1, 0)]
    df = spark.createDataFrame(rows, "k1 int, k2 int, id long")
    # k1 = 1 alone holds 5 rows; only the (1, 1) bucket is over the cap
    [kept] = drop_hot_keys([df], ["k1", "k2"], 2)
    assert _keys(kept, "k1", "k2") == [(1, 2), (1, 2), (2, 1)]


def test_cap_plans_a_broadcast_anti_join_and_no_window(spark):
    df = spark.createDataFrame([(i % 3, i) for i in range(9)], "k long, id long")
    [kept] = drop_hot_keys([df], "k", 2)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "Window" not in plan, plan


SIGS = [0, 1, -1, -2, (1 << 63) - 1, -(1 << 63), 0x0123456789ABCDEF,
        -0x0123456789ABCDEF, 0x00FF00FF00FF00, -123456789012345]


@pytest.mark.parametrize("width,chunk_bits", [(56, 14), (64, 16), (48, 16)])
def test_bit_chunks_match_the_old_expressions(spark, width, chunk_bits):
    """The three chunkings the operators used (aHash 56/14, SimHash
    64/16, cosine LSH 48/16), negative int64 signatures included."""
    df = spark.createDataFrame([(s,) for s in SIGS], "s long")
    mask = (1 << chunk_bits) - 1
    old = F.array(*[(F.shiftright(F.col("s"), i * chunk_bits).bitwiseAND(F.lit(mask)))
                    for i in range(width // chunk_bits)])
    got = df.select("s", bit_chunks(F.col("s"), width, chunk_bits).alias("new"),
                    old.alias("old")).collect()
    for r in got:
        want = [(r["s"] >> (i * chunk_bits)) & mask for i in range(width // chunk_bits)]
        assert r["new"] == r["old"] == want, r


@pytest.mark.parametrize("width,chunk_bits", [(56, 16), (64, 0), (48, -16), (48, 7)])
def test_bit_chunks_refuse_a_non_divisor(width, chunk_bits):
    with pytest.raises(ValueError, match="chunk_bits must divide"):
        bit_chunks(F.col("s"), width, chunk_bits)


def test_bucket_pairs_are_distinct_and_ordered(spark):
    rows = [(1, 0, 0), (2, 0, 0), (3, 0, 0),   # one bucket of three
            (2, 0, 1), (3, 0, 1),              # 2 and 3 share a second bucket
            (4, 1, 0), (6, 1, 0),              # a bucket of two
            (5, 0, 2), (7, 1, 2)]              # same k2, different k1: no pair
    df = spark.createDataFrame(rows, "id long, k1 int, k2 int")
    got = bucket_pairs(df, ["k1", "k2"], "id")
    assert got.columns == ["id_a", "id_b"]
    assert _keys(got, "id_a", "id_b") == [(1, 2), (1, 3), (2, 3), (4, 6)]


def _call_named(node, name):
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or \
        (isinstance(f, ast.Name) and f.id == name)


def test_bucket_rules_live_only_in_banding():
    """Source lint: no operator module but banding.py writes the hot-key
    cap's broadcast LEFT ANTI join or the shiftright(...).bitwiseAND(...)
    signature chunking; they call banding instead. Sessions' NULL-safe
    anti join (an eqNullSafe condition: its NULL user is real traffic)
    is the one broadcast anti join allowed elsewhere."""
    found = []
    for p in sorted(OPS.glob("*.py")):
        if p.name == "banding.py":
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            if node.func.attr == "bitwiseAND" and _call_named(node.func.value, "shiftright"):
                found.append((p.name, node.lineno, "bit chunking"))
            args = list(node.args) + [k.value for k in node.keywords]
            anti = any(isinstance(a, ast.Constant) and a.value in ("left_anti", "leftanti", "anti")
                       for a in args)
            if (node.func.attr == "join" and anti and node.args
                    and _call_named(node.args[0], "broadcast")
                    and not (len(node.args) > 1 and _call_named(node.args[1], "eqNullSafe"))):
                found.append((p.name, node.lineno, "hot-key anti join"))
    assert found == [], found
