"""corr2_by exact rational correlation + cross_table_violations
cross-table row predicates."""

import numpy as np
from pyspark.sql import functions as F

from pandasschema_spark.operators.colstats import corr2_by
from pandasschema_spark.operators.referential import cross_table_violations


def test_corr2_by_perfect_and_constant(spark):
    rows = [("lin", i, 2 * i + 7) for i in range(20)]          # r = +1
    rows += [("neg", i, -3 * i) for i in range(20)]            # r = -1
    rows += [("flat", i, 5) for i in range(20)]                # den = 0
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in corr2_by(df, "x", "y", ["g"]).collect()}
    assert (out["lin"]["corr2_ppm"], out["lin"]["sign"]) == (1_000_000, 1)
    assert (out["neg"]["corr2_ppm"], out["neg"]["sign"]) == (1_000_000, -1)
    assert (out["flat"]["corr2_ppm"], out["flat"]["sign"]) == (0, 0)
    assert all(r["n"] == 20 for r in out.values())


def test_corr2_by_matches_numpy(spark):
    rng = np.random.default_rng(11)
    x = rng.integers(0, 100, 500)
    y = x * 3 + rng.integers(0, 80, 500)
    df = spark.createDataFrame(
        [("g", int(a), int(b)) for a, b in zip(x, y)],
        "g string, x long, y long")
    got = corr2_by(df, "x", "y", ["g"]).collect()[0]
    r = np.corrcoef(x, y)[0, 1]
    # integer-rational r^2 vs float r^2: equal to within 1 ppm of floor
    assert abs(got["corr2_ppm"] - int(r * r * 1_000_000)) <= 1
    assert got["sign"] == 1


def test_corr2_by_excludes_nulls(spark):
    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 2), ("g", None, 9), ("g", 9, None)],
        "g string, x long, y long")
    got = corr2_by(df, "x", "y", ["g"]).collect()[0]
    assert got["n"] == 2 and got["corr2_ppm"] == 1_000_000


def test_cross_table_violations_flags_and_inner_join(spark):
    fact = spark.createDataFrame(
        [(1, 10, 5), (2, 10, 50), (3, 20, 5), (4, 99, 5), (5, 30, None)],
        "rid long, k long, v long")
    dim = spark.createDataFrame(
        [(10, 20), (20, 1), (30, 100)], "k long, lim long")
    out = cross_table_violations(
        fact, dim, "k", F.col("v") < F.col("lim"),
        row_col="rid", value_col="v", message="below limit").collect()
    rows = {r["row"] for r in out}
    # rid 1 (5<20) flagged; rid 2 (50<20 false) not; rid 3 (5<1 false)
    # not; rid 4 has NO dim row -> inner join drops (referential's job);
    # rid 5 NULL value -> NULL predicate -> no violation
    assert rows == {1}
    r = out[0]
    assert (r["column"], r["value"], r["message"]) == \
        ("v", "5", "below limit")


def test_cross_table_violations_prunes_dim(spark):
    fact = spark.createDataFrame([(1, 10, 3)], "rid long, k long, v long")
    dim = spark.createDataFrame([(10, 4, "payload")],
                                "k long, lim long, wide string")
    df = cross_table_violations(
        fact, dim, "k", F.col("v") < F.col("lim"),
        row_col="rid", value_col="v", message="m")
    assert df.count() == 1
    # the unreferenced wide column is projected away BEFORE the join's
    # exchange — it may still appear in the raw local-relation Scan line
    # (ExistingRDD cannot column-prune; a parquet scan would), but no
    # Exchange/Join/Project line may carry it
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "wide#" in line:
            assert "Scan ExistingRDD" in line, line


def test_collocations_counts_and_lift_gate(spark):
    from pandasschema_spark.operators.text import collocations
    # "new york" is a true collocation; "the cat"/"the dog" are frequent
    # but independent around 'the'
    docs = ["new york new york", "I love new york", "the cat the dog",
            "the cat the dog", "the cat the dog", None, ""]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    out = {(r["w1"], r["w2"]): r for r in
           collocations(df, "text", min_count=2, min_lift=2).collect()}
    ny = out[("new", "york")]
    # occurrences, not distinct-per-doc: 3 bigram hits, 3 of each word
    assert (ny["c_xy"], ny["c_x"], ny["c_y"]) == (3, 3, 3)
    assert ny["n_tokens"] == 20
    # lift = 3*20/(3*3) ~ 6.7 >= 2 passes; ('york','new') occurs once ->
    # min_count prunes
    assert ("york", "new") not in out
    # ('the','cat'): lift 3*20/(6*3) = 3.3 -> present
    tc = out[("the", "cat")]
    assert (tc["c_xy"], tc["c_x"], tc["c_y"]) == (3, 6, 3)


def test_collocations_guards(spark):
    from pandasschema_spark.operators.text import collocations
    df = spark.createDataFrame([("a b",)], "text string")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        collocations(df, "text", min_count=0)
