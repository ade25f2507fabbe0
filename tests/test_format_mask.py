"""format_mask_profile: character-class shape histograms per column."""

import pytest

from pandasschema_spark.operators.profile import format_mask_profile


def _by_mask(df, col):
    return {r["mask"]: r for r in df.collect() if r["column"] == col}


def test_exact_masks_resolve_widths(spark):
    df = spark.createDataFrame(
        [("1-URGENT",), ("4-NOT SPECIFIED",), ("12-LOW",)], "p string")
    out = _by_mask(format_mask_profile(df, ["p"], collapse_runs=False), "p")
    assert set(out) == {"9-AAAAAA", "9-AAA AAAAAAAAA", "99-AAA"}
    assert all(r["n_rows"] == 1 for r in out.values())
    assert all(r["share_ppm"] == 1_000_000 // 3 for r in out.values())


def test_collapsed_masks_merge_widths(spark):
    df = spark.createDataFrame(
        [("1-URGENT",), ("4-NOT SPECIFIED",), ("12-LOW",)], "p string")
    out = _by_mask(format_mask_profile(df, ["p"]), "p")
    # runs collapse: widths vanish, the space separator survives
    assert set(out) == {"9-A", "9-A A"}
    assert out["9-A"]["n_rows"] == 2
    assert out["9-A"]["share_ppm"] == 2 * 1_000_000 // 3


def test_collapse_runs_regroups_the_exact_histogram(spark):
    """collapse_runs=True equals re-aggregating the exact masks under the
    run collapse: per-column counts merge, shares keep the column total
    (nulls included) as their denominator."""
    import re

    df = spark.createDataFrame(
        [("AB-12", "x"), ("A-1", "xy"), ("abc-999", None), (None, "42"),
         ("7", "x y"), ("77", "Z")], "a string, b string")
    exact = format_mask_profile(df, ["a", "b"], collapse_runs=False).collect()
    want = {}
    for r in exact:
        m = r["mask"] and re.sub("A+", "A", re.sub("9+", "9", r["mask"]))
        want[(r["column"], m)] = want.get((r["column"], m), 0) + r["n_rows"]
    got = format_mask_profile(df, ["a", "b"], collapse_runs=True).collect()
    assert {(r["column"], r["mask"]): r["n_rows"] for r in got} == want
    assert {(r["column"], r["mask"]): r["share_ppm"] for r in got} == {
        k: n * 1_000_000 // 6 for k, n in want.items()}
    assert want[("a", "A-9")] == 3 and want[("b", "A")] == 3


def test_null_is_its_own_mask_row_and_counts_in_total(spark):
    df = spark.createDataFrame([("a1",), (None,), (None,), ("b2",)],
                               "c string")
    out = _by_mask(format_mask_profile(df, ["c"]), "c")
    assert out[None]["n_rows"] == 2
    # shares divide by ALL rows of the column, nulls included
    assert out[None]["share_ppm"] == 500_000
    assert out["A9"]["n_rows"] == 2


def test_non_ascii_survives_verbatim(spark):
    # the documented ASCII-only letter class: é is not [A-Za-z], so it
    # rides into the mask — mojibake becomes its own visible shape
    df = spark.createDataFrame([("café 42",)], "c string")
    out = _by_mask(format_mask_profile(df, ["c"]), "c")
    assert set(out) == {"Aé 9"}


def test_multi_column_shares_partition_per_column(spark):
    df = spark.createDataFrame([("x1", "A"), ("y2", "BB")],
                               "a string, b string")
    res = format_mask_profile(df, ["a", "b"], collapse_runs=False).collect()
    a = {r["mask"]: r["share_ppm"] for r in res if r["column"] == "a"}
    b = {r["mask"]: r["share_ppm"] for r in res if r["column"] == "b"}
    assert a == {"A9": 1_000_000}
    assert b == {"A": 500_000, "AA": 500_000}


def test_guards(spark):
    df = spark.createDataFrame([("x", 1)], "a string, b long")
    with pytest.raises(ValueError):
        format_mask_profile(df, [])
    with pytest.raises(TypeError):
        format_mask_profile(df, ["b"])  # strings only, cast explicitly
    with pytest.raises(ValueError):
        format_mask_profile(df, ["a"], denom=0)


def test_plan_is_codegen_clean_window_over_agg_only(spark):
    df = spark.createDataFrame([("x1",)] * 4, "a string")
    plan = format_mask_profile(df, ["a"])._jdf.queryExecution() \
        .executedPlan().toString()
    # masks are scan-side codegen regexps; the only Window runs over the
    # AGGREGATE (col, mask) frame — after the partial/final count pair
    assert "CodegenFallback" not in plan, plan
    assert "partial_count" in plan, plan
    assert plan.index("Window") < plan.index("partial_count"), plan
