"""Numpy stats parity vs published critical values (scipy absent)."""

import numpy as np
import pytest

from pandasschema_spark.functions import stats as S


def test_chi2_sf_critical_values():
    # textbook critical values: P(X >= x) for chi-square
    assert S.chi2_sf(3.841, 1) == pytest.approx(0.05, abs=2e-4)
    assert S.chi2_sf(5.991, 2) == pytest.approx(0.05, abs=2e-4)
    assert S.chi2_sf(7.815, 3) == pytest.approx(0.05, abs=2e-4)
    assert S.chi2_sf(6.635, 1) == pytest.approx(0.01, abs=2e-4)
    assert S.chi2_sf(0.0, 5) == 1.0
    assert S.chi2_sf(1000.0, 2) < 1e-100


def test_chi2_stat():
    obs = np.array([10, 20, 30])
    exp = np.array([20, 20, 20])
    assert S.chi2_stat(obs, exp) == pytest.approx(10.0)
    assert S.chi2_stat(np.array([25, 25]), np.array([25, 25])) == 0.0


def test_kolmogorov_sf():
    # Kolmogorov distribution: Q(1.358) ~ 0.05, Q(1.628) ~ 0.01
    assert S.kolmogorov_sf(1.358) == pytest.approx(0.05, abs=2e-3)
    assert S.kolmogorov_sf(1.628) == pytest.approx(0.01, abs=1e-3)
    assert S.kolmogorov_sf(0.0) == 1.0
    assert S.kolmogorov_sf(10.0) < 1e-20


def test_ks_binned():
    probs = np.full(10, 0.1)
    counts = np.full(10, 1000)
    d, p = S.ks_test_from_binned(counts, probs)
    assert d == pytest.approx(0.0)
    assert p == 1.0
    skewed = np.array([5000] + [555] * 9)
    d2, p2 = S.ks_test_from_binned(skewed, probs)
    assert d2 > 0.3 and p2 < 1e-10


def test_chi_square_two_sample(spark):
    from pandasschema_spark.operators.drift import chi_square_two_sample

    # same distribution -> no drift
    ref = spark.createDataFrame([(i % 4,) for i in range(400)], "v int")
    cand = spark.createDataFrame([(i % 4,) for i in range(400)], "v int")
    r = chi_square_two_sample(ref, cand, "v")
    assert r.statistic == pytest.approx(0.0)
    assert not r.drifted

    # candidate collapses to one category -> strong drift
    skew = spark.createDataFrame([(0,) for _ in range(400)], "v int")
    r2 = chi_square_two_sample(ref, skew, "v")
    assert r2.drifted and r2.p_value < 1e-6
    assert r2.kind == "chi_square_2sample"
    assert r2.n == 800


def test_two_sample_counts_single_shuffle(spark):
    import re as _re

    from pandasschema_spark.operators.drift import two_sample_categorical_counts

    ref = spark.createDataFrame([(i % 3,) for i in range(30)], "v int")
    cand = spark.createDataFrame([(i % 3,) for i in range(30)], "v int")
    out = two_sample_categorical_counts(ref, cand, "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_population_stability_index(spark):
    from pandasschema_spark.operators.drift import population_stability_index

    ref = spark.createDataFrame([(i % 4,) for i in range(400)], "v int")
    same = spark.createDataFrame([(i % 4,) for i in range(400)], "v int")
    r = population_stability_index(ref, same, "v")
    assert r.statistic == pytest.approx(0.0)
    assert not r.drifted and r.kind == "psi"

    # known-value check: shares (0.5, 0.5) -> (0.8, 0.2)
    ref2 = spark.createDataFrame([(i % 2,) for i in range(100)], "v int")
    cand2 = spark.createDataFrame([(0,)] * 80 + [(1,)] * 20, "v int")
    r2 = population_stability_index(ref2, cand2, "v")
    import math

    expected = (0.5 - 0.8) * math.log(0.5 / 0.8) + (0.5 - 0.2) * math.log(0.5 / 0.2)
    assert r2.statistic == pytest.approx(expected, rel=1e-9)
    assert r2.drifted  # 0.416 > 0.2

    # one-sided empty category goes through the epsilon floor, not a crash
    skew = spark.createDataFrame([(9,)] * 50, "v int")
    assert population_stability_index(ref2, skew, "v").drifted


def test_coercion_profile_counts(spark):
    from pandasschema_spark.operators.profile import coercion_profile

    df = spark.createDataFrame(
        [
            ("1", '{"a": 2}', "x"),
            ("2.5", None, ""),
            ("-3", "[1, 2]", "2024-01-02"),
            ("+4e2", "{}", "not-a-date"),
            (None, "{broken", "2024-13-99"),
        ],
        "a: string, b: string, c: string",
    )
    got = {r["column"]: r.asDict() for r in coercion_profile(df, ["a", "b", "c"]).collect()}
    assert got["a"] == {"column": "a", "n_rows": 5, "n_nulls": 1, "n_empty": 0,
                        "n_int_like": 2, "n_decimal_like": 4, "n_date_like": 0,
                        "n_json_like": 0}
    assert got["b"]["n_json_like"] == 3  # {"a": 2}, [1, 2], {} — not {broken
    assert got["b"]["n_nulls"] == 1
    # date_like is a SHAPE check by design (2024-13-99 matches)
    assert got["c"]["n_date_like"] == 2
    assert got["c"]["n_empty"] == 1


def test_coercion_profile_non_string_columns(spark):
    from pandasschema_spark.operators.profile import coercion_profile

    df = spark.createDataFrame([(1, 2.5), (22, None)], "i: bigint, d: double")
    got = {r["column"]: r.asDict() for r in coercion_profile(df, ["i", "d"]).collect()}
    assert got["i"]["n_int_like"] == 2 and got["i"]["n_decimal_like"] == 2
    assert got["d"]["n_int_like"] == 0 and got["d"]["n_decimal_like"] == 1
