"""gram_overlap_score: per-doc common-material (memorization-risk) share."""

import pytest

from pandasschema_spark.operators.dedup import gram_overlap_score

pytestmark = pytest.mark.usefixtures("scoped")


def test_overlap_counts_exact(spark):
    shared = "alpha beta gamma delta"        # 2 trigrams, in 3 docs
    rows = [(1, shared), (2, shared),
            (3, shared + " unique3 tail3"),  # 2 shared + 2 own trigrams
            (4, "wholly original text here")]
    df = spark.createDataFrame(rows, "id long, text string")
    res = gram_overlap_score(df, "text", "id", n=3, min_gram_df=3)
    out = {r["id"]: r for r in res.collect()}
    # docs 1..3 share 'alpha beta gamma' and 'beta gamma delta' (df=3)
    assert (out[1]["n_grams"], out[1]["n_common"]) == (2, 2)
    assert out[1]["overlap_ppm"] == 1_000_000
    assert (out[3]["n_grams"], out[3]["n_common"]) == (4, 2)
    assert out[3]["overlap_ppm"] == 500_000
    assert (out[4]["n_common"], out[4]["overlap_ppm"]) == (0, 0)


def test_within_doc_repeat_counts_one_doc(spark):
    # the same trigram twice in ONE doc: distinct per doc, df = 2 not 3
    df = spark.createDataFrame(
        [(1, "x y z x y z"), (2, "x y z")], "id long, text string")
    res = gram_overlap_score(df, "text", "id", min_gram_df=2)
    out = {r["id"]: r["n_common"] for r in res.collect()}
    # doc 1 trigrams: {xyz, yzx, zxy} distinct; only xyz reaches df 2
    assert out == {1: 1, 2: 1}


def test_guard_and_plan_no_selfjoin(spark):
    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    with pytest.raises(ValueError):
        gram_overlap_score(df, "text", "id", min_gram_df=1)
    res = gram_overlap_score(df, "text", "id")
    plan = res._jdf.queryExecution().executedPlan().toString()
    # O(docs) output: no pair explosion, no window; the gram frame is
    # read from cache by both consumers
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
