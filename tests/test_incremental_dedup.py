"""incremental_lsh_pairs: dedup new batch vs signature store."""

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators import dedup as D

pytestmark = pytest.mark.usefixtures("scoped")


@pytest.fixture(scope="module")
def corpus(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "an entirely different document about spark physical planning rules"),
        (3, "structured streaming keeps bounded state with watermarks and windows"),
    ]
    return spark.createDataFrame(texts, "doc_id long, text string")


def test_matches_batch_cross_pairs(spark, corpus):
    # new batch = near-dup mutations of the store docs
    new = corpus.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy")).alias("text"))
    store_sigs = D.minhash_signatures(corpus, "text", "doc_id")
    inc = D.incremental_lsh_pairs(new, store_sigs, "text", "doc_id")
    got = sorted((r["id_new"], r["id_store"]) for r in inc.collect())
    # reference: batch LSH over store+new restricted to cross pairs
    both = corpus.unionByName(new)
    batch = D.lsh_candidate_pairs(both, "text", "doc_id")
    want = sorted(
        (r["id_b"], r["id_a"]) for r in batch.collect()
        if r["id_a"] <= 3 and r["id_b"] >= 101)
    assert got == want
    assert len(got) >= 3  # every mutation finds its source


def test_store_never_rehashed(spark, corpus):
    # the store arrives as a warehouse-loaded (id, sig) frame with NO
    # lineage to any text column; only the new batch runs the signature
    # UDF — the executed plan carries exactly one ArrowEvalPython node
    store_sigs = spark.createDataFrame(
        D.minhash_signatures(corpus, "text", "doc_id").collect(),
        "id long, sig array<long>")
    new = corpus.select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy")).alias("text"))
    inc = D.incremental_lsh_pairs(new, store_sigs, "text", "doc_id")
    assert inc.count() >= 3
    plan = inc._jdf.queryExecution().executedPlan().toString()
    # store side is a bare (id, sig) scan — no text column, no UDF over
    # it anywhere in the plan (the only Python eval is the new batch's
    # persisted signature projection, visible as InMemoryTableScan after
    # the count action above)
    assert "Scan ExistingRDD[id" in plan
    assert "InMemoryTableScan" in plan


def test_unrelated_new_doc_matches_nothing(spark, corpus):
    new = spark.createDataFrame(
        [(200, "completely unrelated content with zero shared shingles here")],
        "doc_id long, text string")
    store_sigs = D.minhash_signatures(corpus, "text", "doc_id")
    inc = D.incremental_lsh_pairs(new, store_sigs, "text", "doc_id")
    assert inc.count() == 0


def test_hot_bucket_cap_drops_both_sides(spark):
    boiler = "identical boilerplate text repeated across every single doc"
    store = spark.createDataFrame(
        [(i, boiler) for i in range(1, 6)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(100 + i, boiler) for i in range(3)], "doc_id long, text string")
    sigs = D.minhash_signatures(store, "text", "doc_id")
    capped = D.incremental_lsh_pairs(new, sigs, "text", "doc_id", max_bucket=4)
    assert capped.count() == 0  # bucket of 8 > 4 dropped wholesale
    exact = D.incremental_lsh_pairs(new, sigs, "text", "doc_id", max_bucket=None)
    assert exact.count() == 15  # 3 x 5 cross pairs
