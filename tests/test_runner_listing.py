"""The runner's lineage reads: the bucket listing comes from the input's
partition directories without a Spark job, and after a crash and a
resume the manifest carries exactly the per-bucket rows seen and the
per-(bucket, check) fail counts of the input and the committed
violations."""

import collections
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.clips_suite import PUBLIC_COLUMNS, clips_schema
from pandasschema_spark.runner import ValidationRunner
from pandasschema_spark.sources import datagen as G
from pandasschema_spark.sources.warehouse import Warehouse

N = 2000
BUCKETS = 8
SEED = 7


@pytest.fixture(scope="module")
def wh(spark):
    root = tempfile.mkdtemp(prefix="pss_listing_")
    w = Warehouse(root)
    G.write_clips(spark, w.path("clips"), N, SEED, with_audio=False,
                  partitions=4, bucket_count=BUCKETS)
    yield w
    shutil.rmtree(root, ignore_errors=True)


def test_all_buckets_lists_directories_without_a_job(spark, wh, jobs_of):
    runner = ValidationRunner(wh, "listing")
    got = []
    assert jobs_of(lambda: got.extend(runner.all_buckets(spark))) == 0
    want = sorted(r["bucket"] for r in
                  wh.read(spark, "clips").select("bucket").distinct().collect())
    assert got == want == list(range(BUCKETS))


def test_unpartitioned_input_is_refused(spark, wh):
    # with no bucket directories the listing would be empty and the run
    # would validate nothing
    spark.range(10).withColumnRenamed("id", "row_ord").write.mode("overwrite") \
        .parquet(wh.path("flat"))
    runner = ValidationRunner(wh, "flat", input_table="flat")
    with pytest.raises(ValueError, match="not partitioned by bucket"):
        runner.run(spark, clips_schema(seed=SEED, with_pcm_checks=False),
                   validate_columns=PUBLIC_COLUMNS)


def test_partition_values_reads_only_data_directories(tmp_path):
    def touch(*parts):
        path = tmp_path.joinpath("t", *parts)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"")

    touch("bucket=3", "part-0.parquet")
    touch("bucket=04", "part-0.parquet")           # Spark reads 04 as 4
    touch("bucket=5", "_SUCCESS")                  # no data file
    touch("bucket=6", ".part-0.parquet")           # hidden
    touch("_temporary", "bucket=7", "part-0.parquet")
    touch("run_id=a", "bucket=-1", "part-0.parquet")
    os.makedirs(tmp_path / "t" / "bucket=8")       # empty
    w = Warehouse(str(tmp_path))
    assert w.partition_values("t", "bucket") == [-1, 3, 4]
    assert w.partition_values("t", "day") == []
    touch("bucket=x", "part-0.parquet")
    with pytest.raises(ValueError, match="not an integer"):
        w.partition_values("t", "bucket")


def test_resumed_manifest_matches_input_and_violations(spark, wh):
    schema = clips_schema(G.codec_dim(spark), seed=SEED, with_pcm_checks=False)
    runner = ValidationRunner(wh, "manifest_check", batch_buckets=3)
    with pytest.raises(RuntimeError, match="injected failure"):
        runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=1)
    summary = runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS)
    assert summary["buckets_skipped_resume"] == 3
    assert summary["buckets_validated"] == BUCKETS - 3

    rows_seen = {r["bucket"]: r["n"] for r in wh.read(spark, "clips")
                 .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    v = runner.violations(spark)
    local = collections.defaultdict(dict)
    for r in (v.where(F.col("phase") == "local")
              .groupBy("bucket", "check_id").count().collect()):
        local[r["bucket"]][r["check_id"]] = r["count"]
    want = [("manifest_check", b, rows_seen[b], check, fails, "ok")
            for b in range(BUCKETS)
            for check, fails in (sorted(local[b].items()) or [("__all__", 0)])]
    want.append(("manifest_check", ValidationRunner.GLOBAL_BUCKET, 0, "__global__",
                 v.where(F.col("phase") == "global").count(), "ok"))

    got = [tuple(r) for r in runner.manifest(spark).drop("finished_at")
           .select("run_id", "bucket", "rows_seen", "check_id", "fail_count", "status")
           .collect()]
    assert sorted(got) == sorted(want)
    assert sum(local[b].get(c, 0) for b in local for c in local[b]) > 0
