"""The runner's lineage reads: the bucket listing and its row counts come
from the input's file metadata without a Spark job, a batch reads its
input once and never joins violations back to it, and after a crash and
a resume the manifest carries exactly the per-bucket rows seen and the
per-(bucket, check) fail counts of the input and the committed
violations."""

import collections
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pandasschema_spark.clips_suite import PUBLIC_COLUMNS, clips_schema
from pandasschema_spark.column import Column
from pandasschema_spark.plans.compiler import build_global_violations
from pandasschema_spark.runner import ValidationRunner
from pandasschema_spark.schema import Schema
from pandasschema_spark.sources import datagen as G
from pandasschema_spark.sources.warehouse import Warehouse
from pandasschema_spark.validation import MatchesPatternValidation

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
    got = {}
    assert jobs_of(lambda: got.update(runner.all_buckets(spark))) == 0
    want = sorted(r["bucket"] for r in
                  wh.read(spark, "clips").select("bucket").distinct().collect())
    assert list(got) == want == list(range(BUCKETS))


def test_unpartitioned_input_is_refused(spark, wh):
    # with no bucket directories the listing would be empty and the run
    # would validate nothing
    spark.range(10).withColumnRenamed("id", "row_ord").write.mode("overwrite") \
        .parquet(wh.path("flat"))
    runner = ValidationRunner(wh, "flat", input_table="flat")
    with pytest.raises(ValueError, match="not partitioned by bucket"):
        runner.run(spark, clips_schema(seed=SEED, with_pcm_checks=False),
                   validate_columns=PUBLIC_COLUMNS)


def test_partition_rows_reads_only_data_directories(tmp_path):
    def put(*parts):
        path = tmp_path.joinpath("t", *parts)
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"x": [1]}), str(path))

    def touch(*parts):
        path = tmp_path.joinpath("t", *parts)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"")

    put("bucket=3", "part-0.parquet")
    put("bucket=04", "part-0.parquet")             # Spark reads 04 as 4
    touch("bucket=5", "_SUCCESS")                  # no data file
    touch("bucket=6", ".part-0.parquet")           # hidden
    put("_temporary", "bucket=7", "part-0.parquet")
    put("run_id=a", "bucket=-1", "part-0.parquet")
    os.makedirs(tmp_path / "t" / "bucket=8")       # empty
    w = Warehouse(str(tmp_path))
    assert w.partition_rows("t", "bucket") == {-1: 1, 3: 1, 4: 1}
    assert w.partition_rows("t", "day") == {}
    put("bucket=x", "part-0.parquet")
    with pytest.raises(ValueError, match="not an integer"):
        w.partition_rows("t", "bucket")


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_partition_rows_match_spark_counts(spark, tmp_path, jobs_of, fmt):
    w = Warehouse(str(tmp_path), fmt=fmt)
    (spark.range(1000).withColumn("bucket", (F.col("id") % 7).cast("int"))
     .where(F.col("bucket") != 3).repartition(3)
     .write.partitionBy("bucket").format(fmt).save(w.path("t")))
    names = [f for _, _, files in os.walk(w.path("t")) for f in files]
    assert "_SUCCESS" in names and any(f.endswith(".crc") for f in names)
    got = {}
    assert jobs_of(lambda: got.update(w.partition_rows("t", "bucket"))) == 0
    want = {r["bucket"]: r["count"] for r in
            w.read(spark, "t").groupBy("bucket").count().collect()}
    assert got == want and list(got) == sorted(want)


def _optimized(df):
    """``df``'s optimized logical plan, ignoring the cache: the runner
    persists the frame it writes, and a cached frame's own optimized
    plan is one InMemoryRelation."""
    qe = df._jdf.queryExecution()
    return df.sparkSession._jsparkSession.sessionState().optimizer().execute(qe.analyzed())


def test_batches_read_once_without_a_lineage_join(spark, wh, monkeypatch):
    written = []
    real = Warehouse.overwrite_partitions

    def spy(self, df, name, partition_by):
        written.append(_optimized(df))
        return real(self, df, name, partition_by)

    monkeypatch.setattr(Warehouse, "overwrite_partitions", spy)
    schema = clips_schema(G.codec_dim(spark), seed=SEED, with_pcm_checks=False)
    runner = ValidationRunner(wh, "plan_lock", batch_buckets=3)
    runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS)

    *local, glob = written
    assert len(local) == 3
    for plan in local:
        assert plan.collectLeaves().size() == 1
        assert "Join" not in plan.toString()
    src = wh.read(spark, "clips")
    alone = _optimized(build_global_violations(
        src, schema.compile(src, PUBLIC_COLUMNS).global_checks, "row_ord"))
    assert glob.collectLeaves().size() <= alone.collectLeaves().size()


def test_non_unique_row_key_keeps_each_violation_in_its_bucket(spark, tmp_path):
    w = Warehouse(str(tmp_path))
    rows = [("a", "BAD!", 5, 0), ("b", "ok", 5, 1), ("d", "ok", 7, 1)]
    (spark.createDataFrame(rows, "clip_id string, transcript string, row_ord long, bucket int")
     .write.partitionBy("bucket").parquet(w.path("clips")))
    schema = Schema([Column("transcript", [MatchesPatternValidation("^[a-z]+$")])])
    runner = ValidationRunner(w, "dup_key", batch_buckets=2)
    runner.run(spark, schema, validate_columns=["transcript"])

    cols = ["row", "column", "value", "message"]
    want = schema.validate(w.read(spark, "clips"), columns=["transcript"],
                           row_key="row_ord").violations
    got = runner.violations(spark)
    assert sorted(map(tuple, got.select(*cols).collect())) == \
        sorted(map(tuple, want.select(*cols).collect()))
    assert [r["bucket"] for r in got.collect()] == [0]
    check = want.first()["check_id"]
    manifest = sorted(tuple(r) for r in runner.manifest(spark)
                      .select("bucket", "rows_seen", "check_id", "fail_count").collect())
    assert manifest == [(0, 1, check, 1), (1, 2, "__all__", 0)]


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


def test_crash_and_resume_commit_and_list_without_jobs(spark, wh, jobs_of, monkeypatch):
    """The manifest is a driver-side commit: a crash and a resume run no
    Spark job inside the manifest append or the completed-bucket read,
    and the whole of it runs a pinned number of jobs."""
    sc = spark.sparkContext
    inner = collections.Counter()
    calls = collections.Counter()

    def count_jobs(cls, name):
        real = getattr(cls, name)

        def spy(*args, **kw):
            calls[name] += 1
            group = "{}_{}".format(name, calls[name])
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                return real(*args, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)
                inner[name] += len(sc.statusTracker().getJobIdsForGroup(group))

        monkeypatch.setattr(cls, name, spy)

    count_jobs(Warehouse, "append")
    count_jobs(ValidationRunner, "completed_buckets")
    schema = clips_schema(G.codec_dim(spark), seed=SEED, with_pcm_checks=False)

    def crash_and_resume():
        with pytest.raises(RuntimeError, match="injected failure"):
            ValidationRunner(wh, "pinned", batch_buckets=4).run(
                spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=1)
        ValidationRunner(wh, "pinned", batch_buckets=4).run(
            spark, schema, validate_columns=PUBLIC_COLUMNS)

    outer_jobs = jobs_of(crash_and_resume)
    assert calls == {"append": 3, "completed_buckets": 2}
    assert inner == {"append": 0, "completed_buckets": 0}
    assert outer_jobs == 16
