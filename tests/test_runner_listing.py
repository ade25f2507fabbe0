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
from pandasschema_spark.validation import IsDistinctValidation, MatchesPatternValidation

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


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_overwrite_partitions_leaves_the_session_conf_alone(spark, tmp_path, monkeypatch, fmt):
    """With the session's partitionOverwriteMode at static,
    overwrite_partitions still replaces only the partitions its frame
    holds, and it never sets a session conf: dynamic overwrite is a
    per-write option, so another writer on the session (a stream beside
    a runner) neither sees the mode flipped nor has it restored under
    it."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        w = Warehouse(str(tmp_path), fmt=fmt)
        w.write(spark.range(6).select((F.col("id") % 3).alias("p"), F.col("id").alias("v")),
                "t", partition_by=["p"])
        sets = []
        real = RuntimeConfig.set

        def spy(self, k, v):
            sets.append((k, v))
            return real(self, k, v)

        monkeypatch.setattr(RuntimeConfig, "set", spy)
        w.overwrite_partitions(
            spark.range(1).select(F.lit(1).cast("long").alias("p"),
                                  F.lit(100).cast("long").alias("v")),
            "t", partition_by=["p"])
        monkeypatch.undo()
        assert sets == [] and spark.conf.get(key) == "static"
        assert sorted((r["p"], r["v"]) for r in w.read(spark, "t").collect()) == [
            (0, 0), (0, 3), (1, 100), (2, 2), (2, 5)]
    finally:
        spark.conf.set(key, prev)


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
    and the whole of it runs a pinned number of jobs: one per run for the
    input read's schema inference, two per batch's violations write and
    three for the global phase's write (its distinct check broadcasts)."""
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
    assert outer_jobs == 9


def test_commit_runs_only_its_write_and_persists_nothing(spark, wh, pinned, monkeypatch):
    """A commit's only Spark jobs are those of its violations write: the
    fail counts are read back from the committed files on the driver.
    Nothing is persisted during the write, and nothing is left pinned."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    commit_jobs, write_jobs, held = [], [], []
    real_commit, real_write = ValidationRunner._commit, Warehouse.overwrite_partitions

    def commit(self, *args):
        group = "commit_{}".format(len(commit_jobs))
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            real_commit(self, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        commit_jobs.append(len(tracker.getJobIdsForGroup(group)))

    def write(self, df, name, partition_by):
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = len(tracker.getJobIdsForGroup(group))
        real_write(self, df, name, partition_by)
        write_jobs.append(len(tracker.getJobIdsForGroup(group)) - before)
        held.append(pinned())

    monkeypatch.setattr(ValidationRunner, "_commit", commit)
    monkeypatch.setattr(Warehouse, "overwrite_partitions", write)
    before = pinned()
    schema = clips_schema(G.codec_dim(spark), seed=SEED, with_pcm_checks=False)
    ValidationRunner(wh, "commit_jobs", batch_buckets=4).run(
        spark, schema, validate_columns=PUBLIC_COLUMNS)

    assert len(commit_jobs) == 3  # two batches and the global phase
    assert commit_jobs == write_jobs and min(write_jobs) > 0
    assert held == [before] * 3
    assert pinned() == before


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_fail_counts_match_committed_violations(spark, tmp_path, fmt):
    """The manifest's fail counts equal the committed violations'
    (bucket, check_id) counts for a batch with violations, a batch with
    none (committed as '__all__'/0) and the global phase's total, after
    a crash and a resume. The run id holds characters Spark escapes in
    partition paths, so the driver's hive decoding must agree with it."""
    w = Warehouse(str(tmp_path), fmt=fmt)
    rows = [("a", "BAD!", 0, 0), ("a", "ok", 1, 1), ("b", "BAD?", 2, 1),
            ("c", "ok", 3, 2), ("d", "ok", 4, 3), ("d", "ok", 5, 2)]
    (spark.createDataFrame(rows, "clip_id string, transcript string, row_ord long, bucket int")
     .write.partitionBy("bucket").format(fmt).save(w.path("clips")))
    schema = Schema([Column("clip_id", [IsDistinctValidation()]),
                     Column("transcript", [MatchesPatternValidation("^[a-z]+$")])])
    run_id = "nightly:2026/10 a=b%"
    cols = ["clip_id", "transcript"]
    with pytest.raises(RuntimeError, match="injected failure"):
        ValidationRunner(w, run_id, batch_buckets=2).run(
            spark, schema, validate_columns=cols, fail_after_batches=1)
    runner = ValidationRunner(w, run_id, batch_buckets=2)
    runner.run(spark, schema, validate_columns=cols)
    assert any("%3A" in d for d in os.listdir(w.path("violations")))

    v = runner.violations(spark)
    local = {(r["bucket"], r["check_id"]): r["count"] for r in
             v.where(F.col("phase") == "local").groupBy("bucket", "check_id").count().collect()}
    n_global = v.where(F.col("phase") == "global").count()
    assert set(b for b, _ in local) == {0, 1} and n_global == 2
    want = {(b, c): n for (b, c), n in local.items()}
    want.update({(2, "__all__"): 0, (3, "__all__"): 0,
                 (ValidationRunner.GLOBAL_BUCKET, "__global__"): n_global})
    got = {(r["bucket"], r["check_id"]): r["fail_count"] for r in runner.manifest(spark).collect()}
    assert got == want


def test_clean_first_commit_counts_nothing(spark, tmp_path):
    """A run whose commits write no violation leaves the violations
    table without a data file; the driver's fail-count read then
    commits '__all__'/0 for every bucket."""
    w = Warehouse(str(tmp_path))
    (spark.createDataFrame([("ok", 0, 0), ("ok", 1, 1)],
                           "transcript string, row_ord long, bucket int")
     .write.partitionBy("bucket").parquet(w.path("clips")))
    schema = Schema([Column("transcript", [MatchesPatternValidation("^[a-z]+$")])])
    runner = ValidationRunner(w, "clean", batch_buckets=1)
    runner.run(spark, schema, validate_columns=["transcript"])
    assert not w.exists("violations")
    got = sorted(tuple(r) for r in runner.manifest(spark)
                 .select("bucket", "rows_seen", "check_id", "fail_count").collect())
    assert got == [(0, 1, "__all__", 0), (1, 1, "__all__", 0)]
