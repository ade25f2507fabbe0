"""Checkpoint-resume semantics (SURVEY.md §5.2.4): kill after k batches,
re-run with the same run_id, verify no bucket validated twice and the final
violations equal an uninterrupted run. Cross-bucket duplicates must be
caught by the dedicated global phase."""

import datetime
import os
import shutil
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from pandasschema_spark.clips_suite import PUBLIC_COLUMNS, clips_schema
from pandasschema_spark.frames import arrow_table, local_frame
from pandasschema_spark.runner import MANIFEST_SCHEMA, MANIFEST_TABLE, ValidationRunner
from pandasschema_spark.sources import datagen as G
from pandasschema_spark.sources.warehouse import Warehouse

N = 4000
BUCKETS = 16
SEED = 42


@pytest.fixture(scope="module")
def wh_root(spark):
    root = tempfile.mkdtemp(prefix="pss_wh_")
    G.write_clips(spark, Warehouse(root).path("clips"), N, SEED,
                  with_audio=False, partitions=8, bucket_count=BUCKETS)
    yield root
    shutil.rmtree(root, ignore_errors=True)


def _schema(spark):
    # audio-free variant keeps the test fast; distinct + referential + row-local
    return clips_schema(G.codec_dim(spark), seed=SEED, with_pcm_checks=False)


def _collect_violations(runner, spark):
    return sorted(
        (r["row"], r["column"], r["message"])
        for r in runner.violations(spark).collect()
    )


def test_uninterrupted_run(spark, wh_root):
    wh = Warehouse(wh_root)
    runner = ValidationRunner(wh, "run_full", batch_buckets=6)
    summary = runner.run(spark, _schema(spark), validate_columns=PUBLIC_COLUMNS)
    assert summary["buckets_validated"] == BUCKETS
    assert summary["global_phase_ran"]

    v = _collect_violations(runner, spark)
    exp = G.expected_violations(N)
    # cross-bucket duplicate clip_ids (i vs i-1 land in different buckets)
    # are caught by the global phase
    dup_rows = sorted(r for (r, c, m) in v if "not unique" in m)
    assert dup_rows == exp[0]
    sr_rows = sorted(r for (r, c, m) in v if c == "sr_hz")
    assert sr_rows == exp[1]

    # manifest: one 'ok' entry set per bucket + the global marker
    m = runner.manifest(spark)
    per_bucket = {r["bucket"] for r in m.select("bucket").distinct().collect()}
    assert per_bucket == set(range(BUCKETS)) | {ValidationRunner.GLOBAL_BUCKET}
    # rows_seen totals the table
    rows_seen = (
        m.where(F.col("bucket") >= 0).select("bucket", "rows_seen").distinct()
        .agg(F.sum("rows_seen")).collect()[0][0]
    )
    assert rows_seen == N


def test_kill_and_resume_identical(spark, wh_root):
    wh = Warehouse(wh_root)
    schema = _schema(spark)

    crashed = ValidationRunner(wh, "run_resume", batch_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        crashed.run(spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=2)

    # partial progress recorded: exactly 2 batches x 4 buckets
    done_after_crash = crashed.completed_buckets(spark)
    assert len(done_after_crash) == 8

    resumed = ValidationRunner(wh, "run_resume", batch_buckets=4)
    summary = resumed.run(spark, schema, validate_columns=PUBLIC_COLUMNS)
    assert summary["buckets_skipped_resume"] == 8
    assert summary["buckets_validated"] == 8  # no bucket validated twice

    # manifest: each bucket committed exactly once
    m = resumed.manifest(spark)
    counts = (
        m.where(F.col("bucket") >= 0)
        .groupBy("bucket").agg(F.countDistinct("finished_at").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in counts)

    # final violations identical to the uninterrupted run
    full = ValidationRunner(wh, "run_full")
    assert _collect_violations(resumed, spark) == _collect_violations(full, spark)


def test_compact_small_files(spark, tmp_path_factory):
    """Compaction must collapse an append-fragmented table to the
    size-targeted file count without changing its contents."""
    from pandasschema_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path_factory.mktemp("compact")))
    df = spark.range(0, 10000).selectExpr("id", "id * 2 AS x")
    for i in range(8):  # fragmented appends: 8 chunks x 4 partitions
        df.where(F.col("id") % 8 == i).repartition(4).write.mode(
            "append").parquet(wh.path("t"))
    before = {r["id"]: r["x"] for r in spark.read.parquet(wh.path("t")).collect()}
    res = wh.compact(spark, "t", target_mb=256)
    assert res["files_before"] >= 32
    assert res["files_after"] == 1  # tiny table -> one right-sized file
    after = {r["id"]: r["x"] for r in spark.read.parquet(wh.path("t")).collect()}
    assert after == before


def test_compact_crash_recovery(spark, tmp_path_factory):
    """A crash between compact()'s two renames leaves the table in
    .old__; the next compact() must restore it before rewriting."""
    from pandasschema_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path_factory.mktemp("compact_crash")))
    df = spark.range(0, 1000).selectExpr("id", "id * 3 AS x")
    df.repartition(6).write.parquet(wh.path("t"))
    before = {r["id"]: r["x"] for r in spark.read.parquet(wh.path("t")).collect()}
    # simulate the crash window: table renamed away, second rename lost
    os.rename(wh.path("t"), wh.path("t") + ".old__")
    assert not os.path.exists(wh.path("t"))
    res = wh.compact(spark, "t", target_mb=256)
    after = {r["id"]: r["x"] for r in spark.read.parquet(wh.path("t")).collect()}
    assert after == before
    assert res["files_after"] == 1


def test_compact_partitioned_respects_target(spark, tmp_path_factory):
    """With partition_by, compaction must still split data into multiple
    files per partition value when the byte target demands it (a plain
    repartition-by-columns would emit one file per value)."""
    from pandasschema_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path_factory.mktemp("compact_part")))
    df = spark.range(0, 20000).selectExpr(
        "id", "CAST(id % 2 AS INT) AS p", "repeat('x', 200) AS pad")
    for i in range(4):
        df.where(F.col("id") % 4 == i).repartition(4).write.mode(
            "append").partitionBy("p").parquet(wh.path("t"))
    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(wh.path("t")) for f in fs if f.endswith(".parquet"))
    # fractional-MB target that forces ~6 output files across 2 values
    res = wh.compact(spark, "t", target_mb=total / 6 / (1024 * 1024),
                     partition_by=["p"])
    import collections

    per_value = collections.Counter()
    for r, _d, fs in os.walk(wh.path("t")):
        for f in fs:
            if f.endswith(".parquet"):
                per_value["p=1" in r] += 1
    assert res["files_after"] >= 4
    # the actual guard: EACH partition value split into >1 file
    assert set(per_value) == {True, False} and min(per_value.values()) > 1, per_value
    after = spark.read.parquet(wh.path("t"))
    assert after.count() == 20000


def test_append_schema_guard(spark, tmp_path_factory):
    """Appending rows of a mismatched schema must refuse up front —
    a silent mixed-schema table is a read-time landmine. The guard reads
    a Spark-written table's footer."""
    wh = Warehouse(str(tmp_path_factory.mktemp("append_guard")))
    a = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    wh.write(a, "t")
    wh.append([(i, str(i)) for i in range(10)], a.schema, "t")  # same schema: fine
    assert wh.read(spark, "t").count() == 20
    bad_type = T.StructType.fromDDL("k long, v long")
    with pytest.raises(ValueError, match="schema mismatch"):
        wh.append([(0, 0)], bad_type, "t")
    bad_col = T.StructType.fromDDL("k long, w string")
    with pytest.raises(ValueError, match="schema mismatch"):
        wh.append([(0, "0")], bad_col, "t")


SMALL_N = 6000  # every injection class, the cross-bucket duplicate included
SMALL_BUCKETS = 4


def _small_warehouse(spark, root, fmt="parquet"):
    """A 4-bucket clips table in ``fmt`` at ``root``."""
    wh = Warehouse(str(root), fmt=fmt)
    src = os.path.join(str(root), "src")
    G.write_clips(spark, src, SMALL_N, SEED, with_audio=False, partitions=2,
                  bucket_count=SMALL_BUCKETS)
    spark.read.parquet(src).write.partitionBy("bucket").format(fmt).save(wh.path("clips"))
    return wh


@pytest.fixture(scope="module")
def small_wh(spark, tmp_path_factory):
    """The small parquet warehouse, with one uninterrupted run ('full')."""
    wh = _small_warehouse(spark, tmp_path_factory.mktemp("small"))
    ValidationRunner(wh, "full", batch_buckets=2).run(
        spark, _schema(spark), validate_columns=PUBLIC_COLUMNS)
    return wh


@pytest.mark.parametrize("committed", [0, 1])
def test_crash_inside_manifest_append_leaves_nothing_visible(spark, small_wh, committed):
    """A crash inside append() leaves its file under the temporary '.'
    name. Whether or not an earlier append committed, neither the resume
    nor a Spark read of the manifest sees it: the torn batch is
    validated again and the violations equal an uninterrupted run's."""
    run_id = "torn{}".format(committed)
    schema = _schema(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        ValidationRunner(small_wh, run_id, batch_buckets=2).run(
            spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=committed)
    runner = ValidationRunner(small_wh, run_id, batch_buckets=2)
    done = runner.completed_buckets(spark)
    assert len(done) == 2 * committed
    torn = [b for b in range(SMALL_BUCKETS) if b not in done][:2]
    leftover = arrow_table([(run_id, b, 1, "__torn__", 0, "ok", datetime.datetime.now())
                            for b in torn], MANIFEST_SCHEMA)
    manifest = small_wh.path(MANIFEST_TABLE)
    os.makedirs(manifest, exist_ok=True)
    pq.write_table(leftover, os.path.join(manifest, ".part-torn.parquet"))
    assert runner.completed_buckets(spark) == done

    summary = runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS)
    assert summary["buckets_skipped_resume"] == len(done)
    assert summary["buckets_validated"] == SMALL_BUCKETS - len(done)
    m = runner.manifest(spark)
    assert m.where(F.col("check_id") == "__torn__").count() == 0
    commits = {r["bucket"]: r["n"] for r in m.groupBy("bucket")
               .agg(F.countDistinct("finished_at").alias("n")).collect()}
    assert commits == dict.fromkeys(
        list(range(SMALL_BUCKETS)) + [ValidationRunner.GLOBAL_BUCKET], 1)
    full = ValidationRunner(small_wh, "full")
    assert _collect_violations(runner, spark) == _collect_violations(full, spark)


def test_crash_inside_violations_write_leaves_nothing_countable(spark, small_wh):
    """A crash inside the violations write leaves files under the
    table's '.spark-staging-*' and '_temporary' directories. Neither
    the resume's fail counts nor completed_buckets count them, and the
    resumed violations equal an uninterrupted run's."""
    run_id = "torn_write"
    schema = _schema(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        ValidationRunner(small_wh, run_id, batch_buckets=2).run(
            spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=1)
    runner = ValidationRunner(small_wh, run_id, batch_buckets=2)
    done = runner.completed_buckets(spark)
    leftover = pa.table({"row": pa.array([0], pa.int64()), "column": ["clip_id"],
                         "value": ["x"], "message": ["torn"], "check_id": ["__torn__"],
                         "seq": pa.array([0], pa.int32())})
    table = small_wh.path("violations")
    for stage in (".spark-staging-torn", os.path.join("_temporary", "0")):
        for b in range(SMALL_BUCKETS):
            part = os.path.join(table, stage, "run_id={}".format(run_id), "phase=local",
                                "bucket={}".format(b))
            os.makedirs(part)
            pq.write_table(leftover, os.path.join(part, "part-torn.parquet"))
    assert runner.completed_buckets(spark) == done

    summary = runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS)
    assert summary["buckets_skipped_resume"] == len(done) == 2
    v = runner.violations(spark)
    want = {(r["bucket"], r["check_id"]): r["count"] for r in
            v.where(F.col("phase") == "local").groupBy("bucket", "check_id").count().collect()}
    want.update({(b, "__all__"): 0 for b in range(SMALL_BUCKETS)
                 if not any(k[0] == b for k in want)})
    want[(ValidationRunner.GLOBAL_BUCKET, "__global__")] = \
        v.where(F.col("phase") == "global").count()
    got = {(r["bucket"], r["check_id"]): r["fail_count"] for r in runner.manifest(spark).collect()}
    assert got == want
    full = ValidationRunner(small_wh, "full")
    assert _collect_violations(runner, spark) == _collect_violations(full, spark)


@pytest.mark.parametrize("spark_written", [False, True])
@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_manifest_round_trips_under_session_time_zone(spark, tmp_path, fmt, spark_written):
    """Under a non-UTC session time zone Spark reads the driver-written
    manifest back with MANIFEST_SCHEMA's types and the instants written.
    With ``spark_written`` the crashed run's manifest is a Spark-written
    table, as a run started before the driver-side commit leaves it, and
    the resume appends to it."""
    wh = _small_warehouse(spark, tmp_path, fmt)
    schema = _schema(spark)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        start = time.time()
        with pytest.raises(RuntimeError, match="injected failure"):
            ValidationRunner(wh, "tz", batch_buckets=2).run(
                spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=1)
        if spark_written:
            rows = [tuple(r) for r in wh.read(spark, MANIFEST_TABLE).collect()]
            shutil.rmtree(wh.path(MANIFEST_TABLE))
            local_frame(spark, rows, MANIFEST_SCHEMA).write.format(fmt).save(
                wh.path(MANIFEST_TABLE))
            assert "_SUCCESS" in os.listdir(wh.path(MANIFEST_TABLE))
        runner = ValidationRunner(wh, "tz", batch_buckets=2)
        summary = runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS)
        end = time.time()
        assert summary["buckets_skipped_resume"] == 2
        m = runner.manifest(spark)
        assert [(f.name, f.dataType) for f in m.schema] == \
            [(f.name, f.dataType) for f in MANIFEST_SCHEMA]
        written = [r[0] for r in m.select(F.unix_micros("finished_at")).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert len(set(written)) == 3  # one instant per commit: two batches, the global phase
    assert all(int(start * 1e6) <= t <= int(end * 1e6) for t in written)


def test_ordered_schema_split_keeps_positions(spark, tmp_path):
    """An ordered=True schema pairs by POSITION, once, on the caller's
    schema: the runner's local and global phases must keep every
    column's slot, so the regex check runs against TRANSCRIPT (the
    table's second column) and the distinct check against clip_id."""
    from pandasschema_spark.column import Column
    from pandasschema_spark.schema import Schema
    from pandasschema_spark.validation import (
        IsDistinctValidation, MatchesPatternValidation)

    sch = Schema([
        Column("clip_id", [IsDistinctValidation()]),
        Column("transcript", [MatchesPatternValidation(r"^x-never-matches$")]),
    ], ordered=True)
    wh = Warehouse(str(tmp_path))
    # columns (clip_id, transcript, row_ord, bucket); odd rows repeat the
    # previous clip_id
    spark.createDataFrame(
        [("c{}".format(i // 2), "hello", i, i % 3) for i in range(6)],
        "clip_id string, transcript string, row_ord long, bucket int",
    ).write.partitionBy("bucket").parquet(wh.path("clips"))
    runner = ValidationRunner(wh, "ordered", batch_buckets=2)
    summary = runner.run(spark, sch, validate_columns=["clip_id", "transcript"])
    assert summary["global_phase_ran"] and summary["frame_warnings"] == 0

    got = {(r["phase"], r["column"], r["row"]) for r in runner.violations(spark).collect()}
    assert got == ({("local", "transcript", i) for i in range(6)}
                   | {("global", "clip_id", i) for i in (1, 3, 5)})
    ids = {r["check_id"] for r in runner.violations(spark).select("check_id").collect()}
    want = sch.validate(wh.read(spark, "clips"), columns=["clip_id", "transcript"],
                        row_key="row_ord").violations
    assert ids == {r["check_id"] for r in want.select("check_id").collect()}


def test_resumed_check_ids_match_schema_validate(spark, tmp_path):
    """The runner compiles the caller's schema once, so after a crash and
    a resume its (check_id, seq) pairs are exactly Schema.validate's over
    the same table, and no seq names two checks. 6000 rows carry every
    injection class, the cross-bucket duplicate (global phase) included."""
    wh = Warehouse(str(tmp_path))
    G.write_clips(spark, wh.path("clips"), 6000, SEED, with_audio=False,
                  partitions=2, bucket_count=4)
    schema = _schema(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        ValidationRunner(wh, "ids", batch_buckets=2).run(
            spark, schema, validate_columns=PUBLIC_COLUMNS, fail_after_batches=1)
    runner = ValidationRunner(wh, "ids", batch_buckets=2)
    runner.run(spark, schema, validate_columns=PUBLIC_COLUMNS)

    def pairs(df):
        return {(r["check_id"], r["seq"]) for r in
                df.select("check_id", "seq").distinct().collect()}

    got = pairs(runner.violations(spark).where(F.col("phase") != "frame"))
    want = pairs(schema.validate(wh.read(spark, "clips"), columns=PUBLIC_COLUMNS,
                                 row_key="row_ord").violations)
    assert got == want
    assert len({seq for _, seq in got}) == len(got)
    assert {c.split(":")[1] for c, _ in got} >= {
        "IsDistinctValidation", "InListValidation", "InTableValidation",
        "InRangeValidation", "NotNullValidation", "MatchesPatternValidation"}


def test_runner_surfaces_frame_warnings(spark, wh_root, tmp_path):
    """A schema column missing from the table must not report a green
    run: the precheck warning lands in the violations table (phase
    'frame') and in the summary."""
    from pandasschema_spark.column import Column
    from pandasschema_spark.schema import Schema
    from pandasschema_spark.validation import MatchesPatternValidation

    sch = Schema([Column("no_such_column", [MatchesPatternValidation("x")])])
    runner = ValidationRunner(Warehouse(wh_root), "fw1", input_table="clips")
    summary = runner.run(spark, sch, validate_columns=["no_such_column"])
    assert summary["frame_warnings"] == 1
    fw = (runner.violations(spark)
          .where(F.col("phase") == "frame").collect())
    assert len(fw) == 1 and "not in the data frame" in fw[0]["message"]
    # and the phase marker never inflates the data-bucket counts on rerun
    summary2 = ValidationRunner(Warehouse(wh_root), "fw1",
                                input_table="clips").run(
        spark, sch, validate_columns=["no_such_column"])
    assert summary2["buckets_total"] == summary["buckets_total"]
