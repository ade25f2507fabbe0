"""Checkpoint-resumable validation runner with per-partition lineage.

north_rule requirements covered here: "resumable from checkpoint with
per-partition lineage + metrics", "per-partition pass/fail", "AQE-driven
partition coalescing" (AQE conf set by ensure_session in bench/entry).

Unit of lineage = the warehouse's `bucket` partition column (written by
sources.datagen.write_clips; an Iceberg deployment would use its partition
values). A run reads the input once, compiles the caller's schema once
against that read (Schema.compile: the check ids are Schema.validate's),
and processes buckets in batches:

    for each batch of pending buckets:
        filter the input WHERE bucket IN (...)     <- partition pruning
        build the row-local violations of the batch, each carrying
          the bucket of the row that produced it   <- the batch's one read
        overwrite-violations partitions for batch  <- idempotent on retry
        append manifest rows (bucket x check metrics, status='ok')

then builds the global checks (distinctness, referential) once over the
whole input as one more committed phase; its violations carry their
row's bucket the same way. Nothing joins a violation back to the source.
A bucket's rows_seen comes from the bucket listing, which reads the
input's file metadata. The violations are not persisted: the fail
counts are read back on the driver, through pyarrow, from the
partitions the violations write just committed, so a commit runs no
Spark job beyond that write. (``DataFrame.observe`` is not used: an
empty batch's violations go through ``overwrite_partitions``'
repartition, AQE replaces the empty shuffle stage, CollectMetrics
nodes included, and ``Observation.get`` fails.)

The manifest append happens only AFTER the violations write commits,
and is itself a driver-side metadata commit: one file in the warehouse's
format, written under a hidden name and renamed into place. That rename
is the commit point. A kill anywhere leaves either (no manifest file,
replayable partial output that the retry's dynamic-partition overwrite
replaces) or (manifest file, committed output). resume = the bucket
listing minus the manifest's buckets — no bucket is validated twice,
and the final violations equal an uninterrupted run (tested in
tests/test_resume.py). The runner's own reads of its committed files
(the manifest, the fail counts) go through pyarrow on the driver, so
neither the manifest commit nor the resume runs a Spark job.

Manifest schema (FIXTURES.md §C3): run_id, bucket, rows_seen, check_id,
fail_count, status, finished_at.
"""

from __future__ import annotations

import collections
import datetime
import typing

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .frames import local_frame
from .plans.compiler import build_global_violations, build_row_violations
from .schema import Schema
from .sources.warehouse import Warehouse
from .validation import sql_in, sql_literal

MANIFEST_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("rows_seen", T.LongType(), False),
    T.StructField("check_id", T.StringType(), False),
    T.StructField("fail_count", T.LongType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("finished_at", T.TimestampType(), False),
])

VIOLATIONS_TABLE = "violations"
MANIFEST_TABLE = "manifest"
# the violations table's hive partition columns, outermost first
VIOLATION_PARTITIONS = {"run_id": pa.string(), "phase": pa.string(), "bucket": pa.int32()}


class ValidationRunner:
    def __init__(
        self,
        warehouse: Warehouse,
        run_id: str,
        *,
        input_table: str = "clips",
        batch_buckets: int = 8,
    ):
        self.wh = warehouse
        self.run_id = run_id
        self.input_table = input_table
        self.batch_buckets = batch_buckets

    # -- lineage ------------------------------------------------------------
    def completed_buckets(self, spark: SparkSession) -> typing.Set[int]:
        if not self.wh.exists(MANIFEST_TABLE):
            return set()
        # read on the driver off the manifest's files: no Spark job
        done = self.wh.dataset(MANIFEST_TABLE).to_table(
            columns=["bucket"],
            filter=(ds.field("run_id") == self.run_id) & (ds.field("status") == "ok"))
        return set(done.column("bucket").to_pylist())

    def all_buckets(self, spark: SparkSession) -> typing.Dict[int, int]:
        # {bucket: rows} in bucket order, read off the input's file
        # metadata: no Spark job
        return self.wh.partition_rows(self.input_table, "bucket")

    # -- the run ------------------------------------------------------------
    GLOBAL_BUCKET = -1  # manifest lineage marker for the global phase

    def run(
        self,
        spark: SparkSession,
        schema: Schema,
        *,
        validate_columns: typing.List[str],
        row_key: str = "row_ord",
        fail_after_batches: int = None,  # test hook: simulate a crash
    ) -> dict:
        """Validate all pending buckets; returns run summary."""
        # one read of the input serves the compile, every batch and the
        # global phase, so the run lists and infers the table once
        src = self.wh.read(spark, self.input_table)
        if "bucket" not in src.columns:
            raise ValueError("input table {!r} is not partitioned by bucket".format(
                self.input_table))
        # one compile of the caller's schema, so check ids are the ones
        # Schema.validate gives. Its frame warnings (missing columns,
        # dtype) need no plan; the checks of a column they name are not
        # compiled, so discarding them would let a renamed/dropped column
        # report a green run. Written once per run under the FRAME_BUCKET
        # marker (idempotent overwrite) and surfaced in the summary.
        compiled = schema.compile(src, validate_columns)
        frame_warnings = self._write_frame_warnings(spark, compiled.frame_warnings)
        done_all = self.completed_buckets(spark)
        # the GLOBAL_BUCKET manifest marker is a PHASE, not a data
        # bucket — counting it would inflate buckets_total /
        # buckets_skipped_resume by one after the global phase commits
        done = [b for b in done_all if b != self.GLOBAL_BUCKET]
        rows_seen = self.all_buckets(spark)
        todo = [b for b in rows_seen if b not in done]
        batches = [
            todo[i : i + self.batch_buckets] for i in range(0, len(todo), self.batch_buckets)
        ]
        n_batches = 0
        for batch in batches:
            if fail_after_batches is not None and n_batches >= fail_after_batches:
                raise RuntimeError("injected failure after {} batches".format(n_batches))
            if compiled.row_checks:
                self._run_batch(src, compiled.row_checks,
                                {b: rows_seen[b] for b in batch}, row_key)
            n_batches += 1
        global_ran = False
        if compiled.global_checks and self.GLOBAL_BUCKET not in done_all:
            if fail_after_batches is not None and n_batches >= fail_after_batches:
                raise RuntimeError("injected failure before global phase")
            self._run_global(src, compiled.global_checks, row_key)
            global_ran = True
        return {
            "run_id": self.run_id,
            "buckets_total": len(todo) + len(done),
            "buckets_skipped_resume": len(done),
            "buckets_validated": len(todo),
            "batches": n_batches,
            "global_phase_ran": global_ran,
            "frame_warnings": frame_warnings,
        }

    FRAME_BUCKET = -2  # violations-table marker for frame-level warnings

    def _write_frame_warnings(self, spark, warns):
        """Persist the compile's frame warnings as row=-1 violation rows
        (phase 'frame', bucket FRAME_BUCKET — overwritten idempotently on
        resume). Returns the warning count."""
        if not warns:
            return 0
        rows = [(self.run_id, "frame", -1, w.column, None, w.message,
                 "__frame__", -1, self.FRAME_BUCKET) for w in warns]
        fw = local_frame(
            spark, rows,
            "run_id string, phase string, row long, column string, "
            "value string, message string, check_id string, seq int, "
            "bucket int")
        self.wh.overwrite_partitions(
            fw, VIOLATIONS_TABLE, partition_by=list(VIOLATION_PARTITIONS))
        return len(warns)

    def _run_global(self, src, checks, row_key):
        """One pass over the whole table for shuffle-requiring checks
        (uniqueness hash-agg, broadcast referential anti-join). They are
        properties of the WHOLE table and cannot be checkpointed per
        bucket without auxiliary state, so they commit as one phase whose
        lineage unit is the phase itself (manifest bucket GLOBAL_BUCKET)."""
        built = build_global_violations(src, checks, row_key, carry=["bucket"])
        self._commit(built, "global", None)

    def _run_batch(self, table, checks, rows_seen, row_key):
        src = table.where(sql_in("bucket", list(rows_seen)))  # partition pruning
        built = build_row_violations(src, checks, row_key, carry=["bucket"])
        self._commit(built, "local", rows_seen)

    def _commit(self, built, phase, rows_seen):
        """Overwrite the phase's violations partitions with ``built`` (each
        violation carries its row's bucket), then append the manifest —
        the commit point. ``rows_seen`` maps each bucket of a local batch
        to its listed row count; None marks the global phase. Nothing is
        persisted: the fail counts are read back from the partitions the
        write committed, so the write is the commit's only Spark job."""
        violations = built.selectExpr(
            "{} AS run_id".format(sql_literal(self.run_id)), "{} AS phase".format(sql_literal(phase)),
            "`row`", "`column`", "`value`", "message", "check_id", "seq", "bucket",
        )
        self.wh.overwrite_partitions(
            violations, VIOLATIONS_TABLE, partition_by=list(VIOLATION_PARTITIONS))
        fails = self._fail_counts(phase, None if rows_seen is None else list(rows_seen))
        if rows_seen is None:
            metrics = [(self.GLOBAL_BUCKET, 0, "__global__", sum(fails.values()))]
        else:
            per_bucket = collections.defaultdict(list)
            for (bucket, check), count in fails.items():
                per_bucket[bucket].append((check, count))
            metrics = [(b, n, check, count) for b, n in rows_seen.items()
                       for check, count in sorted(per_bucket[b]) or [("__all__", 0)]]
        now = datetime.datetime.now()
        self.wh.append([(self.run_id, *m, "ok", now) for m in metrics],
                       MANIFEST_SCHEMA, MANIFEST_TABLE)

    def _fail_counts(self, phase, buckets) -> typing.Dict[typing.Tuple[int, str], int]:
        """{(bucket, check_id): violations} in this run's committed
        ``phase`` partitions, of ``buckets`` only when given. Read on the
        driver off the violations files: O(violations) and no Spark job.
        Only ``check_id`` is read from the files; ``bucket`` is a path
        key."""
        where = (ds.field("run_id") == self.run_id) & (ds.field("phase") == phase)
        if buckets is not None:
            where &= ds.field("bucket").isin(buckets)
        data = self.wh.dataset(VIOLATIONS_TABLE, VIOLATION_PARTITIONS)
        if "check_id" not in data.schema.names:  # no data file yet
            return {}
        counts = (data.to_table(columns=["bucket", "check_id"], filter=where)
                  .group_by(["bucket", "check_id"]).aggregate([([], "count_all")]))
        return {(r["bucket"], r["check_id"]): r["count_all"] for r in counts.to_pylist()}

    # -- results ------------------------------------------------------------
    def violations(self, spark: SparkSession) -> DataFrame:
        return self.wh.read(spark, VIOLATIONS_TABLE).where(F.col("run_id") == self.run_id)

    def manifest(self, spark: SparkSession) -> DataFrame:
        return self.wh.read(spark, MANIFEST_TABLE).where(F.col("run_id") == self.run_id)
