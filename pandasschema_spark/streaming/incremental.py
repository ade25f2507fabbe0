"""Incremental (Structured Streaming) validation.

The reference is strictly batch (SURVEY.md §2.4: no streaming anywhere),
and the north_rule's resumability is checkpoint-batch (runner.py). This
module adds the streaming ingestion path a production warehouse needs:
validate clip files AS THEY ARRIVE, with exactly-once violation output.

Design:
- source: file stream over the warehouse directory (new parquet files =
  new data; Iceberg's streaming read slots in behind the same DataFrame).
- the schema is compiled once against the stream (Schema.compile) and
  its row-local checks are built INSIDE foreachBatch — the whole
  compiled one-scan plan applies unchanged to each micro-batch, with the
  check ids Schema.validate gives.
- exactly-once: violations are written partitioned by batch_id with
  dynamic-partition overwrite, so a replayed micro-batch (failure between
  sink write and checkpoint commit) overwrites its own partition instead
  of duplicating — idempotence without a transactional sink.
- global checks (cross-row uniqueness, referential vs a dim snapshot)
  are skipped per micro-batch: stream_validate compiles the schema's
  row-local checks only, so a duplicate key is not reported here, not
  even within one batch. The global pass stays with the batch runner;
  uniqueness across batches is the stateful
  ``streaming/stateful.streaming_duplicate_violations`` (keep-first
  over group state).
- drift monitoring: watermarked event-time windowed histograms
  (streaming_histogram) feed the same numpy chi-square/KS stats as batch.
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..frames import local_frame
from ..plans.compiler import build_row_violations
from ..resources import hold, scope
from ..schema import Schema
from ..sources.warehouse import Warehouse

STREAM_VIOLATIONS_TABLE = "stream_violations"
STREAM_METRICS_TABLE = "stream_metrics"


def stream_validate(
    spark: SparkSession,
    schema: Schema,
    source_dir: str,
    source_schema,
    warehouse: Warehouse,
    checkpoint_dir: str,
    *,
    validate_columns: typing.List[str],
    row_key: str = "row_ord",
    max_files_per_trigger: int = None,
):
    """Start the incremental validation stream with an available-now
    trigger: it validates every file present at start, then stops.
    Returns the StreamingQuery."""
    reader = (
        spark.readStream.schema(source_schema)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    row_checks = schema.compile(stream, validate_columns).row_checks
    if not row_checks:
        raise ValueError("no row-local checks in schema; nothing to stream")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        with scope():
            violations = hold(
                build_row_violations(batch_df, row_checks, row_key)
                .withColumn("batch_id", F.lit(int(batch_id)))
                .persist()
            )
            # idempotent on replay: a re-run of batch N replaces partition N
            warehouse.overwrite_partitions(
                violations.select("batch_id", "row", "column", "value", "message", "check_id", "seq"),
                STREAM_VIOLATIONS_TABLE,
                partition_by=["batch_id"],
            )
            rows_seen = batch_df.count()
            fails = violations.count()
            metrics = local_frame(
                spark, [(int(batch_id), rows_seen, fails)],
                "batch_id long, rows_seen long, fail_count long",
            ).withColumn("finished_at", F.current_timestamp())
            warehouse.overwrite_partitions(metrics, STREAM_METRICS_TABLE, partition_by=["batch_id"])

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_histogram(
    stream: DataFrame,
    value_col: str,
    ts_col: str,
    *,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked event-time windowed category histogram — the streaming
    leg of the drift checks. Late rows beyond the watermark are dropped
    (bounded state); the emitted (window, value, cnt) rows feed the same
    numpy chi-square / KS statistics as the batch histograms."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(value_col).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_session_stats(
    stream: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization via the native ``session_window``
    stateful aggregation: per (user, merged-window) one row of
    (session_id = min event id, n_events, start/end). Watermark bounds
    the state — a session finalizes (and emits, in append mode) once the
    watermark passes its window end, so state is O(open sessions), not
    O(history).

    Boundary semantics vs the batch operator (operators/sessions.py):
    session_window merges events with gap strictly LESS than ``gap``
    while the batch operator keeps equal-gap events together (diff >
    gap breaks). Identical on any data without microsecond-exact
    gap-width spacing; tests/test_streaming.py asserts batch parity on
    finalized sessions."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"),
                 F.col(user_col))
        .agg(F.min(id_col).alias("session_id"),
             F.count(F.lit(1)).alias("n_events"),
             F.min(ts_col).alias("start_ts"),
             F.max(ts_col).alias("end_ts"))
    )


def streaming_rate_limit(
    stream: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "10 minutes",
    max_events: int = 1,
) -> DataFrame:
    """Streaming counterpart of operators/sessions.rate_limit_violations:
    per-(user, tumbling window) event counts over ``max_events``, via the
    native windowed stateful aggregation. The watermark bounds state to
    open windows and (append mode) finalizes a window's verdict once it
    can no longer change — the continuous form of the batch bot check.
    Epoch-aligned tumbling windows match the batch operator's
    ``us div window_us`` bucketing exactly, so finalized violations
    equal the batch result on the same data (pytest parity)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"),
                 F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") > max_events)
        .select(user_col, F.col("win.start").alias("window_start"),
                "n_events")
    )
