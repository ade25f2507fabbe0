"""Incremental (Structured Streaming) validation: exactly-once violation
output, resume across restarts, and the watermarked drift histogram."""

import os

from pyspark.sql import functions as F

from pandasschema_spark.clips_suite import PUBLIC_COLUMNS, clips_schema
from pandasschema_spark.sources.datagen import CLIPS_SCHEMA, clips_df, expected_violations
from pandasschema_spark.sources.warehouse import Warehouse
from pandasschema_spark.streaming import incremental as S


def _write_slice(spark, path, lo, hi):
    df = clips_df(spark, hi, with_audio=False, partitions=2).where(
        (F.col("row_ord") >= lo) & (F.col("row_ord") < hi)
    )
    df.coalesce(1).write.mode("append").parquet(path)


def _run_stream(spark, src, wh, ckpt):
    schema = clips_schema(None, with_pcm_checks=False)
    q = S.stream_validate(
        spark, schema, src, CLIPS_SCHEMA, wh, ckpt,
        validate_columns=PUBLIC_COLUMNS, row_key="row_ord",
    )
    q.awaitTermination(120)
    return q


def test_stream_validate_and_resume(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    src, whp, ckpt = base + "/src", base + "/wh", base + "/ckpt"
    wh = Warehouse(whp)
    n1, n2 = 3000, 6000

    # batch 1: first 3000 rows
    _write_slice(spark, src, 0, n1)
    _run_stream(spark, src, wh, ckpt)
    v1 = wh.read(spark, S.STREAM_VIOLATIONS_TABLE)
    got1 = {(r["row"], r["column"]) for r in v1.collect()}
    # injected rows < 3000: 997 (sr_hz), 1994 (dur_ms), 2991 (codec, but no
    # dim table here -> inlist violation only)
    assert got1 == {(997, "sr_hz"), (1994, "dur_ms"), (2991, "codec")}

    # batch 2: rows 3000..6000 arrive later; resume from checkpoint must
    # process ONLY the new file
    _write_slice(spark, src, n1, n2)
    _run_stream(spark, src, wh, ckpt)
    v2 = wh.read(spark, S.STREAM_VIOLATIONS_TABLE)
    got2 = {(r["row"], r["column"]) for r in v2.collect()}
    # new injections: 3988 = class 4 (null transcript), 4985 = class 5
    # (illegal transcript). 5982 = class 0 (duplicate clip_id) must NOT
    # appear: the copied id is pattern-valid and global keep-first
    # uniqueness is deferred to the batch runner by design.
    assert got2 == got1 | {(3988, "transcript"), (4985, "transcript")}
    # batch 1's rows were not re-validated (their violations unchanged,
    # exactly one batch partition per micro-batch)
    batches = {r["batch_id"] for r in v2.collect()}
    assert len(batches) == 2
    # the stream builds from the compiled schema: its check ids are the
    # ones Schema.validate gives over the same rows
    whole = clips_schema(None, with_pcm_checks=False).validate(
        spark.read.parquet(src), columns=PUBLIC_COLUMNS, row_key="row_ord")
    want = {r["check_id"] for r in whole.violations.select("check_id").collect()}
    assert {r["check_id"] for r in v2.collect()} <= want


def test_stateful_duplicates_across_batches(spark, tmp_path_factory):
    """Cross-batch keep-first uniqueness: a clip_id seen in batch 1 and
    repeated in batch 2 is flagged in batch 2 — the case foreachBatch
    within-batch checking cannot catch."""
    from pandasschema_spark.streaming.stateful import streaming_duplicate_violations

    base = str(tmp_path_factory.mktemp("stateful"))
    src, ckpt = base + "/src", base + "/ckpt"

    def run():
        stream = spark.readStream.schema("row_ord long, clip_id string").parquet(src)
        dups = streaming_duplicate_violations(stream, "clip_id", "row_ord")
        q = (
            dups.writeStream.format("parquet")
            .option("path", base + "/out").option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # batch 1: ids a,b,c (+ an in-batch duplicate of a)
    spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "a")], "row_ord long, clip_id string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    out1 = {(r["row"], r["value"]) for r in spark.read.parquet(base + "/out").collect()}
    assert out1 == {(3, "a")}  # in-batch duplicate caught

    # batch 2: b repeats (cross-batch), d is new
    spark.createDataFrame(
        [(10, "b"), (11, "d")], "row_ord long, clip_id string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    out2 = {(r["row"], r["value"]) for r in spark.read.parquet(base + "/out").collect()}
    assert out2 == {(3, "a"), (10, "b")}  # cross-batch duplicate caught, d clean

    # batch 3: OUT-OF-ORDER ingest — an ordinal SMALLER than c's keeper
    # arrives late. keep-first is by ordinal, not arrival: the old keeper
    # (row 2) is emitted as the violation and the state re-keys to row 1.
    spark.createDataFrame(
        [(1, "c")], "row_ord long, clip_id string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    out3 = {(r["row"], r["value"]) for r in spark.read.parquet(base + "/out").collect()}
    assert out3 == {(3, "a"), (10, "b"), (2, "c")}
    # convergence check: matches the batch operator's violation set over
    # the union of all batches (every row except each key's global min)
    spark.createDataFrame(
        [(100, "c")], "row_ord long, clip_id string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    out4 = {(r["row"], r["value"]) for r in spark.read.parquet(base + "/out").collect()}
    assert out4 == {(3, "a"), (10, "b"), (2, "c"), (100, "c")}


def test_streaming_histogram(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("hist"))
    src = base + "/src"
    rows = [(i, "2026-01-01 00:{:02d}:00".format(i % 3), ["a", "b"][i % 2]) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, ts string, cat string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long, ts timestamp, cat string").parquet(src)
    hist = S.streaming_histogram(stream, "cat", "ts", window="1 minute", watermark="2 minutes")
    q = (
        hist.writeStream.format("memory").queryName("hist_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT win.start AS s, bucket, cnt FROM hist_out").collect()
    got = {(str(r["s"]), r["bucket"]): r["cnt"] for r in out}
    # 60 rows over 3 one-minute windows, alternating categories -> 10 each
    assert len(got) == 6
    assert all(v == 10 for v in got.values())


def test_streaming_session_stats_batch_parity(spark, tmp_path_factory):
    """Finalized streaming sessions (append mode, watermark passed) must
    match the batch sessionizer exactly on (user, session_id, n_events).
    Data arrives in two chunks; a final far-future event per user pushes
    the watermark past every real session so all of them finalize."""
    import datetime as dt

    from pandasschema_spark.operators.sessions import session_stats
    from pandasschema_spark.streaming.incremental import streaming_session_stats

    base = tmp_path_factory.mktemp("sess_stream")
    src = str(base / "src")
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(3):
        for sess in range(2):
            start = t0 + dt.timedelta(hours=3 * sess, minutes=7 * user)
            for j in range(4):
                rows.append((eid, start + dt.timedelta(minutes=5 * j), user))
                eid += 1
    # watermark pushers: one far-future event per user (its own session)
    pushers = [(10_000 + u, t0 + dt.timedelta(days=30), u) for u in range(3)]
    df = spark.createDataFrame(rows + pushers,
                               "event_id long, ts timestamp, user_id long")
    # arrival must respect event time: all real events in ONE first file
    # (watermark stays below their sessions while they accumulate), the
    # watermark-pushing far-future events in a second file/batch — a
    # pusher arriving in the same batch as (or before) real events would
    # advance the watermark and drop them as late
    df.where(F.col("event_id") < 10_000).coalesce(1).write.mode("append").parquet(src)
    df.where(F.col("event_id") >= 10_000).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    q = (
        streaming_session_stats(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory").queryName("sess_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    emitted = {(r["user_id"], r["session_id"]): r["n_events"]
               for r in spark.sql("SELECT * FROM sess_out").collect()}
    batch = {(r["user_id"], r["session_id"]): r["n_events"]
             for r in session_stats(df).collect()}
    # every real (non-pusher) session finalized and matches batch exactly
    real = {k: v for k, v in batch.items() if k[1] < 10_000}
    assert emitted.items() >= real.items()
    assert len(real) == 6


def test_streaming_rate_limit_batch_parity(spark, tmp_path_factory):
    """Finalized streaming rate-limit violations must equal the batch
    operator's on the same data: same epoch-aligned minute windows,
    same counts."""
    import datetime as dt

    from pandasschema_spark.operators.sessions import rate_limit_violations
    from pandasschema_spark.streaming.incremental import streaming_rate_limit

    base = tmp_path_factory.mktemp("rate_stream")
    src = str(base / "src")
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for user in range(3):
        # user bursts: `user+1` events inside minute 0, single events after
        for j in range(user + 1):
            rows.append((eid, t0 + dt.timedelta(seconds=5 * j), user)); eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=5), user)); eid += 1
    pushers = [(10_000 + u, t0 + dt.timedelta(days=30), u) for u in range(3)]
    df = spark.createDataFrame(rows + pushers,
                               "event_id long, ts timestamp, user_id long")
    df.where(F.col("event_id") < 10_000).coalesce(1).write.mode("append").parquet(src)
    df.where(F.col("event_id") >= 10_000).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", "1").parquet(src)
    q = (streaming_rate_limit(stream, window="1 minute",
                              watermark="1 minute", max_events=1)
         .writeStream.format("memory").queryName("rate_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"],
            int(r["window_start"].replace(tzinfo=dt.timezone.utc).timestamp())
            * 1_000_000): r["n_events"]
           for r in spark.sql("SELECT * FROM rate_out").collect()}
    want = {(r["user_id"], r["window_start_us"]): r["n_events"]
            for r in rate_limit_violations(df, max_events=1).collect()}
    assert got == want and len(want) == 2  # users 1 and 2 burst


def test_streaming_cms_batch_parity(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cms"))
    src = base + "/src"
    rows = [(i, str(i % 13)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v string")
    # several files -> several micro-batch candidates
    df.repartition(4).write.parquet(src)
    stream = spark.readStream.schema("id long, v string").parquet(src)
    # the batch builder is a groupBy-count over row-local hashes: the
    # same call runs incrementally on a stream in complete mode
    from pandasschema_spark.operators.sketch import cms_sketch

    sk = cms_sketch(stream, "v", width=32, depth=4)
    q = (
        sk.writeStream.format("memory").queryName("cms_out")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["r"], r["b"]): r["cnt"] for r in spark.sql("SELECT * FROM cms_out").collect()}
    want = {(r["r"], r["b"]): r["cnt"]
            for r in cms_sketch(df, "v", width=32, depth=4).collect()}
    assert got == want


def test_stateful_dedup_null_ordinal_and_null_value_rendering(spark, tmp_path):
    """A NULL row ordinal must be skipped (int(NaN) killed the
    micro-batch) and a NULL duplicate value must render 'nan' like the
    batch operator — never Python's 'None'."""
    import pandas as pd

    from pandasschema_spark.streaming.stateful import streaming_duplicate_violations

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    pdf = pd.DataFrame({
        "clip_id": [None, None, "x", "x", None],
        "row_ord": pd.array([10, 20, 30, None, 40], dtype="Int64"),
    })
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = (spark.readStream
              .schema("clip_id string, row_ord long").parquet(src))
    out = streaming_duplicate_violations(stream, "clip_id", "row_ord")
    q = (out.writeStream.format("memory").queryName("dups_nullsafe")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["row"], r["value"])
           for r in spark.sql("select * from dups_nullsafe").collect()}
    # NULL clip_ids group together: keeper row 10, dups 20 and 40 render
    # 'nan'; the NULL-ordinal x-row is skipped so 'x' has no duplicate
    assert got == {(20, "nan"), (40, "nan")}
