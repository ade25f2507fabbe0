"""The benchmark's workloads: what one timed sample runs through the
engine's public entry points, how its output is checked, and which
per-layer numbers its executed plans give.

Sizes are set for a 4-CPU host and a whole run of about a minute; the
reasons and the measurements behind them are in NOTES.md.
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import time

from measure import MB, job_counts

#: SQL metric names the plan walk keeps (everything else is skipped
#: before its value is fetched over py4j)
WANTED = frozenset({
    "time to start Python workers", "time to initialize Python workers",
    "time to run Python workers", "data sent to Python workers",
    "number of output rows", "duration", "size of files read", "scan time",
    "shuffle bytes written", "spill size", "peak memory",
    "number of written files", "written output",
})


def _check_key(check_id: str) -> tuple:
    """'transcript#9:CustomRowValidation' -> ('transcript', 'CustomRowValidation')."""
    column, rest = check_id.split("#", 1)
    return column, rest.split(":", 1)[1]


def expected_counts(n: int, seed: int, with_pcm_checks: bool) -> dict:
    """Closed-form violation count per (column, check type) of the clips
    suite over ``datagen.write_clips(n, seed)``: the injection classes of
    ``expected_violations`` plus, with the Arrow checks, the PCM and
    transcript oracle rules for the duplicated-id rows (the rules
    tests/test_audio_suite.py asserts)."""
    from pandasschema_spark.functions import audio as A
    from pandasschema_spark.sources.datagen import expected_violations

    exp = expected_violations(n)
    out = collections.Counter({
        ("clip_id", "IsDistinctValidation"): len(exp[0]),
        ("sr_hz", "InListValidation"): len(exp[1]),
        ("dur_ms", "InRangeValidation"): len(exp[2]),
        ("codec", "InListValidation"): len(exp[3]),
        ("codec", "InTableValidation"): len(exp[3]),
        ("transcript", "NotNullValidation"): len(exp[4]),
        ("transcript", "MatchesPatternValidation"): len(exp[5]),
    })
    if with_pcm_checks:
        # a duplicated id points the oracle at row i-1: PCM always fails
        # (other shape, or same shape and SNR far below 30 dB); the
        # transcript fails unless row i-1 happens to say the same words
        out[("bytes", "CustomRowValidation")] = len(exp[0]) + len(exp[1]) + len(exp[2])
        dup_transcripts = sum(
            A.clip_transcript(seed, i - 1) != A.clip_transcript(seed, i) for i in exp[0])
        out[("transcript", "CustomRowValidation")] = (
            len(exp[4]) + len(exp[5]) + dup_transcripts)
    return {k: v for k, v in out.items() if v}


def _by_key(rows) -> dict:
    out = collections.Counter()
    for check_id, count in rows:
        out[_check_key(check_id)] += count
    return dict(out)


def plan_layers(recs: list) -> dict:
    """Per-layer numbers of one sample from its executions' SQL metrics."""
    out = collections.Counter()
    gen_pipelines = set()
    for r in recs:
        node, metric, v, desc = r["node"], r["metric"], r["value"], r["desc"] or ""
        if node == "ArrowEvalPython":
            key = {"time to start Python workers": "arrow.python_boot_ms",
                   "time to initialize Python workers": "arrow.python_init_ms",
                   "time to run Python workers": "arrow.python_total_ms"}.get(metric)
            if key:
                out[key] += v
            elif metric == "data sent to Python workers":
                out["arrow.data_sent_mb"] += v / MB
        elif node.startswith("Scan "):
            if metric == "number of output rows":
                out["scan.count"] += 1
            elif metric == "size of files read":
                out["scan.mb"] += v / MB
            elif metric == "scan time":
                out["scan.time_ms"] += v
        elif node == "Generate" and metric == "number of output rows" \
                and desc.startswith("Generate explode(array(CASE WHEN"):
            # the fused check projection of plans/compiler.py
            out["compiler.generated_rows"] += v
            gen_pipelines.add((r["exec"], r["cluster"]))
        elif node == "Filter" and r["child"] == "Generate" and metric == "number of output rows":
            out["compiler.violation_rows"] += v
        elif node.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            if metric == "number of written files":
                out["warehouse.files_written"] += v
            elif metric == "written output":
                out["warehouse.mb_written"] += v / MB
        # the distinct check of operators/distinct.py groups by __v__
        if metric == "shuffle bytes written":
            out["spark.shuffle_mb"] += v / MB
            if "__v__" in desc:
                out["distinct.shuffle_mb"] += v / MB
        elif metric == "spill size":
            out["spark.spill_mb"] += v / MB
        elif metric == "peak memory" and node == "HashAggregate" and "keys=[__v__" in desc:
            out["distinct.agg_peak_mb"] += v / MB
    for r in recs:
        if r["metric"] == "duration" and (r["exec"], r["node"]) in gen_pipelines:
            out["compiler.pipeline_ms"] += r["value"]
    if out["compiler.generated_rows"]:
        out["compiler.useful_ratio"] = (
            out["compiler.violation_rows"] / out["compiler.generated_rows"])
    return dict(out)


def write_clips_table(path: str, n: int, seed: int, buckets: int, with_audio: bool) -> None:
    """The rows ``datagen.write_clips`` writes -- its row synthesizer and
    its ``bucket = row_ord mod buckets`` partitioning, one file per bucket
    -- written with pyarrow, so making the input starts no Spark job and
    does not warm the JVM whose set-up time the run measures."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pandasschema_spark.sources import datagen

    schema = to_arrow_schema(datagen.CLIPS_SCHEMA)
    shutil.rmtree(path, ignore_errors=True)
    for b in range(buckets):
        rows = [datagen._synth_row(seed, i, with_audio) for i in range(b, n, buckets)]
        part = os.path.join(path, "bucket={}".format(b))
        os.makedirs(part)
        pq.write_table(pa.Table.from_pylist(rows, schema), os.path.join(part, "part-0.parquet"))


class ClipsFull:
    """The full north-star suite (clips_suite.validate_clips, with the
    PCM and transcript Arrow checks) over an audio clips warehouse; one
    sample is plan build plus the per-check violation counts."""

    name = "clips_full"
    n_clips = 8_000
    buckets = 16
    # Arrow stages pair a JVM task thread with a Python worker, so half
    # the CPUs; NOTES.md has the 2-against-4 measurement
    slots = 2
    warmup = 2

    def __init__(self, data_dir: str, seed: int):
        from pandasschema_spark.sources.warehouse import Warehouse

        self.seed = seed
        self.wh = Warehouse(os.path.join(data_dir, "clips_full"))
        self.expected = expected_counts(self.n_clips, seed, with_pcm_checks=True)

    def prepare(self) -> None:
        write_clips_table(self.wh.path("clips"), self.n_clips, self.seed, self.buckets,
                          with_audio=True)

    def sample(self, spark) -> dict:
        from pandasschema_spark.clips_suite import validate_clips
        from pandasschema_spark.sources.datagen import codec_dim

        t0 = time.perf_counter()
        res = validate_clips(self.wh.read(spark, "clips"), codec_dim(spark),
                             seed=self.seed, row_key="row_ord")
        rows = res.violations.groupBy("check_id").count().collect()
        wall = time.perf_counter() - t0
        return {"wall": wall, "clips": self.n_clips, "counts": _by_key(rows)}

    def check(self, spark, out: dict) -> bool:
        return out["counts"] == self.expected

    def trace_layers(self, spark, out, recs, spans, group) -> dict:
        return _common_layers(spark, recs, spans, group)

    def kernel_probes(self) -> dict:
        """Rows per second of the two Arrow checks called in-process on a
        fixed batch read with pyarrow from one warehouse file: kernel cost
        without the Arrow boundary."""
        import pyarrow.parquet as pq

        from pandasschema_spark.clips_suite import (
            pcm_integrity_validation, transcript_oracle_validation)

        path = os.path.join(self.wh.path("clips"), "bucket=0", "part-0.parquet")
        frame = pq.read_table(path).slice(0, 400).to_pandas()
        out = {}
        for key, check in (("audio.pcm_rows_per_s", pcm_integrity_validation(self.seed)),
                           ("audio.transcript_rows_per_s", transcript_oracle_validation(self.seed))):
            rates = []
            for _ in range(5):
                t0 = time.perf_counter()
                check.pandas_validate_frame(frame)
                rates.append(len(frame) / (time.perf_counter() - t0))
            out[key] = statistics.median(rates)
        return out


class RunnerResume:
    """runner.ValidationRunner over an audio-free clips table with the
    native suite: a crash injected after the first of two batches, then
    the resume, into a fresh output warehouse per sample."""

    name = "runner_resume"
    n_rows = 20_000
    buckets = 8
    batch_buckets = 4
    crash_after = 1
    # no Arrow stage: every CPU is a task slot
    slots = 4
    # under C1 the second sample already costs what the later ones do
    warmup = 1

    def __init__(self, data_dir: str, seed: int):
        self.seed = seed
        self.root = os.path.join(data_dir, "runner_resume")
        self.clips = os.path.join(self.root, "clips")
        self.runs = os.path.join(self.root, "runs")
        self.k = 0
        self.expected = expected_counts(self.n_rows, seed, with_pcm_checks=False)

    def prepare(self) -> None:
        write_clips_table(self.clips, self.n_rows, self.seed, self.buckets, with_audio=False)

    def _fresh_warehouse(self):
        """An empty output warehouse whose ``clips`` table is the input;
        the previous sample's output is deleted first."""
        from pandasschema_spark.sources.warehouse import Warehouse

        shutil.rmtree(self.runs, ignore_errors=True)
        self.k += 1
        root = os.path.join(self.runs, "s{}".format(self.k))
        os.makedirs(root)
        os.symlink(self.clips, os.path.join(root, "clips"))
        return Warehouse(root)

    def sample(self, spark) -> dict:
        from pandasschema_spark.clips_suite import PUBLIC_COLUMNS, clips_schema
        from pandasschema_spark.runner import ValidationRunner
        from pandasschema_spark.sources.datagen import codec_dim

        wh = self._fresh_warehouse()
        t0 = time.perf_counter()
        schema = clips_schema(codec_dim(spark), seed=self.seed, with_pcm_checks=False)
        crashed = False
        try:
            ValidationRunner(wh, "bench", batch_buckets=self.batch_buckets).run(
                spark, schema, validate_columns=PUBLIC_COLUMNS,
                fail_after_batches=self.crash_after)
        except RuntimeError as exc:
            crashed = "injected failure" in str(exc)
            if not crashed:
                raise
        t1 = time.perf_counter()
        summary = ValidationRunner(wh, "bench", batch_buckets=self.batch_buckets).run(
            spark, schema, validate_columns=PUBLIC_COLUMNS)
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "crash": t1 - t0, "resume": t2 - t1,
                "clips": self.n_rows, "crashed": crashed, "summary": summary, "wh": wh}

    def check(self, spark, out: dict) -> bool:
        """Final violations equal the closed form and every bucket is
        committed once in the manifest (tests/test_resume.py's checks)."""
        from pyspark.sql import functions as F

        from pandasschema_spark.runner import ValidationRunner

        s = out["summary"]
        done = self.crash_after * self.batch_buckets
        if not (out["crashed"] and s["buckets_skipped_resume"] == done
                and s["buckets_validated"] == self.buckets - done and s["global_phase_ran"]):
            return False
        runner = ValidationRunner(out["wh"], "bench")
        counts = _by_key(runner.violations(spark).groupBy("check_id").count().collect())
        commits = {r["bucket"]: r["n"] for r in runner.manifest(spark)
                   .groupBy("bucket").agg(F.countDistinct("finished_at").alias("n")).collect()}
        return (counts == self.expected
                and set(commits) == set(range(self.buckets)) | {ValidationRunner.GLOBAL_BUCKET}
                and all(n == 1 for n in commits.values()))

    def trace_layers(self, spark, out, recs, spans, group) -> dict:
        layers = _common_layers(spark, recs, spans, group)
        batches = self.buckets // self.batch_buckets
        layers.update({
            "runner.crash_leg_s": out["crash"],
            "runner.resume_s": out["resume"],
            "runner.jobs": layers["spark.jobs"],
            "runner.jobs_per_batch": layers["spark.jobs"] / batches,
        })
        return layers

    def kernel_probes(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (ClipsFull, RunnerResume)}


def install_spans(spans) -> None:
    """Wrap the layer entry points the workloads call."""
    from pandasschema_spark.runner import ValidationRunner
    from pandasschema_spark.schema import Schema
    from pandasschema_spark.sources.warehouse import Warehouse

    spans.wrap(Schema, "validate", "schema.validate")
    for name in ("read", "overwrite_partitions", "append"):
        spans.wrap(Warehouse, name, "warehouse." + name)
    spans.wrap(ValidationRunner, "completed_buckets", "runner.listing")
    spans.wrap(ValidationRunner, "all_buckets", "runner.listing")


def _span_layers(spans) -> dict:
    return {
        "schema.validate_s": spans.seconds["schema.validate"],
        "schema.validate_calls": spans.calls["schema.validate"],
        "warehouse.read_s": spans.seconds["warehouse.read"],
        "warehouse.overwrite_partitions_s": spans.seconds["warehouse.overwrite_partitions"],
        "warehouse.append_s": spans.seconds["warehouse.append"],
        "runner.listing_s": spans.seconds["runner.listing"],
    }


def _common_layers(spark, recs, spans, group: str) -> dict:
    """Plan-walk, span and job-group numbers every workload reports."""
    layers = plan_layers(recs)
    layers.update(_span_layers(spans))
    counts = job_counts(spark.sparkContext, group)
    layers.update({"spark.jobs": counts["jobs"], "spark.stages": counts["stages"],
                   "spark.tasks": counts["tasks"]})
    return layers
