"""Benchmark of the validation engine on a 4-CPU host.

    python3 perfbench/run.py --workload clips_full --seed 7 --seconds 8 --trace 0

Writes the workload's input from the seed under ``.perfbench_data`` in the
checkout, starts one local Spark session sized for the workload, warms
up, then runs timed samples for ``--seconds`` seconds and
checks every sample's output. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A run record (per-sample walls and machine contention) is
printed on the line before it. Metric definitions are in NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

#: samples that may raise before a run gives up
MAX_RAISED = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(slots: int):
    """A local session with ``slots`` task slots whose scratch files stay
    inside the checkout."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (SparkSession.builder.master("local[{}]".format(slots))
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.shuffle.partitions", str(2 * slots))
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", tmp)
            .config("spark.sql.warehouse.dir", os.path.join(DATA, "spark-warehouse"))
            # a fixed, pre-touched heap: the JVM's share of the peak RSS
            # no longer depends on when G1 chose to grow the heap. C1
            # only: C2's compile work goes on for tens of samples and
            # swings the CPU of each by a third (NOTES.md). Compiler
            # threads that live as long as the JVM, so their CPU can be
            # read per thread and left out of cpu_s
            .config("spark.driver.extraJavaOptions",
                    "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                    "-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir=" + tmp)
            .getOrCreate())


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from measure import tree_pids

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


class Sampler:
    """Runs one workload's samples: timed, checked, and optionally traced."""

    def __init__(self, spark, workload, monitor):
        from measure import SqlMetrics

        self.spark = spark
        self.w = workload
        self.monitor = monitor
        self.sql = SqlMetrics(spark)
        self.k = 0
        self.records = []

    def run(self, spans=None) -> dict:
        """One sample. With ``spans``, the layer numbers read from its
        executed plans, job group and spans are kept under ``layers``."""
        from measure import persisted_rdds
        from workloads import WANTED

        sc = self.spark.sparkContext
        self.k += 1
        group = "perfbench-{}".format(self.k)
        sc.setJobGroup(group, group)
        pinned_before = set(persisted_rdds(sc))
        mark = self.sql.mark() if spans is not None else None
        if spans is not None:
            spans.reset()
        window = self.monitor.window_start()
        self.monitor.arm()
        try:
            out = self.w.sample(self.spark)
        finally:
            self.monitor.disarm()
        contention = self.monitor.window_end(window)
        # the engine's CPU: not the JIT's, nor the benchmark's own monitor's
        out["cpu"] = (contention["own_cpu_s"] - contention["jit_cpu_s"]
                      - contention["monitor_cpu_s"])
        if spans is not None:
            out["layers"] = self.w.trace_layers(
                self.spark, out, self.sql.since(mark, WANTED), spans, group)
        sc.setJobGroup("perfbench-check", "perfbench-check")
        out["ok"] = self.w.check(self.spark, out)
        # RDDs the sample left persisted are counted by id (a raw total
        # goes down when a sample frees an earlier one's leak), then freed
        # so one sample's leak does not slow the next
        leaked = {k: v for k, v in persisted_rdds(sc).items() if k not in pinned_before}
        self.spark.catalog.clearCache()
        for rdd in leaked.values():
            rdd.unpersist(False)
        out["pinned_rdds"] = len(leaked)
        if spans is not None:
            out["layers"]["spark.pinned_rdds"] = len(leaked)
            out["layers"]["jvm.jit_cpu_s"] = contention["jit_cpu_s"]
        self.records.append(dict(
            wall_s=round(out["wall"], 4), ok=out["ok"], traced=spans is not None,
            pinned_rdds=len(leaked), **{k: round(v, 2) for k, v in contention.items()}))
        return out


def measure(sampler, seconds: float, traced: bool):
    """Samples until ``seconds`` seconds have passed, and at least one
    sample of each kind was taken. With ``traced``, samples alternate with
    and without spans so the tracing overhead is read from one run."""
    from measure import Spans
    from workloads import install_spans

    spans = Spans() if traced else None
    outs, plain, raised = [], [], 0
    groups = (outs, plain) if traced else (outs,)
    start = time.perf_counter()
    while raised < MAX_RAISED and not (all(groups) and time.perf_counter() - start >= seconds):
        with_spans = traced and len(outs) < len(plain)
        if with_spans:
            install_spans(spans)
        try:
            out = sampler.run(spans if with_spans else None)
        except Exception as exc:  # a failed sample is counted, the run goes on
            print("sample failed: {!r}".format(exc), file=sys.stderr)
            raised += 1
            continue
        finally:
            if with_spans:
                spans.restore()
        (outs if with_spans or not traced else plain).append(out)
    return outs, plain, raised


def load_metric_units() -> tuple:
    """(end-to-end, per-layer) metric names with their units, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[key]} for key in ("end_to_end", "per_layer"))


def end_to_end(outs, setup_s: float, peak_bytes: int, units: dict) -> dict:
    from measure import MB

    values = {
        "cpu_s": statistics.median(o["cpu"] for o in outs),
        "setup_s": setup_s,
        "peak_rss_mb": peak_bytes / MB,
    }
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def per_layer(traced, plain, probes: dict, units: dict) -> dict:
    values = {k: statistics.median(o["layers"].get(k, 0.0) for o in traced) for k in units}
    values.update(probes)
    values["sample.wall_s"] = statistics.median(o["wall"] for o in plain)
    values["trace.overhead_pct"] = 100.0 * (
        statistics.median(o["cpu"] for o in traced)
        / statistics.median(o["cpu"] for o in plain) - 1.0)
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pandasschema_spark", "__init__.py")):
        print("perfbench: no pandasschema_spark package beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from measure import TreeMonitor, tree_cpu_s
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload {!r}; one of {}".format(
            args.workload, sorted(WORKLOADS)), file=sys.stderr)
        return 2
    end_to_end_units, per_layer_units = load_metric_units()
    os.makedirs(os.path.join(DATA, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    w = WORKLOADS[args.workload](DATA, args.seed)
    t0 = time.perf_counter()
    w.prepare()
    generate_s = time.perf_counter() - t0

    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    spark = start_spark(w.slots)
    monitor = TreeMonitor()
    try:
        sampler = Sampler(spark, w, monitor)
        for _ in range(w.warmup):
            sampler.run()
        setup_s = tree_cpu_s() - cpu0
        setup_wall_s = time.perf_counter() - t0
        monitor.reset()
        outs, plain, raised = measure(sampler, args.seconds, bool(args.trace))
        if args.trace:
            metrics = per_layer(outs, plain, w.kernel_probes(), per_layer_units)
        else:
            metrics = end_to_end(outs, setup_s, monitor.peak, end_to_end_units)
    finally:
        monitor.close()
        stop_spark(spark)
    warm, timed = sampler.records[:w.warmup], sampler.records[w.warmup:]
    failed = raised + sum(not r["ok"] for r in timed)
    print(json.dumps({"workload": w.name, "seed": args.seed, "slots": w.slots,
                      "generate_s": round(generate_s, 3), "setup_s": round(setup_s, 3),
                      "setup_wall_s": round(setup_wall_s, 3),
                      "peak_rss_mb_by_process": {k: round(v / 2 ** 20) for k, v in
                                                 monitor.peak_by_process.items()},
                      "warmup": warm, "samples": timed}))
    print(json.dumps({"correct": failed == 0 and all(r["ok"] for r in warm),
                      "attempted": len(timed) + raised, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
