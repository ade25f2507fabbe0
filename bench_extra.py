"""Round-7 optimization measurement harness (bench.py stays FROZEN).

Modes:
  python bench_extra.py plans [out_suffix]    -- capture explain("formatted")
      for every BENCH_QUERIES entry into plans/r07/<query>_<suffix>.txt
  python bench_extra.py time [rounds]         -- per-query count() timings
      (same methodology as bench.py's _query_phase: warm pass, interleaved
      rounds, median; /proc/stat steal recorded per sample) -> one JSON line
  python bench_extra.py clips [rounds]        -- time the headline clips
      suite (validate_clips + violations.count) on the bench warehouse,
      full width, plus a stage breakdown via noop sinks.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import (BENCH_QUERIES, SF_DIR, CPUS, make_session, warm_workers,
                   ensure_warehouse, run_clips_suite, warehouse_path,
                   N_CLIPS, _cpu_ticks, _median)


def _capture_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def mode_plans(suffix: str) -> None:
    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E
    from pandasschema_spark.resources import scope

    qs = E.queries()
    outdir = os.path.join(REPO, "plans", "r07")
    os.makedirs(outdir, exist_ok=True)
    for name in BENCH_QUERIES:
        t0 = time.time()
        with scope():
            plan = _capture_plan(qs[name](spark, SF_DIR))
        with open(os.path.join(outdir, "{}_{}.txt".format(name, suffix)), "w") as fh:
            fh.write(plan)
        print("{}: plan captured ({:.1f}s build)".format(name, time.time() - t0),
              file=sys.stderr)
    spark.stop()


def mode_time(rounds: int, only: list | None = None) -> None:
    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, CPUS)
    import __spark_entry__ as E
    from pandasschema_spark.resources import scope

    qs = E.queries()
    names = only or BENCH_QUERIES
    all_cpus = list(range(os.cpu_count() or CPUS))
    for name in names:  # warm pass
        with scope():
            qs[name](spark, SF_DIR).count()
    samples = {n: [] for n in names}
    for _ in range(rounds):
        for name in names:
            steal0, busy0 = _cpu_ticks(all_cpus)
            t0 = time.time()
            with scope():
                qs[name](spark, SF_DIR).count()
                sec = round(time.time() - t0, 3)
            steal1, busy1 = _cpu_ticks(all_cpus)
            tot = (busy1 - busy0) + (steal1 - steal0)
            samples[name].append({
                "sec": sec,
                "steal_pct": round(100.0 * (steal1 - steal0) / tot, 2) if tot else 0.0})
    spark.stop()
    out = {}
    for name, ss in samples.items():
        kept = [s["sec"] for s in ss if s["steal_pct"] <= 25]
        out[name] = round(_median(kept or [s["sec"] for s in ss]), 3)
    print(json.dumps({"queries": out, "samples": samples}))


def mode_clips(rounds: int) -> None:
    slots = max(CPUS // 2, 1)
    if not os.path.exists(os.path.join(warehouse_path(N_CLIPS), "_SUCCESS_CLIPS")):
        gen = make_session(CPUS)
        gen.sparkContext.setLogLevel("ERROR")
        ensure_warehouse(gen, N_CLIPS)
        gen.stop()
    spark = make_session(slots)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, slots)
    run_clips_suite(spark)  # warm
    times = []
    for _ in range(rounds):
        sec, viol = run_clips_suite(spark)
        times.append(round(sec, 3))
    print(json.dumps({"suite_sec": times, "median": _median(times),
                      "clips_per_sec": round(N_CLIPS / _median(times), 1),
                      "violations": viol, "slots": slots}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans":
        mode_plans(sys.argv[2] if len(sys.argv) > 2 else "before")
    elif mode == "time":
        only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
        mode_time(int(sys.argv[2]) if len(sys.argv) > 2 else 3, only)
    elif mode == "clips":
        mode_clips(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    else:
        raise SystemExit("unknown mode " + mode)
