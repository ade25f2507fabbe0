"""Benchmark harness (driver contract + north_rule scaling evidence).

Headline metric (BASELINE.json): clips/sec validated — the FULL north-star
constraint suite including the decoded-PCM SNR>=30dB and transcript-oracle
Arrow-UDF checks, plus violation-row emission — over a materialized
parquet clips warehouse (the local stand-in for the Iceberg table).

north_rule scaling evidence: no real cluster exists in this sandbox, so
the two cluster sizes are proxied by running the SAME job on the SAME
input under two hard CPU budgets — default N=4 and 4N=16 of the 32
vCPUs. Each leg lives in a persistent child process pinned with
sched_setaffinity (the JVM and every Python worker inherit the mask) —
pinning matters because a `local[4]` session with Arrow UDFs otherwise
spills onto idle CPUs and silently inflates the small leg.

Why 4 vs 16 and not 8 vs 32: an ideal-scaling pure-CPU probe (pinned
burn processes — no shared state, no I/O, perfectly parallel) measures
0.98-1.04 efficiency going 4->16 CPUs on this VM but only 0.67-0.90
going 8->32 — saturating all 32 vCPUs hits a host-hypervisor ceiling
(SMT siblings / overcommit on the HOST, invisible in the guest where
lscpu reports 1 thread/core) that NO workload can exceed and that says
nothing about the engine's plan. Comparing 4 vs 16 keeps the host out of
the measurement; BOTH probe numbers are recorded with every run so the
ceiling stays visible, and a full-width 32-CPU leg still produces the
headline throughput.

Noise robustness (this VM shows episodic multi-minute co-tenant
slowdowns; round-1's official run lost 35% on the wide leg to one):
- legs are INTERLEAVED (N, 4N, N, 4N, ...): a slowdown burst degrades
  adjacent samples of both legs by the same factor, so their RATIO — the
  criterion — survives noise that would wreck either absolute number
- efficiency is computed PER ROUND from adjacent samples and the
  reported figure is the MEDIAN over rounds
- per-sample host-steal ticks (/proc/stat) are recorded, and a
  PRE-REGISTERED steal gate decides which rounds count: a round is
  dropped from the headline median when either of its two samples shows
  steal above SPARK_GRAFT_STEAL_GATE percent (default 25 — a burst that
  straddles only ONE leg of a round skews the ratio in a way
  interleaving cannot cancel; r2 measured per-round ratios of 0.32/0.61
  from 64-69% steal on the 4N sample alone). Dropped rounds are
  resampled (up to SPARK_GRAFT_MAX_EXTRA extras) and reported VERBATIM
  in the output — nothing is hidden, only pre-registeredly excluded
  from the median
- efficiency divides by the budgets the children ACTUALLY ran (clamped
  to os.cpu_count()), not the requested env value; legs that collapse
  (the wide one has no more task slots than the narrow one) abort the
  criterion with a warning instead of reporting a fake ratio

efficiency = (clips/s @ wide budget / clips/s @ narrow budget)
             / (wide budget / narrow budget),  target >= 0.8.

Results: the FULL result object goes to BENCH.json and BENCH.md (with a
run-history table persisted across rewrites via BENCH_history.jsonl);
stdout gets exactly ONE compact JSON line (compact_line: the headline,
the efficiency keys and every per-query median; 786 bytes for 28
queries at 4-character values, plus 53-81 when a stormy or overlap flag
is set) as the final line so a harness that reads only the last line
always parses it. r2's recorded result was `parsed: null` because the
multi-KB detailed object was printed as one stdout line and truncated;
789 bytes is r05's line, the largest one known to have parsed.

`python bench.py queries NAME [NAME ...]` runs only the per-query phase
on the named registry queries (same session, warm pass, rounds and
steal gate), prints one JSON line with their medians and samples, and
writes no result file.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32, the headline/full-width budget; the
       scaling legs run at CPUS/8 and CPUS/2),
     SPARK_GRAFT_CLIPS (headline clip count; default 8M*sf, min 80k),
     SPARK_GRAFT_SCALE_CLIPS (scaling-leg clip count; default 6M*sf, min
       60k — sized so the 4N=16-CPU leg runs ~19 s: the per-sample serial
       driver cost (~1.5 s: parquet listing + plan build + stage-tail
       barriers, measured by decomposition at 200k where it capped raw
       efficiency at ~0.79 = 0.91 engine-Amdahl x 0.91 host delivery)
       drops under 8% of the wide wall, lifting the engine-attributable
       ceiling to ~0.94, while the N=4-CPU leg stays ~70 s/sample so 5
       interleaved rounds still fit a ~10-minute scaling phase),
     SPARK_GRAFT_ROUNDS (default 5), SPARK_GRAFT_MAX_EXTRA (default 3),
     SPARK_GRAFT_SKIP_SCALING=1 to run only the headline leg.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import pandas as pd
from pyspark.sql import SparkSession, functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SCALE_WIDE = max(CPUS // 2, 2)   # 4N leg: half the machine — see module doc
SCALE_NARROW = max(CPUS // 8, 1)  # N leg
def _parse_sf(d: str) -> float:
    # robust: 'sf' may be absent or followed by non-numeric junk
    # ('/data/sf0.1_v2') — fall back to 0.1 with a stderr note instead
    # of a ValueError at import (probe_scaling imports this module)
    import re as _re

    m = _re.search(r"sf([0-9]+(?:\.[0-9]+)?)", d)
    if m:
        return float(m.group(1))
    print("bench: no scale factor in SPARK_GRAFT_SF_DIR={!r}; "
          "assuming sf=0.1 for sizing".format(d), file=sys.stderr)
    return 0.1


SF = _parse_sf(SF_DIR)
N_CLIPS = int(os.environ.get("SPARK_GRAFT_CLIPS", str(max(int(8_000_000 * SF), 80_000))))
SCALE_CLIPS = int(os.environ.get("SPARK_GRAFT_SCALE_CLIPS",
                                 str(max(int(6_000_000 * SF), 60_000))))
ROUNDS = int(os.environ.get("SPARK_GRAFT_ROUNDS", "5"))
MAX_EXTRA = int(os.environ.get("SPARK_GRAFT_MAX_EXTRA", "3"))
STEAL_GATE = float(os.environ.get("SPARK_GRAFT_STEAL_GATE", "25"))
Q_ROUNDS = int(os.environ.get("SPARK_GRAFT_QUERY_ROUNDS", "3"))


def warehouse_path(n_clips: int) -> str:
    return "/tmp/spark_graft_bench/clips_{}".format(n_clips)


WAREHOUSE = warehouse_path(N_CLIPS)  # headline; tools/probe_scaling.py uses it

#: representative per-operator queries timed at SF_DIR (seconds)
BENCH_QUERIES = [
    "val_inrange",
    "val_distinct",
    "val_referential",
    "val_crosscolumn",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_cosine_topk",
    "clips_validate",
    "events_sessionize",
    "val_quarantine",
    "sample_splits",
    "dedup_clusters",
    # round-4 additions (appended — earlier names keep r1-r3 comparability)
    "heavy_hitters",
    "outlier_zscore",
    # round-5 additions
    "reconcile_orders",
    "drift_chi2_by",
    "text_boilerplate",
    "dedup_canonical",
    "stats_format_mask",
    "fk_discovery",
    # round-6 additions: the heaviest composites (CC rounds / blocking /
    # multi-stage closed-form pipelines) so a regression in those paths
    # is visible per-round, per the r5 verdict
    "pipeline_corpus_curation",
    "pipeline_quota_sample",
    "pipeline_reconcile",
    "entity_resolution",
    # the row_map decode path (image hashes, video frames, media decode)
    "dedup_image_ahash",
    "dedup_video_frames",
    "media_features",
]


def make_session(cores: int) -> SparkSession:
    return (
        SparkSession.builder.master("local[{}]".format(cores))
        .appName("pandasschema-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # ~one scan task per warehouse file: the Arrow-UDF stage needs
        # fine-grained tasks for balance (32 fat tasks = straggler city)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )


def warm_workers(spark: SparkSession, cores: int) -> None:
    """Spin up the Python worker pool before timing: each task slot lazily
    forks a worker whose first Arrow batch pays the numpy/pandas import
    (~1-2 s); measured cold, a 32-slot pool front-loads ~30 s of imports
    into the first job and inverts the scaling signal."""

    @F.pandas_udf("long")
    def _touch(s: pd.Series) -> pd.Series:
        import numpy as _np  # noqa: F401

        return s

    spark.range(0, cores * 8, 1, cores * 8).select(_touch("id")).count()


def ensure_warehouse(spark: SparkSession, n_clips: int) -> None:
    """Materialize a deterministic clips table once (generation is not
    part of the measured validation time)."""
    path = warehouse_path(n_clips)
    marker = os.path.join(path, "_SUCCESS_CLIPS")
    if os.path.exists(marker):
        return
    from pandasschema_spark.sources.datagen import write_clips

    shutil.rmtree(path, ignore_errors=True)
    # 4 buckets per core -> scan tasks balance across 32 cores while each
    # file stays a single well-sized parquet (one file per bucket)
    write_clips(spark, path, n_clips, seed=42, with_audio=True,
                partitions=max(CPUS * 4, 64), bucket_count=max(CPUS * 4, 64))
    with open(marker, "w") as fh:
        fh.write(str(n_clips))


def run_clips_suite(spark: SparkSession, warehouse: str = WAREHOUSE) -> tuple[float, int]:
    """One full validation pass; returns (seconds, violation rows).
    Each pass rebuilds the DataFrame from scratch so Spark cannot reuse
    shuffle map outputs or broadcast futures across repeats — every timed
    sample pays the entire job, planning included."""
    from pandasschema_spark.clips_suite import validate_clips
    from pandasschema_spark.sources.datagen import codec_dim

    df = spark.read.parquet(warehouse)
    t0 = time.time()
    res = validate_clips(df, codec_dim(spark), with_pcm_checks=True, row_key="row_ord")
    n_viol = res.violations.count()
    return time.time() - t0, n_viol


# ---------------------------------------------------------------------------
# leg server (child mode): persistent pinned session, one sample per "run"
# ---------------------------------------------------------------------------


def task_slots(budget: int) -> int:
    """Task slots of a leg pinned to ``budget`` CPUs: budget/2, at least 1.
    Every Arrow-UDF task is a JVM-thread + Python-worker PAIR, so
    `local[budget]` would put 2x budget runnable threads on the pinned
    CPUs — measured 3x slower from scheduler thrash. Same rule as
    spark.task.cpus=2 for UDF-heavy stages on a real cluster."""
    return max(budget // 2, 1)


def legs_collapsed(narrow, wide) -> bool:
    """True when the wide scaling leg has no more task slots than the
    narrow one: their ratio then measures no extra parallelism (a 4-CPU
    host gives legs of 1 and 2 CPUs, one slot each), so the scaling
    criterion is omitted rather than reported. Slots grow with the CPU
    budget, so this covers equal budgets too."""
    return wide.slots <= narrow.slots


def leg_server(budget: int, n_clips: int) -> None:
    first = int(os.environ.get("SPARK_GRAFT_LEG_FIRST_CPU", "0"))
    os.sched_setaffinity(0, range(first, first + budget))  # defensive; preexec_fn set it too
    warehouse = warehouse_path(n_clips)
    slots = task_slots(budget)
    spark = make_session(slots)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, slots)
    run_clips_suite(spark, warehouse)  # untimed: heap growth + Arrow warm-up
    print(json.dumps({"ready": True, "budget": budget, "slots": slots}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "run":
            sec, viol = run_clips_suite(spark, warehouse)
            print(json.dumps({"sec": round(sec, 3), "violations": viol}), flush=True)
        elif cmd == "quit":
            break
    spark.stop()


class Leg:
    """Parent-side handle on a pinned leg server.

    ``first_cpu`` places the leg on an explicit cpuset so two live legs
    never overlap: with overlapping sets (narrow 0-3 inside wide 0-15)
    the idle leg's resident JVM background threads (GC, heartbeats,
    python worker daemons) run inside the sampling leg's cpuset and
    systematically deflate its samples."""

    def __init__(self, budget: int, n_clips: int, first_cpu: int = 0):
        total = os.cpu_count() or budget
        self.budget = min(budget, total)
        self.overlapping = False
        if first_cpu + self.budget > total:
            # not enough cores for disjoint sets: overlap — but SAY SO,
            # because the overlapped idle JVM deflates the sampling leg
            # and the resulting efficiency must not be read as clean
            first_cpu = 0
            self.overlapping = True
            print("WARNING: host has {} CPUs; leg budget {} cannot be "
                  "placed disjointly — cpusets OVERLAP and the idle leg's "
                  "JVM pollutes the sampling leg (efficiency will read "
                  "deflated; flagged as overlapping_cpusets in the "
                  "output)".format(total, self.budget), file=sys.stderr)
        self.n_clips = n_clips
        env = dict(os.environ, SPARK_GRAFT_LEG_SERVER=str(self.budget),
                   SPARK_GRAFT_LEG_CLIPS=str(n_clips),
                   SPARK_GRAFT_LEG_FIRST_CPU=str(first_cpu))
        cpuset = range(first_cpu, first_cpu + self.budget)
        self.cpus = list(cpuset)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            preexec_fn=lambda: os.sched_setaffinity(0, cpuset),
        )
        self.samples: list[dict] = []

    def _read_json(self) -> dict:
        for line in self.proc.stdout:
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)
        raise RuntimeError("leg {} died (rc={})".format(self.budget, self.proc.poll()))

    def wait_ready(self) -> None:
        msg = self._read_json()
        assert msg.get("ready"), msg
        self.slots = msg["slots"]

    def sample(self) -> dict:
        steal0, busy0 = _cpu_ticks(self.cpus)
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        out = self._read_json()
        steal1, busy1 = _cpu_ticks(self.cpus)
        tot = (busy1 - busy0) + (steal1 - steal0)
        out["steal_pct"] = round(100.0 * (steal1 - steal0) / tot, 2) if tot else 0.0
        out["clips_per_sec"] = round(self.n_clips / out["sec"], 1)
        self.samples.append(out)
        return out

    def stop(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def _calib_worker(ncpu: int, dur: float, out, idx: int, first_cpu: int = 0) -> None:
    os.sched_setaffinity(0, range(first_cpu, first_cpu + ncpu))
    t_end = time.time() + dur
    n = 0
    x = 1.0
    while time.time() < t_end:
        for _ in range(100_000):
            x = x * 1.0000001 + 1e-9
        n += 1
    out[idx] = n


def calibrate(ncpu: int, dur: float = 3.0, first_cpu: int = 0) -> float:
    """Ideal-scaling probe: total arithmetic loop iterations achieved by
    ``ncpu`` pinned burn processes in ``dur`` seconds. A perfectly
    parallel workload — any shortfall from linear N->4N scaling measured
    THROUGH THIS PROBE is hypervisor overcommit / steal, not the engine.
    Run per round (on the same cpuset as the leg it normalizes) so the
    calibration is contemporaneous with the samples."""
    import multiprocessing as mp

    out = mp.Array("d", ncpu)
    procs = [mp.Process(target=_calib_worker, args=(ncpu, dur, out, i, first_cpu))
             for i in range(ncpu)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    return float(sum(out))


def _cpu_ticks(cpus: list[int]) -> tuple[int, int]:
    """(steal_ticks, busy_ticks) summed over the given CPUs."""
    want = {"cpu{}".format(c) for c in cpus}
    steal = busy = 0
    with open("/proc/stat") as fh:
        for line in fh:
            parts = line.split()
            if parts and parts[0] in want:
                vals = list(map(int, parts[1:]))
                # user nice system idle iowait irq softirq steal [guest...]
                steal += vals[7] if len(vals) > 7 else 0
                busy += vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
    return steal, busy


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _check_names(names) -> None:
    """Refuse names outside __spark_entry__.queries() before any session
    starts (a typo would otherwise surface after the scaling phase)."""
    import __spark_entry__ as E

    unknown = [n for n in names if n not in E.queries()]
    if unknown or not names:
        raise SystemExit("bench: not in __spark_entry__.queries(): {}".format(
            ", ".join(unknown) or "(no query named)"))


def _query_phase(names):
    """Per-query timings of ``names`` on a fresh full-width session.
    Same weather discipline as the headline: Q_ROUNDS timed samples per
    query with per-sample /proc/stat steal, median over samples at-or-
    under the pre-registered steal gate — single-shot per-query numbers made
    round-over-round comparisons weather-bound (r4 read 2-4x r3 across
    the board purely from co-tenant bursts while the gated headline
    IMPROVED 20%)."""
    spark = make_session(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark, CPUS)
    import __spark_entry__ as E

    from pandasschema_spark.resources import scope

    qs = E.queries()
    all_cpus = list(range(os.cpu_count() or CPUS))
    for name in names:  # warm pass: parquet footers, codegen, plans
        with scope():  # each invocation pins fresh persists
            qs[name](spark, SF_DIR).count()
    q_samples = {name: [] for name in names}
    for _ in range(Q_ROUNDS):
        for name in names:
            steal0, busy0 = _cpu_ticks(all_cpus)
            t0 = time.time()
            with scope():
                qs[name](spark, SF_DIR).count()
                sec = round(time.time() - t0, 3)
            steal1, busy1 = _cpu_ticks(all_cpus)
            tot = (busy1 - busy0) + (steal1 - steal0)
            q_samples[name].append({
                "sec": sec,
                "steal_pct": round(100.0 * (steal1 - steal0) / tot, 2) if tot else 0.0,
            })
    spark.stop()
    q_times = {}
    q_detail = {}
    for name, samples in q_samples.items():
        kept = [s["sec"] for s in samples if s["steal_pct"] <= STEAL_GATE]
        stormy = not kept
        q_times[name] = round(_median(kept or [s["sec"] for s in samples]), 3)
        q_detail[name] = {"samples": samples, "kept": len(kept),
                          "steal_gate_exhausted": stormy}
    return q_times, q_detail


def main() -> None:
    leg_budget = os.environ.get("SPARK_GRAFT_LEG_SERVER")
    if leg_budget:
        leg_server(int(leg_budget), int(os.environ.get("SPARK_GRAFT_LEG_CLIPS", N_CLIPS)))
        return
    if sys.argv[1:2] == ["queries"]:
        _check_names(sys.argv[2:])
        q_times, q_detail = _query_phase(sys.argv[2:])
        print(json.dumps({"queries": q_times, "samples": q_detail}))
        return
    if sys.argv[1:]:
        raise SystemExit("usage: python bench.py [queries NAME [NAME ...]]")
    _check_names(BENCH_QUERIES)

    skip_scaling = os.environ.get("SPARK_GRAFT_SKIP_SCALING") == "1"

    # warehouse generation in its own full-width session: no measured
    # sample pays generation cost
    need = [N_CLIPS] + ([] if skip_scaling else [SCALE_CLIPS])
    if any(not os.path.exists(os.path.join(warehouse_path(n), "_SUCCESS_CLIPS"))
           for n in need):
        gen = make_session(CPUS)
        gen.sparkContext.setLogLevel("ERROR")
        for n in need:
            ensure_warehouse(gen, n)
        gen.stop()

    # headline leg: full machine width on the big warehouse
    head = Leg(CPUS, N_CLIPS)
    head.wait_ready()
    head.sample()  # discarded: first-sample GC/worker-reap effect
    counted = [head.sample() for _ in range(3)]  # best-of-3: a co-tenant
    head.stop()                                  # burst can span 2 samples
    best_wide = max(h["clips_per_sec"] for h in counted)
    suite_sec = min(h["sec"] for h in counted)

    scaling = None
    if not skip_scaling:
        # disjoint cpusets: wide on [0, W), narrow on [W, W+N) — the idle
        # leg's resident JVM must not run inside the sampling leg's set
        wide = Leg(SCALE_WIDE, SCALE_CLIPS, first_cpu=0)
        narrow = Leg(SCALE_NARROW, SCALE_CLIPS, first_cpu=wide.budget)
        narrow.wait_ready()
        wide.wait_ready()
        if legs_collapsed(narrow, wide):
            print("WARNING: CPU budgets collapsed ({} vs {} CPUs, {} vs {} "
                  "task slots); scaling criterion not measurable on this "
                  "host — omitting it rather than reporting a fake "
                  "ratio".format(narrow.budget, wide.budget,
                                 narrow.slots, wide.slots), file=sys.stderr)
            narrow.stop()
            wide.stop()
            skip_scaling = True
    if not skip_scaling:
        ratio = wide.budget / narrow.budget
        probe_lo, probe_hi = (min(n, os.cpu_count() or n) for n in (8, 32))
        # one discarded warm ROUND: the first timed sample after the warm-up
        # +idle gap runs 20-400% slow in BOTH children (post-warm-up GC /
        # reaped python workers — measured at ~0% host steal, so it is
        # process-local, not co-tenant noise) and would poison round 1
        warmup = {"n": narrow.sample(), "four_n": wide.sample()}
        narrow.samples.clear()
        wide.samples.clear()
        round_log = []  # every round, kept AND dropped, verbatim
        rounds = 0
        t_scaling0 = time.time()
        while rounds < ROUNDS + MAX_EXTRA:
            ns = narrow.sample()
            ws = wide.sample()
            eff = round((ws["clips_per_sec"] / ns["clips_per_sec"]) / ratio, 3)
            # contemporaneous ideal-scaling calibration: how much of a 4x
            # CPU grant does the hypervisor actually deliver right now?
            # (each probe runs on the SAME cpuset as the leg it normalizes)
            c_n = calibrate(narrow.budget, first_cpu=narrow.cpus[0])
            c_w = calibrate(wide.budget, first_cpu=wide.cpus[0])
            calib = round((c_w / c_n) / ratio, 3)
            norm = round(min(eff / calib, 1.0), 3)
            rounds += 1
            # PRE-REGISTERED steal gate (see module doc): a co-tenant
            # burst that straddles only one leg of a round skews the
            # ratio in a way interleaving cannot cancel — drop the round
            # from the headline median, resample, report it verbatim
            worst = max(ns["steal_pct"], ws["steal_pct"])
            kept = worst <= STEAL_GATE
            round_log.append({
                "round": rounds, "n": ns, "four_n": ws,
                "efficiency": eff, "probe_efficiency": calib,
                "efficiency_vs_delivered": norm, "kept": kept,
                "dropped_reason": None if kept else
                "steal {}% > gate {}%".format(worst, STEAL_GATE),
            })
            n_kept = sum(1 for r in round_log if r["kept"])
            if n_kept >= ROUNDS:
                break
            if time.time() - t_scaling0 > 1500:  # wall-clock cap on extras
                break
        narrow.stop()
        wide.stop()
        kept_rounds = [r for r in round_log if r["kept"]]
        gate_exhausted = not kept_rounds
        if gate_exhausted:  # whole window stormy: report all, flag it
            kept_rounds = round_log
        effs = [r["efficiency"] for r in kept_rounds]
        calib_effs = [r["probe_efficiency"] for r in kept_rounds]
        norm_effs = [r["efficiency_vs_delivered"] for r in kept_rounds]
        med_n = _median([r["n"]["clips_per_sec"] for r in kept_rounds])
        med_w = _median([r["four_n"]["clips_per_sec"] for r in kept_rounds])
        scaling = {
            "n_cpus": {
                "cpu_budget": narrow.budget, "task_slots": narrow.slots,
                "sec_median": _median([r["n"]["sec"] for r in kept_rounds]),
                "clips_per_sec_median": med_n,
                "samples": narrow.samples,  # ALL samples incl. dropped rounds
            },
            "four_n_cpus": {
                "cpu_budget": wide.budget, "task_slots": wide.slots,
                "sec_median": _median([r["four_n"]["sec"] for r in kept_rounds]),
                "clips_per_sec_median": med_w,
                "samples": wide.samples,
            },
            "warmup_round_discarded": warmup,
            "steal_gate_pct": STEAL_GATE,
            "rounds_kept": len(kept_rounds) if not gate_exhausted else 0,
            "rounds_dropped_steal": [r for r in round_log if not r["kept"]],
            "steal_gate_exhausted": gate_exhausted,
            "overlapping_cpusets": bool(narrow.overlapping or wide.overlapping),
            "per_round_efficiency": effs,
            # a fully-stormy window must not masquerade as a gated figure:
            # the headline efficiency keys go null and the contaminated
            # fallback moves to *_stormy (still reported verbatim)
            "efficiency_n_to_4n": (None if gate_exhausted
                                   else round(_median(effs), 3)),
            "efficiency_from_medians": (None if gate_exhausted
                                        else round((med_w / med_n) / ratio, 3)),
            "efficiency_stormy": (round(_median(effs), 3)
                                  if gate_exhausted else None),
            "efficiency_from_medians_stormy": (
                round((med_w / med_n) / ratio, 3) if gate_exhausted else None),
            "machine_parallel_capacity": {
                "per_round": calib_effs,
                "median": round(_median(calib_effs), 3),
                "what": ("ideal-scaling pinned CPU-burn probe run each round: "
                         "(work @ wide budget / work @ narrow budget) / budget "
                         "ratio. 1.0 = the host delivers the full 4x grant; "
                         "below 1.0 = hypervisor overcommit, a ceiling no "
                         "workload on this VM can exceed"),
            },
            "efficiency_vs_delivered": {
                "per_round": norm_effs,
                "median": round(_median(norm_effs), 3),
                "what": ("per-round suite efficiency / same-round ideal-probe "
                         "efficiency (capped at 1.0): the engine's scaling "
                         "against the CPU capacity the host actually delivered"),
            },
            "scale_clips": SCALE_CLIPS,
            # null when this host clamps 8 and 32 to the same CPU count:
            # a probe of N CPUs against N CPUs measures nothing
            "probe_full_saturation_8_to_32": (
                None if probe_lo == probe_hi else round(
                    (calibrate(probe_hi) / calibrate(probe_lo))
                    / (probe_hi / probe_lo), 3)),
            "criterion": ">=0.8 (north_rule)",
            "method": (
                "same job, same input; two persistent subprocesses hard-pinned "
                "via sched_setaffinity to {} and {} CPUs (see module doc: "
                "saturating all 32 vCPUs hits a host-SMT ceiling measured by "
                "probe_full_saturation_8_to_32 even for ideal code), samples "
                "interleaved N,4N per round; efficiency = median over KEPT "
                "rounds of (thr_4N/thr_N)/({}); pre-registered steal gate: a "
                "round is dropped (and resampled, reported verbatim) when "
                "either leg's /proc/stat steal exceeds {}%"
            ).format(narrow.budget, wide.budget, ratio, STEAL_GATE),
        }
        viols = {s["violations"] for s in narrow.samples + wide.samples}
        assert len(viols) == 1, "legs disagree on violation count: {}".format(viols)

    # per-query timings — guarded: one query exception must not destroy
    # the ~30-minute scaling measurement collected above (everything is
    # still persisted with queries = {} + a query_phase_error note)
    try:
        q_times, q_detail = _query_phase(BENCH_QUERIES)
        q_err = None
    except Exception as ex:  # noqa: BLE001 — persist what we measured
        q_times, q_detail = {}, {}
        q_err = "{}: {}".format(type(ex).__name__, str(ex)[:300])
        print("bench: per-query phase failed ({}) — scaling results "
              "persisted regardless".format(q_err), file=sys.stderr)


    out = {
        "metric": "clips/sec validated (full constraint suite incl. PCM SNR + transcript oracle + violation emission)",
        "value": best_wide,
        "unit": "clips/sec",
        "cpu_budget": head.budget,
        "suite_sec": suite_sec,
        "n_clips": N_CLIPS,
        "queries": q_times,
        "query_rounds": Q_ROUNDS,
        "query_steal_gate_pct": STEAL_GATE,
        "query_samples": q_detail,
        "sf": SF,
    }
    if q_err:
        out["query_phase_error"] = q_err
    if scaling is not None:
        out["scaling"] = scaling
        append_history(out)
        write_bench_md(out)
    # full detail -> BENCH.json (machine-readable, no size limit)
    with open(os.path.join(REPO, "BENCH.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(compact_line(out))


def compact_line(out: dict) -> str:
    """The one stdout line a last-line reader parses: the headline,
    the efficiency keys and every per-query median, within the 789 bytes
    of r05's line, the largest one known to have parsed (r2's multi-KB
    line came back as `parsed: null`). Compact separators; query seconds
    keep 2 decimals under 1 s and 1 decimal above; everything else stays
    in BENCH.json. With 28 queries at 4-character values a flag-free
    line is 786 bytes; the stormy/overlap flags add 53-81 bytes."""
    compact = {
        "metric": "clips/s",
        "value": out["value"],
        "sf": out["sf"],
    }
    s = out.get("scaling")
    if s is not None:
        compact.update({
            "efficiency_n_to_4n": s["efficiency_n_to_4n"],
            "efficiency_from_medians": s["efficiency_from_medians"],
            "probe_median": s["machine_parallel_capacity"]["median"],
        })
        if s.get("steal_gate_exhausted"):
            compact["steal_gate_exhausted"] = True
            compact["efficiency_stormy"] = s.get("efficiency_stormy")
        if s.get("overlapping_cpusets"):
            compact["overlapping_cpusets"] = True
    if out.get("query_phase_error"):
        compact["query_phase_error"] = out["query_phase_error"]
    compact["queries"] = {k: round(v, 2 if v < 1 else 1)
                          for k, v in out["queries"].items()}
    return json.dumps(compact, separators=(",", ":"))


def append_history(out: dict) -> None:
    """One JSON line per run in BENCH_history.jsonl — the durable record
    the BENCH.md run-history table is rendered from, so a full BENCH.md
    rewrite (every run does one) can never wipe past results again
    (r2's driver run silently erased the hand-maintained table)."""
    s = out["scaling"]
    rec = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "headline_clips_per_sec": out["value"],
        "efficiency_n_to_4n": s["efficiency_n_to_4n"],
        "efficiency_from_medians": s["efficiency_from_medians"],
        "probe_median": s["machine_parallel_capacity"]["median"],
        "rounds_kept": s["rounds_kept"],
        "rounds_dropped_steal": len(s["rounds_dropped_steal"]),
        "max_steal_pct": max(
            [x["steal_pct"] for x in s["n_cpus"]["samples"]
             + s["four_n_cpus"]["samples"]] or [0.0]),
        "scale_clips": s["scale_clips"],
        # suite marker: BENCH_QUERIES grows append-only across rounds, so
        # per-query rows are comparable but the suite ISN'T literally
        # identical between records — this disambiguates after the fact
        "n_bench_queries": len(BENCH_QUERIES),
    }
    with open(os.path.join(REPO, "BENCH_history.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def render_history() -> str:
    path = os.path.join(REPO, "BENCH_history.jsonl")
    if not os.path.exists(path):
        return ""
    rows = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    md = ["## Run history (persisted in BENCH_history.jsonl; the headline "
          "SUITE grows append-only across rounds — the n_q column says how "
          "many per-query entries BENCH_QUERIES had for that record, so "
          "rows with different n_q are not workload-identical)",
          "",
          "| when / window | headline clips/s | n_q | N->4N eff (median kept "
          "rounds) | ratio-of-medians | probe | rounds kept / dropped "
          "| max steal |",
          "|---|---|---|---|---|---|---|---|"]
    def _v(r, k):
        x = r.get(k)
        return "—" if x is None else x

    for r in rows:
        md.append("| {} | {:,.0f} | {} | {} | {} | {} | {} / {} | {}% |".format(
            r.get("ts") or r.get("note", "?"), r["headline_clips_per_sec"],
            _v(r, "n_bench_queries"),
            _v(r, "efficiency_n_to_4n"), _v(r, "efficiency_from_medians"),
            _v(r, "probe_median"), _v(r, "rounds_kept"),
            _v(r, "rounds_dropped_steal"), _v(r, "max_steal_pct")))
    md.append("")
    md.append("The headline number tracks co-tenant load; the efficiency "
              "criterion is the per-run gate.")
    return "\n".join(md) + "\n"


def render_bench_md(out: dict) -> str:
    """BENCH.md's text for a full run's result object. The CPU counts in
    the prose are the ones this run's legs actually had (budgets clamped
    to the host's cores), not the 32-CPU defaults."""
    s = out["scaling"]
    n_leg, w_leg = s["n_cpus"], s["four_n_cpus"]

    def leg_rows(leg):
        return " / ".join("{}s ({}% steal)".format(x["sec"], x["steal_pct"])
                          for x in leg["samples"])

    head = "{} CPUs".format(out["cpu_budget"])
    if out["cpu_budget"] != CPUS:
        head += ", SPARK_GRAFT_CPUS={} clamped to this host's cores".format(CPUS)
    sat = s["probe_full_saturation_8_to_32"]
    if sat is None:
        probe = """The 8->32 probe was **not measured** on this host: both of
its budgets clamp to the same CPU count, so
`probe_full_saturation_8_to_32` is null. The per-round probe below
still measures the legs' own {c8}->{c32} grant."""
    else:
        probe = """An ideal-scaling pure-CPU probe (pinned burn processes,
perfectly parallel, no I/O) scales at **{sat}** going 8->32 (this run's
measurement); where it reads well below 1.0, saturating the whole
machine hits a host-SMT/overcommit ceiling that is invisible in the
guest, applies to ANY workload, and says nothing about the engine.
Half the machine keeps the host out of the ratio; the probe numbers
below keep the ceiling visible."""

    return """# BENCH — measured throughput + scaling efficiency

Headline: **{v:,.0f} clips/sec** (headline leg at {head}; best of 3
counted samples) — full north-star constraint suite (pattern/range/in-list/
non-null/referential/salted-uniqueness checks, decoded-PCM SNR>=30dB +
transcript equality vs the synthesis oracle via Arrow-batched pandas
UDFs, violation-row emission) over a {n:,}-clip parquet warehouse
(~7 KB PCM/clip).

## north_rule scaling criterion (N -> 4N, sandbox proxy)

No real cluster exists in this sandbox; the two cluster sizes are proxied
by running the SAME job on the SAME input (a {sc:,}-clip warehouse) under
two hard CPU budgets — each leg a persistent subprocess pinned with
`sched_setaffinity` to a DISJOINT cpuset (narrow leg placed above the
wide leg's range) so the JVM and all Python workers together get exactly
N CPUs and the idle leg's resident JVM never runs inside the sampling
leg's set (an unpinned `local[4]` with Arrow UDFs would silently use ~8
CPUs and fake the baseline fast).

**Why N={c8} -> 4N={c32}:** the legs run at SPARK_GRAFT_CPUS/8 and /2 (at
least 1 and 2 CPUs), clamped to this host's cores. {probe}

This VM shows episodic multi-minute co-tenant slowdowns, so the legs are
**interleaved** (N, 4N, N, 4N, ...): a burst degrades adjacent samples of
both legs by the same factor and cancels out of their ratio. Efficiency
is computed per round from adjacent samples; the reported figure is the
**median over KEPT rounds**, where a pre-registered steal gate drops a
round when either leg's /proc/stat steal exceeds **{gate}%** (a burst
that straddles only ONE leg of a round skews the ratio in a way
interleaving cannot cancel — r2 measured per-round ratios of 0.32/0.61
from 64-69% steal on the 4N sample alone). Dropped rounds are resampled
(bounded extras) and listed verbatim below — nothing is hidden, only
pre-registeredly excluded from the median. One warm
ROUND precedes the counted ones (discarded, listed below): the first
timed sample after the warm-up+idle gap runs 20-400% slow in both
children at ~0% host steal (process-local GC / worker-reap effects, not
engine scaling).

Warm round (discarded): N {wu_n}s, 4N {wu_w}s.

| leg | CPU budget | task slots | median wall | median clips/s | samples (sec @ steal) |
|---|---|---|---|---|---|
| N | {c8} | {sl8} | {t8}s | {p8:,.0f} | {r8} |
| 4N | {c32} | {sl32} | {t32}s | {p32:,.0f} | {r32} |

Per-round efficiency (kept rounds): {effs}
Rounds kept: {kept}; dropped by steal gate: {dropped}{dropped_detail}

**Scaling efficiency (N -> 4N): {eff}** (criterion: >= 0.8;
ratio-of-medians cross-check: {eff2})

efficiency = (clips/s @ {c32} CPUs / clips/s @ {c8} CPUs) / ({c32}/{c8})
— divisor taken from the budgets the legs actually ran, clamped to this
machine's cores.

### Host-capacity calibration

Alongside each round, an ideal-scaling probe ({c32}/{c8} pinned pure-CPU
burn processes, no shared state, no I/O) measures how much of the
{c32}-vs-{c8} CPU grant the hypervisor actually delivers — a ceiling NO
workload on this VM can exceed, engine-independent by construction:

- ideal-probe N->4N efficiency per round: {calibs} (median **{calib}**)
- suite efficiency / same-round probe efficiency: {norms}
  (median **{norm}**) — the engine's scaling against the CPU capacity
  actually delivered

When the probe itself reads below 0.8, the raw criterion is bounded by
host overcommit rather than by anything in the engine's plan; the
normalized figure is the engine-attributable scaling.

## Per-operator timings at sf={sf} ({dir})

Median over {qr} interleaved samples per query; a sample is kept when
full-width /proc/stat steal during it stays <= {gate}% (same
pre-registered gate as the scaling rounds). kept=0 falls back to the
median of all samples and flags the row stormy.

| query | sec (median of kept) | kept samples |
|---|---|---|
{rows}

{history}""".format(
        v=out["value"], n=out["n_clips"], head=head,
        sc=s["scale_clips"],
        probe=probe.format(sat=sat, c8=n_leg["cpu_budget"], c32=w_leg["cpu_budget"]),
        c8=n_leg["cpu_budget"], sl8=n_leg["task_slots"],
        t8=n_leg["sec_median"], p8=n_leg["clips_per_sec_median"],
        r8=leg_rows(n_leg),
        c32=w_leg["cpu_budget"], sl32=w_leg["task_slots"],
        t32=w_leg["sec_median"], p32=w_leg["clips_per_sec_median"],
        r32=leg_rows(w_leg),
        wu_n=s["warmup_round_discarded"]["n"]["sec"],
        wu_w=s["warmup_round_discarded"]["four_n"]["sec"],
        effs=s["per_round_efficiency"],
        gate=s["steal_gate_pct"],
        kept=s["rounds_kept"],
        dropped=len(s["rounds_dropped_steal"]),
        dropped_detail=("" if not s["rounds_dropped_steal"] else
                        " — " + "; ".join(
                            "round {}: eff {} ({})".format(
                                r["round"], r["efficiency"], r["dropped_reason"])
                            for r in s["rounds_dropped_steal"])) +
                       ("\n**ALL rounds exceeded the steal gate — the window "
                        "was stormy end-to-end; the figures above fall back "
                        "to all rounds and should be read with the probe "
                        "normalization.**" if s.get("steal_gate_exhausted")
                        else "") +
                       ("\n**WARNING: cpusets overlapped on this host — "
                        "efficiency reads deflated.**"
                        if s.get("overlapping_cpusets") else ""),
        # gate-exhausted runs carry None in the kept-round fields by
        # design — render the stormy fallback figures (clearly labeled)
        # instead of the literal 'None' on the criterion line
        eff=(s["efficiency_n_to_4n"] if s["efficiency_n_to_4n"] is not None
             else "{} (STORMY fallback — all rounds over the steal gate)"
             .format(s.get("efficiency_stormy"))),
        eff2=(s["efficiency_from_medians"]
              if s["efficiency_from_medians"] is not None
              else s.get("efficiency_from_medians_stormy")),
        calibs=s["machine_parallel_capacity"]["per_round"],
        calib=s["machine_parallel_capacity"]["median"],
        norms=s["efficiency_vs_delivered"]["per_round"],
        norm=s["efficiency_vs_delivered"]["median"],
        sf=out["sf"], dir=SF_DIR, qr=out["query_rounds"],
        rows="\n".join(
            "| {} | {} | {}/{}{} |".format(
                k, v, out["query_samples"][k]["kept"], out["query_rounds"],
                " (stormy)" if out["query_samples"][k]["steal_gate_exhausted"]
                else "")
            for k, v in out["queries"].items()),
        history=render_history(),
    )


def write_bench_md(out: dict) -> None:
    with open(os.path.join(REPO, "BENCH.md"), "w") as fh:
        fh.write(render_bench_md(out))


if __name__ == "__main__":
    main()
