"""bench.py's registry names and its one stdout line: every timed query
exists and has an oracle before the ~30-minute scaling phase starts, and
the line carries every per-query median within the size a last-line
reader is known to parse (789 bytes, r05's line)."""

import json

import __spark_entry__ as E
import bench

#: the largest stdout line known to have parsed (r05's)
MAX_LINE = 789


def test_bench_queries_are_registered_with_oracles():
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    assert [n for n in bench.BENCH_QUERIES if n not in qs] == []
    assert [n for n in bench.BENCH_QUERIES if n not in oracles] == []
    assert bench.BENCH_QUERIES[-3:] == [
        "dedup_image_ahash", "dedup_video_frames", "media_features"]


def _out(sec):
    return {
        "value": 61929.1, "sf": 0.1,
        "queries": {n: sec for n in bench.BENCH_QUERIES},
        "scaling": {
            "efficiency_n_to_4n": 0.858, "efficiency_from_medians": 0.851,
            "machine_parallel_capacity": {"median": 0.907},
            "steal_gate_exhausted": False, "overlapping_cpusets": False,
        },
    }


def test_compact_line_carries_every_query_within_budget():
    for sec in (0.036, 0.36, 6.7, 11.04):
        line = bench.compact_line(_out(sec))
        assert "\n" not in line
        assert len(line.encode()) <= MAX_LINE, (sec, len(line.encode()))
        parsed = json.loads(line)
        assert list(parsed["queries"]) == bench.BENCH_QUERIES
        assert len(parsed["queries"]) == 28
        assert parsed["value"] == 61929.1
        assert parsed["efficiency_n_to_4n"] == 0.858
    q = json.loads(bench.compact_line(_out(0.036)))["queries"]
    assert set(q.values()) == {0.04}
    q = json.loads(bench.compact_line(_out(11.04)))["queries"]
    assert set(q.values()) == {11.0}


def _leg(budget, slots, sec):
    return {"cpu_budget": budget, "task_slots": slots, "sec_median": sec,
            "clips_per_sec_median": round(60000 / sec, 1),
            "samples": [{"sec": sec, "steal_pct": 0.1}]}


def test_bench_md_states_the_host_it_ran_on(monkeypatch):
    """A 4-CPU host: legs of 1 and 2 CPUs with one task slot each, and
    an 8->32 probe whose budgets both clamp to 4 CPUs."""
    monkeypatch.setattr(bench, "CPUS", 32)
    out = dict(_out(0.5), n_clips=80000, cpu_budget=4, query_rounds=5,
               query_samples={n: {"kept": 5, "steal_gate_exhausted": False}
                              for n in bench.BENCH_QUERIES})
    out["scaling"].update({
        "n_cpus": _leg(1, 1, 30.7), "four_n_cpus": _leg(2, 1, 24.0),
        "warmup_round_discarded": {"n": {"sec": 36.7}, "four_n": {"sec": 24.1}},
        "per_round_efficiency": [0.629], "steal_gate_pct": 25.0,
        "rounds_kept": 1, "rounds_dropped_steal": [],
        "efficiency_vs_delivered": {"per_round": [0.65], "median": 0.65},
        "scale_clips": 60000, "probe_full_saturation_8_to_32": None,
    })
    out["scaling"]["machine_parallel_capacity"]["per_round"] = [0.962]
    md = bench.render_bench_md(out)
    assert "32-CPU width" not in md
    assert "headline leg at 4 CPUs, SPARK_GRAFT_CPUS=32 clamped" in md
    assert "N=4 -> 4N=16" not in md and "**Why N=1 -> 4N=2:**" in md
    assert "8->32 probe was **not measured**" in md
    assert "None" not in md.split("## Run history")[0]
    assert "measures no extra task parallelism" in md
    # distinct slot counts and a measured probe: neither caveat appears
    out["scaling"]["four_n_cpus"] = _leg(2, 2, 24.0)
    out["scaling"]["probe_full_saturation_8_to_32"] = 0.9
    md = bench.render_bench_md(out)
    assert "scales at **0.9** going 8->32" in md
    assert "not measured" not in md and "no extra task parallelism" not in md
