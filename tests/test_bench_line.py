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
