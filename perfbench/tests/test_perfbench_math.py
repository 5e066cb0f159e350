"""Tests for the benchmark's own arithmetic and checks (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import procstat  # noqa: E402
import sparkrest  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# -- tail percentile -------------------------------------------------------


def test_tail_is_median_below_twenty_samples():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.tail(xs) == (3.0, 50, 5)
    assert stats.tail([float(i) for i in range(19)]) == (9.0, 50, 19)


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 1..30
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (20.0, 66, 30)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_rises_with_samples():
    value, pct, n = stats.tail([float(i) for i in range(1, 1001)])
    assert (value, pct, n) == (990.0, 99, 1000)
    assert stats.tail([]) == (0.0, 0, 0)


# -- span self time --------------------------------------------------------


def _span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0), _span(3, 1, 1.5, 2.5)]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_unions_overlapping_children_and_clips_to_parent():
    # two children on different threads overlap; one runs past its parent
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0), _span(3, 0, 9.0, 12.0)]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_of():
    assert stats.layer_of("functions.text.tokenize") == "functions"
    assert stats.layer_of("spark.exec") == "spark"


# -- cpu_util and failed_frac ----------------------------------------------


def test_cpu_util():
    assert stats.cpu_util(6.0, 2.0, 4.0, 4) == pytest.approx(0.5)
    assert stats.cpu_util(1.0, 0.0, 0.0, 4) == 0.0


def test_failed_frac():
    assert stats.failed_frac(0, 12) == 0.0
    assert stats.failed_frac(3, 12) == pytest.approx(0.25)
    assert stats.failed_frac(0, 0) == 1.0  # nothing attempted is a failed run


# -- Python-worker CPU -----------------------------------------------------


def _proc(pid, ppid, u, s=0.0, cu=0.0, cs=0.0, cmd="python3"):
    return procstat.Proc(pid, ppid, u, s, cu, cs, 1000, cmd)


def test_worker_cpu_survives_worker_exit():
    jvm, daemon, worker = 10, 11, 12
    before = {
        jvm: _proc(jvm, 1, 5.0, cmd="java"),
        daemon: _proc(daemon, jvm, 0.2),
        worker: _proc(worker, daemon, 1.5, 0.5),
    }
    # the worker exits and the daemon reaps it: its time moves to cutime/cstime
    after = {jvm: before[jvm], daemon: _proc(daemon, jvm, 0.2, cu=1.5, cs=0.5)}
    u0, u1 = procstat.tree_usage(before, jvm), procstat.tree_usage(after, jvm)
    assert u0.py_cpu == pytest.approx(2.2)
    assert u1.py_cpu == pytest.approx(u0.py_cpu)
    assert u0.worker_pids == {daemon, worker}


def test_daemon_reaped_by_jvm_keeps_its_reaped_workers():
    jvm = 10
    procs = {jvm: _proc(jvm, 1, 5.0, cu=2.0, cs=0.2, cmd="java")}
    assert procstat.tree_usage(procs, jvm).py_cpu == pytest.approx(2.2)
    assert procstat.tree_usage(procs, jvm).jvm_cpu == pytest.approx(5.0)


def test_parse_stat_with_odd_command_name():
    fields = ["S", "7"] + ["0"] * 9 + ["100", "50", "20", "10"] + ["0"] * 6 + ["3"]
    p = procstat.parse_stat(42, "42 (a (b) c) " + " ".join(fields))
    assert (p.pid, p.ppid, p.cmd) == (42, 7, "a (b) c")
    tick = os.sysconf("SC_CLK_TCK")
    assert (p.utime, p.stime, p.cutime, p.cstime) == (100 / tick, 50 / tick, 20 / tick, 10 / tick)
    assert p.rss == 3 * os.sysconf("SC_PAGE_SIZE")


# -- output checks ---------------------------------------------------------


def _write_parts(d, parts):
    os.makedirs(d, exist_ok=True)
    for i, keys in enumerate(parts):
        t = pa.table({"key": keys, "value": [k * 2 for k in keys]})
        pq.write_table(t, os.path.join(d, f"part-{i:05d}-x.snappy.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()


def test_part_files_sorted_reads_in_file_name_order(tmp_path):
    parts = [["a", "b"], ["c"], ["c", "d", "e"], ["f"], ["g", "h"]]
    _write_parts(str(tmp_path), parts)
    ok, rows, cksum = check.part_files_sorted(str(tmp_path))
    flat = [k for p in parts for k in p]
    assert ok and rows == len(flat)
    assert cksum == sum(zlib.crc32((k + k * 2).encode()) for k in flat)


def test_part_files_sorted_catches_a_misplaced_file(tmp_path):
    _write_parts(str(tmp_path), [["c", "d"], ["a", "b"]])
    ok, rows, _ = check.part_files_sorted(str(tmp_path))
    assert not ok and rows == 4


def test_keys_sorted_across_chunk_boundaries():
    assert check.keys_sorted([["a", "b"], [], ["b", "c"]])
    assert not check.keys_sorted([["a", "c"], ["b"]])


# -- REST parsing ----------------------------------------------------------


def test_parse_size_takes_the_total():
    assert sparkrest.parse_size("1.5 KiB") == 1536
    assert sparkrest.parse_size("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 3.0: task 4))") == 2 * 1024**2
    assert sparkrest.parse_size("n/a") == 0


def test_parse_time():
    assert sparkrest.parse_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


def test_warm_passes_follow_the_run_length():
    assert workloads.warm_passes("llm_corpus", 16) == 4
    assert workloads.warm_passes("llm_corpus", 40) == 10
    assert workloads.warm_passes("streaming", 1) == 2


# -- BENCHMARK.json agrees with the code ------------------------------------


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == workloads.WORKLOADS
