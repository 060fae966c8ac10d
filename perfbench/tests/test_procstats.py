import json
import os
import re

import pytest

import procstats
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_ratio_edges():
    assert procstats.ratio(3, 4) == 0.75
    assert procstats.ratio(3, 0) == 0.0


def test_stat_line_cpu_includes_reaped_children():
    # pid (comm) state ppid ... utime=14 stime=15 cutime=16 cstime=17
    fields = ["S", "42"] + ["0"] * 9 + ["100", "20", "7", "3"] + ["0"] * 30
    line = "1234 (java (x) y) " + " ".join(fields)
    assert procstats.stat_cpu_ticks(line) == (42, 130)


def test_status_and_proc_stat_fields():
    status = "Name:\tjava\nVmPeak:\t  900 kB\nVmHWM:\t  512 kB\n"
    assert procstats.status_kb(status, "VmHWM") == 512
    assert procstats.status_kb(status, "VmRSS") == 0
    stat = "cpu  10 0 5 100 1 0 2 37 0 0\ncpu0 5 0 2 50 0 0 1 20 0 0\n"
    assert procstats.steal_ticks(stat) == 37


def test_tree_pids_and_live_tree():
    parents = {1: 0, 2: 1, 3: 2, 4: 1, 9: 8}
    assert sorted(procstats.tree_pids(1, parents)) == [1, 2, 3, 4]
    assert procstats.tree_cpu_ms(os.getpid()) > 0
    assert procstats.tree_hwm_mb(os.getpid()) > 0


def test_union_and_self_time():
    assert tracing.union_ms([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_ms([(0, 2), (5, 20)], 1, 10) == 6
    spans = [
        {"name": "op", "op_id": 1, "parent": None, "start": 0.0, "end": 1.0},
        {"name": "a", "op_id": 1, "parent": "op", "start": 0.1, "end": 0.4},
        {"name": "b", "op_id": 1, "parent": "op", "start": 0.3, "end": 0.5},
    ]
    assert tracing.self_ms(spans, spans[0]) == pytest.approx(600.0)


def test_metric_display_strings():
    assert tracing._metric_int("12,345") == 12345
    assert tracing._metric_int(" 7 ") == 7


def test_benchmark_json_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert max(m["bound"] for m in b["end_to_end"]) == next(
        m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")
