"""The benchmark's own tests: python3 -m pytest perfbench -q

The last test runs the benchmark once (about a minute); the rest take
milliseconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

MAX_LINE = 1536

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _check_line(line: str, kind: str) -> dict:
    rec = json.loads(line)
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(rec["attempted"], int) and rec["attempted"] >= 1
    assert isinstance(rec["failed"], int)
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in rec["metrics"].items()} == want
    return rec


def test_end_to_end_line_is_compact_and_named_as_declared():
    # worst case: every value a float with all 17 significant digits
    metrics = {m["name"]: 12345.678901234567 for m in SPEC["end_to_end"]}
    line = run.result_line(True, 10**6, 10**6, metrics)
    _check_line(line, "end_to_end")
    assert len(line.encode()) <= MAX_LINE


def test_per_layer_names_match_benchmark_json():
    assert list(run.PER_LAYER) == [m["name"] for m in SPEC["per_layer"]]
    assert all(run.PER_LAYER[m["name"]] == m["unit"] for m in SPEC["per_layer"])
    line = run.result_line(True, 1, 0, {k: 1.0 for k in run.PER_LAYER})
    _check_line(line, "per_layer")


def test_workloads_match_benchmark_json():
    assert sorted(run.WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])
    assert sorted(workloads.GENERATORS) == sorted(run.WORKLOADS)


def test_session_plan_is_sized_from_the_host():
    plan = host.session_plan(cores=4, mem_bytes=15 << 30)
    assert plan.master == "local[4]"
    assert plan.shuffle_partitions == 8
    assert plan.driver_memory_mb == (15 << 30) // 8 // (1 << 20)
    assert host.session_plan(level=1, cores=4, mem_bytes=2 << 30).driver_memory_mb == 1024
    with pytest.raises(ValueError, match="oversubscribe"):
        host.session_plan(level=32, cores=4, mem_bytes=15 << 30)
    with pytest.raises(ValueError):
        host.session_plan(level=0, cores=4, mem_bytes=15 << 30)


def test_generators_are_deterministic_in_the_seed():
    for name, gen in workloads.GENERATORS.items():
        ids = [0, 1, 7, 9, 49]
        a = [gen(3, i) for i in ids]
        assert a == [gen(3, i) for i in ids], name
        assert a != [gen(4, i) for i in ids], name


def test_compare_counts_wrong_missing_and_duplicated():
    ref = [{"url": u, "status": "success", "md": "m" + u, "txt": "t" + u} for u in "abcd"]
    rows = [("a", "success", "ma", "ta"), ("b", "failure", None, None),
            ("c", "success", "mc", "tc"), ("c", "success", "mc", "tc"),
            ("z", "success", "mz", "tz")]
    assert run.compare(ref, rows) == {"wrong": 2, "missing": 1, "duplicated": 1}
    assert run.compare(ref, [(r["url"], "success", r["md"], r["txt"]) for r in ref]) == {
        "wrong": 0, "missing": 0, "duplicated": 0}


def test_spans_report_self_time_without_double_counting():
    import time

    import layers

    spans = layers.Spans()

    def inner():
        time.sleep(0.02)

    def outer():
        time.sleep(0.01)
        wrapped_inner()

    wrapped_inner = spans.wrap("inner", inner)
    spans.wrap("outer", outer)()
    assert 0.02 <= spans.self_s["inner"] < 0.2
    assert 0.01 <= spans.self_s["outer"] < spans.self_s["inner"]


def test_a_real_run_prints_one_compact_parsable_last_line():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "job_resume",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert len(last.encode()) <= MAX_LINE
    rec = _check_line(last, "end_to_end")
    assert rec["correct"] is True and rec["failed"] == 0
