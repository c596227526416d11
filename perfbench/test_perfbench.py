"""Self-test of the benchmark: tiny runs of every workload print every
metric with its unit and no failures, the checker counts a wrong answer
as a failure, a DeleteRange sequence checks out on the engine, and a
directory without the program makes the benchmark fail.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

import model as m
from harness import Ops

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    out = _bench(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, out.stderr[-3000:]
    want = {x["name"]: x["unit"] for x in BENCH["end_to_end" if trace == 0 else "per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(type(v["value"]) in (int, float) for v in res["metrics"].values())


def _one_stream_model():
    spec = m.stream_specs(1)[0]
    t, v = m.gen_points(3, spec, 500)
    model = m.Model()
    model.add_stream(m.StreamModel("u", spec, t, v))
    return model, t, v


def test_checker_counts_a_corrupted_answer():
    model, t, v = _one_stream_model()
    start, end = int(t[10]), int(t[110])
    right = [{"time": int(a), "value": float(b)} for a, b in zip(t[10:110], v[10:110])]
    check = lambda rows: m.check_raw(model, "u", start, end, (0, 0), rows)  # noqa: E731

    ops = Ops()
    ops.op("raw", lambda: right, check)
    ops.op("raw", lambda: right[:-1], check)  # one row short
    assert ops.attempted == 2
    assert len(ops.failures) == 1 and "raw count 99" in ops.failures[0]
    assert len(ops.lat["raw"]) == 1  # a wrong answer gives no latency sample

    pw = 32
    first, last = int(t[0]), int(t[-1])
    end = ((last >> pw) + 1) << pw
    b = (t >> pw) << pw
    rows = [{"time": int(k), "count": int((b == k).sum()), "vmin": float(v[b == k].min()),
             "vmax": float(v[b == k].max())} for k in np.unique(b)]
    every = np.arange(len(rows))
    assert m.check_aligned(model, "u", first, end, pw, (0, 0), rows, every) is None
    rows[0] = {**rows[0], "vmax": rows[0]["vmax"] + 1.0}
    assert m.check_aligned(model, "u", first, end, pw, (0, 0), rows, every) is not None


def test_concurrent_read_admits_any_state_in_its_window():
    model, t, v = _one_stream_model()
    new = t[-1] + m.PMU_NS * np.arange(1, 51)
    model.insert("u", new, np.ones(50))
    rows0 = [{"time": int(a)} for a in t[-20:]]
    rows1 = rows0 + [{"time": int(a)} for a in new]
    lo, hi = int(t[-20]), int(new[-1]) + 1
    for rows in (rows0, rows1):
        assert m.check_raw(model, "u", lo, hi, (0, 1), rows) is None
    assert m.check_raw(model, "u", lo, hi, (1, 1), rows0) is not None
    assert m.check_raw(model, "u", lo, hi, (0, 1), rows1 + rows1[-1:]) is not None


def test_delete_sequence_checks_out(tmp_path):
    """DeleteRange over committed history: the range is empty at latest,
    intact at v-1, and ChangedRanges(v-1, v) covers it."""
    import run as bench_run

    sys.path.insert(0, ROOT)
    bench_run._env(str(tmp_path), 4)
    from harness import Run

    run = Run(str(tmp_path), 5, False, 4, time.perf_counter())
    try:
        u = run.load(1, 2000)[0]
        t = run.model.streams[u].t
        start, end = int(t[300]), int(t[500])
        before = run.model.state()
        meta = run.op("delete", lambda: run.client.rows(
            "DeleteRange", uuid=u, start=start, end=end)[0], lambda _: None)
        run.model.delete(u, start, end)
        v = meta["versionMajor"]
        after = run.model.state()
        run.op("raw", lambda: run.client.rows(
            "RawValues", uuid=u, start=start, end=end, versionMajor=v - 1)[1],
            lambda rows: m.check_raw(run.model, u, start, end, (before, before), rows))
        run.op("raw", lambda: run.client.rows(
            "RawValues", uuid=u, start=start, end=end)[1],
            lambda rows: m.check_raw(run.model, u, start, end, (after, after), rows))
        run.op("changed", lambda: run.client.rows(
            "ChangedRanges", uuid=u, fromMajor=v - 1, toMajor=v, resolution=20)[1],
            lambda rows: m.check_changed(start, end, rows))
    finally:
        run.close()
    assert run.failures == []
    assert run.lat["raw"] and run.lat["changed"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _bench(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
