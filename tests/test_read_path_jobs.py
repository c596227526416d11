"""Interactive reads run no hidden Spark jobs.

A read of an unchanged store costs one job: stream_version is memoized on
the signatures of the tables it reads, a table with no parquet yet is left
out of the plan, memoized scans take their schema from a parquet footer,
and a single-stream raw read sorts inside one partition instead of through
a range shuffle. Jobs are counted as deltas of the DAG scheduler's job id
counter around each call. The memo must still see every write, whether it
comes through the memoizing engine or through another engine on the same
base dir.
"""

from __future__ import annotations

import pytest

from btrdb_spark.engine import BTrDBEngine, NoSuchStream


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = fn()
    return dag.nextJobId() - j0, out


def test_reads_of_unchanged_store_run_one_job(spark, tmp_path):
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    u = eng.create_stream("jobs/a")
    eng.insert(u, [(i << 20, float(i % 13)) for i in range(3000)], sync=True)
    # no deletes and no buffered rows: the steady state of a plotted stream
    assert eng.stream_version(u)[1] == 0

    assert _jobs(spark, lambda: eng.stream_version(u)) == (0, eng.stream_version(u))
    builds = {
        "raw_values": lambda: eng.raw_values(u, 0, 1 << 40),
        "aligned_windows": lambda: eng.aligned_windows(u, 0, 1 << 40, 30),
        "windows": lambda: eng.windows(u, 0, 1 << 40, 1 << 31),
        "changed_ranges": lambda: eng.changed_ranges(u, 0, None, 30),
    }
    for name, build in builds.items():
        n, df = _jobs(spark, build)
        assert n == 0, f"building {name} ran {n} Spark jobs"
        # absent hot/deletes tables are left out, not planned as empty frames
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString(), name

    df = builds["raw_values"]()
    n, rows = _jobs(spark, df.collect)
    assert n == 1
    assert [(r["time"], r["value"]) for r in rows] == [
        (i << 20, float(i % 13)) for i in range(3000)
    ]


def test_unflushed_stream_plans_no_python_rdd(spark, tmp_path):
    """A stream that was created but never flushed has no points table:
    its raw read plans the absent table as an empty local relation, not a
    scan of a Python RDD."""
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9)
    u = eng.create_stream("jobs/unflushed")
    for step in ("created", "buffered"):
        n, df = _jobs(spark, lambda: eng.raw_values(u, 0, 1 << 40))
        assert n == 0, step
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString(), step
        eng.insert(u, [(5, 1.0)])
    assert [(r["time"], r["value"]) for r in df.collect()] == [(5, 1.0)]


def _version_or_gone(eng, u):
    try:
        return eng.stream_version(u)
    except NoSuchStream:
        return "gone"


@pytest.mark.parametrize("writer", ["same_engine", "other_engine"])
def test_version_memo_sees_every_write(spark, tmp_path, writer):
    base = str(tmp_path / "db")
    a = BTrDBEngine(spark, base, flush_threshold=10**9)
    u = a.create_stream("memo/a")
    a.insert(u, [(i * 10, float(i)) for i in range(100)], sync=True)
    w = a if writer == "same_engine" else BTrDBEngine(spark, base, flush_threshold=10**9)
    steps = [
        ("insert", lambda: w.insert(u, [(5000 + i, 1.0) for i in range(10)])),
        ("flush", lambda: w.flush(u)),
        ("delete_range", lambda: w.delete_range(u, 0, 500)),
        ("compact_points", lambda: w.compact_points()),
        ("obliterate", lambda: w.obliterate(u, defer_gc=True)),
    ]
    for name, write in steps:
        before = a.stream_version(u)  # A's memo holds the pre-write answer
        write()
        fresh = _version_or_gone(BTrDBEngine(spark, base, flush_threshold=10**9), u)
        assert _version_or_gone(a, u) == fresh, name
        if name != "compact_points":  # compaction moves no version
            assert fresh != before, name


def test_rpc_job_counts(spark, tmp_path, monkeypatch):
    """Through the service: a warm AlignedWindows, RawValues or StreamInfo
    of a committed stream runs no Spark job (the first two are served by
    the driver-side Arrow tiers, StreamInfo by the memoized catalog row),
    and Nearest is two: the parallel partial picks, then the final pick
    over one row per partition (no groupBy, no sort). On a buffered stream
    the AlignedWindows tier's eligibility check runs no job and opens no
    parquet file before handing the read to Spark."""
    import pyarrow.dataset
    import pyarrow.parquet

    from btrdb_spark.service import BTrDBHttpClient, BTrDBService

    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    u, hot = (eng.create_stream(f"jobs/{i}") for i in range(2))
    rows = [(s, i << 20, float(i % 13)) for s in (u, hot) for i in range(3000)]
    eng.bulk_load(spark.createDataFrame(rows, "uuid string, time long, value double"))
    eng.insert(hot, [(7, 1.0)])
    svc = BTrDBService(eng)
    cli = BTrDBHttpClient("127.0.0.1", svc.start())
    try:
        stat = dict(uuid=u, start=0, end=1 << 40, pointWidth=26)
        cli.rows("AlignedWindows", **stat)  # warm: memos and footers
        n, (_meta, rows) = _jobs(spark, lambda: cli.rows("AlignedWindows", **stat))
        assert n == 0 and sum(r["count"] for r in rows) == 3000
        raw = dict(uuid=u, start=10 << 20, end=1011 << 20)
        cli.rows("RawValues", **raw)
        n, (meta, rows) = _jobs(spark, lambda: cli.rows("RawValues", **raw))
        assert n == 0 and meta["versionMajor"] == 10
        assert [(r["time"], r["value"]) for r in rows] == [
            (i << 20, float(i % 13)) for i in range(10, 1011)
        ]
        cli.rows("StreamInfo", uuid=u)
        n, (meta, _rows) = _jobs(spark, lambda: cli.rows("StreamInfo", uuid=u))
        assert n == 0 and (meta["collection"], meta["versionMajor"]) == ("jobs/0", 10)
        near = dict(uuid=u, time=1000 << 20, backward=True)
        n, (meta, _rows) = _jobs(spark, lambda: cli.rows("Nearest", **near))
        assert n == 2 and (meta["time"], meta["value"]) == (999 << 20, float(999 % 13))
    finally:
        svc.stop()

    eng.stream_version(hot)  # warm the version memo

    def no_parquet(*a, **kw):
        raise AssertionError("the eligibility check opened parquet")

    monkeypatch.setattr(pyarrow.dataset, "dataset", no_parquet)
    monkeypatch.setattr(pyarrow.parquet, "read_schema", no_parquet)
    monkeypatch.setattr(pyarrow.parquet, "ParquetFile", no_parquet)
    def eligible():
        route = eng._ladder_route(hot, 26, None)
        assert route is not None and route[2]  # buffered at latest: the hot merge
        return eng._arrow_tier(route, hot, 0, 1 << 40, 26, None)

    assert _jobs(spark, eligible) == (0, None)
