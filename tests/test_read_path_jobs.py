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


@pytest.mark.parametrize("writer", ["same_engine", "other_engine"])
def test_version_after_insert_runs_no_job(spark, tmp_path, writer):
    """An Insert moves only the hot table's signature: the next
    stream_version of the written stream, and of another stream, keeps
    its memoized major and counts the hot rows with Arrow, with no Spark
    job and the answer a fresh engine gives."""
    base = str(tmp_path / "db")
    a = BTrDBEngine(spark, base, flush_threshold=10**9)
    u, o = a.create_stream("memo/u"), a.create_stream("memo/o")
    a.insert(u, [(i * 10, float(i)) for i in range(100)], sync=True)
    a.insert(o, [(i * 10, float(i)) for i in range(50)])
    w = a if writer == "same_engine" else BTrDBEngine(spark, base, flush_threshold=10**9)
    for n_rows in (7, 5):
        a.stream_version(u), a.stream_version(o)  # warm both halves of the memo
        w.insert(u, [(5000 + 10 * i + n_rows, 1.0) for i in range(n_rows)])
        fresh = BTrDBEngine(spark, base, flush_threshold=10**9)
        for s in (u, o):
            assert _jobs(spark, lambda: a.stream_version(s)) == (0, fresh.stream_version(s))
    assert a.stream_version(u) == (a.stream_version(u)[0], 12)
    assert a.stream_version(o)[1] == 50


def test_rpc_job_counts(spark, tmp_path):
    """Through the service: a warm AlignedWindows, RawValues, Windows,
    Nearest or StreamInfo of a committed stream runs no Spark job (the
    driver-side Arrow tier serves the first four, the memoized catalog row
    StreamInfo), and neither does a warm AlignedWindows of a buffered
    stream at latest: the tier folds its hot rows in."""
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
        assert n == 0 and (meta["time"], meta["value"]) == (999 << 20, float(999 % 13))
        win = dict(uuid=u, start=0, end=3000 << 20, width=100 << 20)
        cli.rows("Windows", **win)
        n, (meta, rows) = _jobs(spark, lambda: cli.rows("Windows", **win))
        assert n == 0 and meta["versionMajor"] == 10
        assert [r["count"] for r in rows] == [100] * 30
    finally:
        svc.stop()

    eng.stream_version(hot)  # warm the version memo

    def served():
        route = eng._ladder_route(hot, 26, None)
        assert route is not None and route[2]  # buffered at latest: the hot merge
        return eng._arrow_tier(route, hot, 0, 1 << 40, 26, None)

    n, tbl = _jobs(spark, served)
    assert n == 0 and sum(tbl["cnt"].to_pylist()) == 3001


def test_routing_gate_runs_no_job_on_a_store_with_tombstones(spark, tmp_path):
    """Once stream A has a delete, warm AlignedWindows and Windows RPCs of
    the delete-free stream B still run no Spark job, and the routing
    decision for A runs none either: the tombstone versions and the
    level's rebase versions are read with Arrow. The decision equals the
    one the Spark reads of both tables give."""
    from pyspark.sql import functions as F

    from btrdb_spark.plans.rollup import RollupLadder
    from btrdb_spark.service import BTrDBHttpClient, BTrDBService

    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10**9, ladder=True)
    eng.ladder = RollupLadder(spark, eng.ladder.base, levels=(26, 32), backend=eng.store)
    a, b = (eng.create_stream(f"gate/{i}") for i in range(2))
    rows = [(s, i << 20, float(i % 13)) for s in (a, b) for i in range(3000)]
    eng.bulk_load(spark.createDataFrame(rows, "uuid string, time long, value double"))
    v = eng.delete_range(a, 0, 100 << 20)
    svc = BTrDBService(eng)
    cli = BTrDBHttpClient("127.0.0.1", svc.start())
    try:
        for method, req in (
            ("AlignedWindows", dict(uuid=b, start=0, end=1 << 40, pointWidth=26)),
            ("Windows", dict(uuid=b, start=0, end=3000 << 20, width=100 << 20)),
        ):
            cli.rows(method, **req)
            n, (_meta, rows) = _jobs(spark, lambda: cli.rows(method, **req))
            assert n == 0 and sum(r["count"] for r in rows) == 3000, method
    finally:
        svc.stop()

    eng.stream_version(a)  # warm the version memo
    for lvl in (26, 32):
        n, route = _jobs(spark, lambda: eng._ladder_route(a, lvl, None))
        dv = {r["version"] for r in eng.deletes.filter(F.col("uuid") == a).select("version").collect()}
        rb = {r["version"] for r in eng.ladder.rebase_level(lvl).filter(F.col("uuid") == a)
              .select("version").collect()}
        assert dv == {v} and dv <= rb
        assert (n, route) == (0, (lvl, True, False))
        assert _jobs(spark, lambda: eng._ladder_route(b, lvl, None)) == (0, (lvl, False, False))
    counts = {r["bucket_start"]: r["cnt"] for r in eng.aligned_windows(a, 0, 1 << 40, 26).collect()}
    assert sum(counts.values()) == 2900
