"""Traced-run instrumentation, installed from outside the program.

``Tracer.install`` wraps public entry points of the service, engine, rollup
ladder and store modules, plus the DataFrame drains, so each call records a
span (name, start, end, parent, op id). Spans stay in memory and are written
out once at exit. Spark work per operation comes from the Spark driver's
status store, read as deltas around the operation: job and stage ids come from the
DAG scheduler's counters, which advance on the submitting thread, so they
attribute work to the operation that caused it without job groups (job
groups are thread-local, and the service runs each request on its own
handler thread).

The traced run drives a single client, so at most one operation is open at
a time and every span, on any thread, belongs to it.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time

ENGINE_METHODS = [
    "stream_version", "raw_values", "aligned_windows", "windows", "nearest",
    "changed_ranges", "insert", "append_hot", "flush", "delete_ranges",
    "bulk_load", "create_stream", "_claim_version_slot",
]
LADDER_METHODS = [
    "ingest_batch", "aligned_windows", "aligned_partials", "windows",
    "rewrite_level", "rewrite_rebase_level",
]
ENGINE_READS = {"raw_values", "aligned_windows", "windows", "nearest", "changed_ranges"}
LADDER_READS = {"aligned_windows", "aligned_partials", "windows"}

# Operation kinds the workloads run, and the per-layer metrics each applies
# to. Every traced run prints the whole list; an op kind a workload does not
# run reads 0.
OPS = ["raw", "stat", "windows", "nearest", "info", "insert", "commit", "bulk_load"]
RPC_OPS = OPS[:-1]
PLAN_OPS = ["raw", "stat", "windows", "nearest"]
DRAIN_OPS = ["raw", "stat", "windows", "info"]
SPARK_OP_METRICS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("run_ms", "ms"), ("cpu_ms", "ms"), ("input_bytes", "B"),
                    ("shuffle_bytes", "B"), ("spill_bytes", "B")]


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"client.rpc_ms.{op}", "ms") for op in RPC_OPS]
    out += [(f"service.self_ms.{op}", "ms") for op in RPC_OPS]
    out += [("service.bytes_per_row", "B")]
    for op in RPC_OPS:
        out += [(f"engine.version_ms.{op}", "ms"), (f"engine.version_calls.{op}", "count")]
    for op in PLAN_OPS:
        out += [(f"engine.plan_ms.{op}", "ms"), (f"engine.plan_jobs.{op}", "count")]
    out += [(f"engine.{m}_ms", "ms") for m in
            ("insert", "append_hot", "flush", "claim", "create", "bulk_load")]
    out += [("rollup.ingest_ms", "ms"), ("rollup.rows_per_pt", "ratio"),
            ("rollup.bytes_per_pt", "B"), ("rollup.read_ms.stat", "ms"),
            ("rollup.read_ms.windows", "ms"), ("rollup.routed_ratio", "ratio")]
    out += [("store.publish_calls", "count"), ("store.publish_ms", "ms"),
            ("store.conflicts", "count"), ("store.stamp_ms", "ms"),
            ("store.files.points", "count"), ("store.files.hot", "count")]
    for op in OPS:
        out += [(f"spark.{m}.{op}", u) for m, u in SPARK_OP_METRICS]
    out += [(f"spark.drain_ms.{op}", "ms") for op in DRAIN_OPS]
    out += [("spark.busy_ratio", "ratio")]
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._jsc = jsc
        self._gw = spark.sparkContext._gateway
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._restore: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str, jobs: bool) -> dict:
        st = self._stack()
        op = self._op
        parent = st[-1] if st else (op["span"] if op else None)
        sp = {"id": next(self._ids), "name": name, "parent": parent,
              "op": op["id"] if op else None, "t0": time.perf_counter()}
        if jobs:
            sp["jobs0"] = self._dag.nextJobId()
        st.append(sp["id"])
        return sp

    def _close(self, sp: dict, jobs: bool, error: bool = False) -> None:
        sp["t1"] = time.perf_counter()
        if jobs:
            sp["jobs1"] = self._dag.nextJobId()
        if error:
            sp["error"] = True
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    def _wrap(self, owner, attr: str, name: str, jobs: bool) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            sp = tracer._open(name, jobs)
            try:
                out = orig(*a, **kw)
            except BaseException as e:
                if type(e).__name__ == "CommitConflict":
                    sp["conflict"] = True
                tracer._close(sp, jobs, error=True)
                raise
            tracer._close(sp, jobs)
            return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _wrap_iterator(self, cls) -> None:
        """toLocalIterator drains lazily: the span runs from the call to
        exhaustion, and ``busy`` counts only time spent fetching rows, not
        the consumer's encoding between rows."""
        orig = cls.toLocalIterator
        tracer = self

        @functools.wraps(orig)
        def wrapper(df, *a, **kw):
            sp = tracer._open("drain.toLocalIterator", False)
            t = time.perf_counter()
            try:
                it = iter(orig(df, *a, **kw))
            except BaseException:
                tracer._close(sp, False, error=True)
                raise
            busy = time.perf_counter() - t
            stack = tracer._stack()
            stack.pop()  # the consumer runs between rows; only fetches are ours
            rows = 0
            try:
                while True:
                    t = time.perf_counter()
                    try:
                        row = next(it)
                    except StopIteration:
                        busy += time.perf_counter() - t
                        break
                    busy += time.perf_counter() - t
                    rows += 1
                    yield row
            finally:
                sp["busy"] = busy
                sp["rows"] = rows
                stack.append(sp["id"])
                tracer._close(sp, False)

        self._restore.append((cls, "toLocalIterator", orig))
        cls.toLocalIterator = wrapper

    def install(self) -> None:
        from btrdb_spark import engine, service, store
        from btrdb_spark.plans import rollup

        df_cls = type(self.spark.range(0))
        self._wrap_iterator(df_cls)
        for attr in ("collect", "toArrow"):
            self._wrap(df_cls, attr, f"drain.{attr}", False)
        for attr in [a for a in vars(service.BTrDBService) if a.startswith("rpc_")]:
            self._wrap(service.BTrDBService, attr, f"service.{attr}", True)
        for m in ENGINE_METHODS:
            self._wrap(engine.BTrDBEngine, m, f"engine.{m}", True)
        for m in LADDER_METHODS:
            self._wrap(rollup.RollupLadder, m, f"rollup.{m}", True)
        self._wrap(type(store.DEFAULT), "publish", "store.publish", False)
        for fn in ("bump_stamp", "read_stamp", "parquet_signature"):
            self._wrap(store, fn, f"store.{fn}", False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ---------------------------------------------------------- ops

    def begin_op(self, kind: str) -> None:
        """Open an op; the caller has drained the listener bus already."""
        op = {"id": len(self.ops) + 1, "kind": kind,
              "stage0": self._dag.nextStageId(), "job0": self._dag.nextJobId()}
        op["span"] = next(self._ids)
        op["t0"] = time.perf_counter()
        self._op = op

    def end_op(self, ok: bool, timed: bool, t1: float) -> None:
        """Close the open op; ``t1`` is when its answer arrived."""
        op = self._op
        op["t1"] = t1
        op["ok"] = ok
        op["timed"] = timed
        op["job1"] = self._dag.nextJobId()
        op["stage1"] = self._dag.nextStageId()
        self._op = None
        self._drain_listener()
        op["spark"] = self._stage_totals(op["stage0"], op["stage1"])
        self.ops.append(op)

    def _drain_listener(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30000)

    def _stage_totals(self, s0: int, s1: int) -> dict:
        tot = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "input_bytes": 0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        ss = self._jsc.statusStore()
        empty = self._gw.jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        for sid in range(s0, s1):
            try:
                attempts = ss.stageData(sid, False, empty, False, quantiles)
            except Exception:  # stage evicted or never registered: nothing ran
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numCompleteTasks()
                tot["run_ms"] += s.executorRunTime()
                tot["cpu_ms"] += s.executorCpuTime() / 1e6
                tot["input_bytes"] += s.inputBytes()
                tot["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot

    # ---------------------------------------------------------- report

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": self.spans, **extra}, f)

    def metrics(self, timed: tuple[float, float], cores: int, rows_bytes: tuple[int, int],
                storage: dict) -> dict[str, float]:
        """Per-layer metrics from the recorded spans and op counters.
        Per-op values are medians over the timed ops of that kind, or over
        its set-up ops for kinds that run only in set-up (``bulk_load``);
        ``timed`` is the (start, end) of the timed phase for whole-run
        ratios."""
        by_id = {s["id"]: s for s in self.spans}
        by_op: dict[int, list[dict]] = {}
        for s in self.spans:
            by_op.setdefault(s["op"], []).append(s)

        def has_ancestor(s, pred) -> bool:
            p = by_id.get(s["parent"])
            while p is not None:
                if pred(p):
                    return True
                p = by_id.get(p["parent"])
            return False

        def dur(s) -> float:
            return (s["t1"] - s["t0"]) * 1e3

        is_engine = lambda s: s["name"].startswith("engine.")  # noqa: E731
        per: dict[str, dict[str, list[float]]] = {}
        routed = stat_ops = 0
        timed_kinds = {op["kind"] for op in self.ops if op["timed"]}
        for op in self.ops:
            if op["kind"] in timed_kinds and not op["timed"]:
                continue  # a warm-up
            sp = by_op.get(op["id"], [])
            wall = (op["t1"] - op["t0"]) * 1e3
            eng_top = [s for s in sp if is_engine(s) and not has_ancestor(s, is_engine)]
            vers = [s for s in sp if s["name"] == "engine.stream_version"]
            plans = [s for s in eng_top if s["name"].split(".", 1)[1] in ENGINE_READS]
            plan_ms = sum(dur(s) for s in plans) - sum(
                dur(v) for v in vers if any(has_ancestor(v, lambda p, s=s: p is s) for s in plans))
            drains = [s for s in sp if s["name"].startswith("drain.")
                      and not has_ancestor(s, is_engine)]
            drain_ms = sum(s.get("busy", (s["t1"] - s["t0"])) * 1e3 for s in drains)
            ladder = [s for s in sp if s["name"].startswith("rollup.")
                      and s["name"].split(".", 1)[1] in LADDER_READS
                      and not has_ancestor(s, lambda p: p["name"].startswith("rollup."))]
            k = op["kind"]
            row = per.setdefault(k, {})

            def add(name, v):
                row.setdefault(name, []).append(v)

            add("client.rpc_ms", wall)
            add("service.self_ms", wall - sum(dur(s) for s in eng_top) - drain_ms)
            add("engine.version_ms", sum(dur(s) for s in vers))
            add("engine.version_calls", len(vers))
            add("engine.plan_ms", plan_ms)
            add("engine.plan_jobs", sum(s["jobs1"] - s["jobs0"] for s in plans))
            add("rollup.read_ms", sum(dur(s) for s in ladder))
            add("spark.drain_ms", drain_ms)
            add("spark.jobs", op["job1"] - op["job0"])
            for m, _u in SPARK_OP_METRICS[1:]:
                add(f"spark.{m}", op["spark"][m])
            if k == "stat":
                stat_ops += 1
                routed += bool(ladder)

        def med(kind, name):
            vals = per.get(kind, {}).get(name)
            return float(statistics.median(vals)) if vals else 0.0

        def calls(name):
            return [s for s in self.spans if s["name"] == name]

        def med_calls(name):
            d = [dur(s) for s in calls(name)]
            return float(statistics.median(d)) if d else 0.0

        t0, t1 = timed
        in_timed = [s for s in self.spans if t0 <= s["t0"] <= t1]
        out: dict[str, float] = {}
        for op in RPC_OPS:
            out[f"client.rpc_ms.{op}"] = med(op, "client.rpc_ms")
            out[f"service.self_ms.{op}"] = med(op, "service.self_ms")
        rows, nbytes = rows_bytes
        out["service.bytes_per_row"] = nbytes / rows if rows else 0.0
        for op in RPC_OPS:
            out[f"engine.version_ms.{op}"] = med(op, "engine.version_ms")
            out[f"engine.version_calls.{op}"] = med(op, "engine.version_calls")
        for op in PLAN_OPS:
            out[f"engine.plan_ms.{op}"] = med(op, "engine.plan_ms")
            out[f"engine.plan_jobs.{op}"] = med(op, "engine.plan_jobs")
        for m, span in (("insert", "insert"), ("append_hot", "append_hot"), ("flush", "flush"),
                        ("claim", "_claim_version_slot"), ("create", "create_stream"),
                        ("bulk_load", "bulk_load")):
            out[f"engine.{m}_ms"] = med_calls(f"engine.{span}")
        out["rollup.ingest_ms"] = med_calls("rollup.ingest_batch")
        out["rollup.rows_per_pt"] = storage["ladder_rows_per_pt"]
        out["rollup.bytes_per_pt"] = storage["ladder_bytes_per_pt"]
        out["rollup.read_ms.stat"] = med("stat", "rollup.read_ms")
        out["rollup.read_ms.windows"] = med("windows", "rollup.read_ms")
        out["rollup.routed_ratio"] = routed / stat_ops if stat_ops else 0.0
        pubs = [s for s in in_timed if s["name"] == "store.publish"]
        out["store.publish_calls"] = float(len(pubs))
        out["store.publish_ms"] = float(sum(dur(s) for s in pubs))
        out["store.conflicts"] = float(sum(1 for s in pubs if s.get("conflict")))
        out["store.stamp_ms"] = float(sum(
            dur(s) for s in in_timed if s["name"] in ("store.read_stamp", "store.parquet_signature")))
        out["store.files.points"] = float(storage["files_points"])
        out["store.files.hot"] = float(storage["files_hot"])
        for op in OPS:
            for m, _u in SPARK_OP_METRICS:
                out[f"spark.{m}.{op}"] = med(op, f"spark.{m}")
        for op in DRAIN_OPS:
            out[f"spark.drain_ms.{op}"] = med(op, "spark.drain_ms")
        timed_ops = [o for o in self.ops if t0 <= o["t0"] <= t1]
        busy = sum(o["spark"]["run_ms"] for o in timed_ops)
        out["spark.busy_ratio"] = busy / ((t1 - t0) * 1e3 * cores) if t1 > t0 else 0.0
        return out
