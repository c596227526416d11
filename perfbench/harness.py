"""Shared run machinery: Spark/engine/service set-up, the RPC client, op
accounting, memory sampling and the store walk."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import numpy as np

from btrdb_spark.service import BTrDBHttpClient
from model import Model, StreamModel, check_total, gen_points, stream_specs


class Client(BTrDBHttpClient):
    """The service's own client. It also counts the rows it received and
    their bytes as the service encoded them (one ndjson line per chunk);
    ``account`` does the counting after the op's timing has stopped."""

    def __init__(self, port: int):
        super().__init__("127.0.0.1", port)
        self.rows_seen = 0
        self.bytes_seen = 0
        self._pending: list[list[dict]] = []

    def call(self, method: str, **req) -> list[dict]:
        chunks = super().call(method, **req)
        self._pending.append(chunks)
        return chunks

    def account(self) -> None:
        for chunks in self._pending:
            rows = sum(len(c.get("batch", ())) for c in chunks)
            if rows:
                self.rows_seen += rows
                self.bytes_seen += sum(len(json.dumps(c)) + 1 for c in chunks)
        self._pending.clear()


class RssSampler:
    """Peak resident memory of this process plus all its descendants (the
    JVM and Spark's Python workers), summed from /proc. A child the JVM has
    spawned but that has not exec'd yet runs in the JVM's own address space
    (same executable, a thread's name) and is skipped, or every spawn would
    count the JVM twice."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # process name -> kB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    @staticmethod
    def _identity(pid: int) -> tuple[str, str]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return os.readlink(f"/proc/{pid}/exe"), f.read().strip()
        except OSError:
            return "", ""

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        me = os.getpid()
        todo, parts = [(me, self._identity(me))], {}
        while todo:
            pid, (exe, name) = todo.pop()
            parts[name] = parts.get(name, 0) + self._rss_kb(pid)
            for c in self._children(pid):
                c_exe, c_name = self._identity(c)
                if c_exe == exe and c_name != name:
                    continue  # spawned, not yet exec'd: the parent's own memory
                todo.append((c, (c_exe, c_name)))
        total = sum(parts.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def walk_bytes(root: str) -> tuple[int, list[str]]:
    total, parquet = 0, []
    for r, _d, fs in os.walk(root):
        for f in fs:
            p = os.path.join(r, f)
            total += os.path.getsize(p)
            if f.endswith(".parquet"):
                parquet.append(p)
    return total, parquet


class Ops:
    """Op bookkeeping: attempts, failures with their reasons, and the
    latencies of timed ops that answered correctly."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def op(self, kind: str, fn, check, timed: bool = True):
        """Run one operation, time it, check its answer. ``fn`` returns the
        answer; ``check(answer)`` returns None or a failure reason."""
        self.before_op()
        tr = self.tracer
        if tr is not None:
            tr.begin_op(kind)
        t0, t1 = time.perf_counter(), None
        try:
            ans = fn()
            t1 = time.perf_counter()  # the answer is in; checking it is not the op's time
            why = check(ans)
        except Exception as e:  # a failed RPC is a failed op, not a crash
            t1 = t1 or time.perf_counter()
            ans, why = None, f"{kind}: {type(e).__name__}: {e}"
        dt = t1 - t0
        if tr is not None:
            tr.end_op(why is None, timed, t1)
        self.after_op()
        with self._lock:
            self.attempted += 1
            if why is not None:
                self.failures.append(why)
            elif timed:
                self.lat.setdefault(kind, []).append(dt * 1e3)
        return ans

    def before_op(self) -> None:
        """Lets the system settle before the op's timing starts."""

    def after_op(self) -> None:
        """Bookkeeping that must stay outside the op's timing."""


class Run(Ops):
    """One benchmark run: a Spark session, an engine over a fresh store in
    the work directory, the service on loopback, and op bookkeeping."""

    def __init__(self, work: str, seed: int, trace: bool, cores: int, t_process: float):
        self.t_process = t_process
        self.setup_s = self.t_timed = None
        self.seed = seed
        self.model = Model()
        self.rss = RssSampler()
        self.rss.start()

        from btrdb_spark.engine import BTrDBEngine
        from btrdb_spark.service import BTrDBService
        from btrdb_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._listener_bus = self.spark.sparkContext._jsc.sc().listenerBus()
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(self.spark)
            tracer.install()
        Ops.__init__(self, tracer)
        self.store_dir = os.path.join(work, "store")
        self.engine = BTrDBEngine(self.spark, self.store_dir, ladder=True)
        self.service = BTrDBService(self.engine)
        self.client = Client(self.service.start())

    def close(self) -> None:
        """Stop the service and Spark, then end the JVM and wait for it:
        the gateway JVM exits when its stdin closes."""
        from pyspark import SparkContext

        self.service.stop()
        if self.tracer is not None:
            self.tracer.uninstall()
        self.spark.stop()
        self.rss.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def before_op(self) -> None:
        """The client's think time: wait until Spark's listener bus has
        handled the events of earlier work, so no op starts while the
        last one's bookkeeping still runs on the driver. The wait counts
        in the timed loop's wall, so it still weighs on ops_per_s."""
        self._listener_bus.waitUntilEmpty(30000)

    def after_op(self) -> None:
        self.client.account()

    def start_timed(self) -> float:
        """End of set-up: everything before this point counts as setup_s."""
        self.t_timed = time.perf_counter()
        self.setup_s = self.t_timed - self.t_process
        return self.t_timed

    # ------------------------------------------------------------ set-up

    def load(self, n_streams: int, n_points: int) -> list[str]:
        """Create the streams over the service and bulk-load their seeded
        history with the engine's default ladder. Returns the uuids."""
        import pandas as pd

        specs = stream_specs(n_streams)
        uuids = []
        for spec in specs:
            meta = self.op("create", lambda s=spec: self.client.rows(
                "Create", collection=s.collection, tags={"kind": s.kind})[0],
                lambda m: None if m.get("uuid") else "create: no uuid", timed=False)
            uuids.append(meta["uuid"])
        frames = []
        for u, spec in zip(uuids, specs):
            t, v = gen_points(self.seed, spec, n_points)
            self.model.add_stream(StreamModel(u, spec, t, v))
            frames.append(pd.DataFrame({"uuid": u, "time": t, "value": v}))
        pdf = pd.concat(frames, ignore_index=True)
        batch = self.spark.createDataFrame(pdf, "uuid string, time long, value double")
        self.op("bulk_load", lambda: self.engine.bulk_load(batch), lambda _: None, timed=False)
        self.op("bulk_check", lambda: self.engine.points.count(),
                lambda got: check_total(len(pdf), got, "bulk_load total"), timed=False)
        return uuids

    # ------------------------------------------------------------ report

    def live_points(self) -> int:
        st = self.model.state()
        return sum(len(self.model.visible(u, -(1 << 63), (1 << 63) - 1, st)[0])
                   for u in self.model.streams)

    def storage(self) -> dict:
        import pyarrow.parquet as pq

        live = self.live_points()
        total, _ = walk_bytes(self.store_dir)
        lad_bytes, lad_files = walk_bytes(os.path.join(self.store_dir, "rollups"))
        lad_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in lad_files)

        def nfiles(name):
            path = self.engine.store.resolve(self.store_dir, name)
            return len(walk_bytes(path)[1]) if path else 0

        return {
            "store_bytes_per_pt": total / live,
            "ladder_rows_per_pt": lad_rows / live,
            "ladder_bytes_per_pt": lad_bytes / live,
            "files_points": nfiles("points"),
            "files_hot": nfiles("hot"),
        }


def median(xs) -> float:
    return float(statistics.median(xs))


def zipf_weights(n: int, rng: np.random.Generator, s: float = 1.1) -> np.ndarray:
    """Zipf-skewed popularity over n items with a seed-permuted ranking."""
    w = 1.0 / np.arange(1, n + 1) ** s
    w = w[rng.permutation(n)]
    return w / w.sum()
