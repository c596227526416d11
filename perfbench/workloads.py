"""The benchmark's workloads. Each takes a ``Run`` whose store is empty,
builds its base store (set-up), then drives a closed loop for the run's
seconds and returns the loop's wall seconds.

Sizes are chosen so that one run, JVM start included, stays near a minute
on a 4-core box: every RPC of the seed engine costs whole Spark jobs
(seconds), so the figures come from medians over every op a run completes.
"""

from __future__ import annotations

import itertools
import time

import numpy as np

import model as m
from harness import Run, zipf_weights
from btrdb_spark.plans.rollup import LEVELS
from btrdb_spark.schemas import VERSION_FIRST_DATA as LOAD_VERSION  # what bulk_load stamps

# AlignedWindows pointwidths: every ladder level, middle-out, so that
# consecutive levels pair a finer with a coarser one
STAT_PWS = sorted(LEVELS, key=lambda pw: abs(pw - LEVELS[len(LEVELS) // 2]))


def stat_levels(seed: int):
    """The cycle of pointwidths a run queries, starting at a seed-chosen
    level, so that any seven consecutive seeds time every ladder level."""
    return itertools.islice(itertools.cycle(STAT_PWS), seed % len(STAT_PWS), None)


# ------------------------------------------------------------- shared reads
#
# Reads at latest. ``states`` brackets the model states the answer may
# reflect: acknowledged writes before the request and when it returned.

def read_raw(run: Run, uuid: str, start: int, end: int, timed: bool):
    states = [run.model.state()]

    def fn():
        rows = run.client.rows("RawValues", uuid=uuid, start=start, end=end)[1]
        states.append(run.model.state())
        return rows

    run.op("raw", fn, lambda rows: m.check_raw(
        run.model, uuid, start, end, (states[0], states[-1]), rows), timed)


def read_aligned(run: Run, rng, uuid: str, pw: int, timed: bool):
    states = [run.model.state()]
    start, last = run.model.span(uuid, states[0])
    end = ((last >> pw) + 1) << pw

    def fn():
        rows = run.client.rows("AlignedWindows", uuid=uuid, start=start, end=end,
                               pointWidth=pw)[1]
        states.append(run.model.state())
        return rows

    def check(rows):
        sample = rng.choice(len(rows), size=min(8, len(rows)), replace=False) if rows else []
        return m.check_aligned(run.model, uuid, start, end, pw, (states[0], states[-1]),
                               rows, sample)

    run.op("stat", fn, check, timed)


# ------------------------------------------------------------- interactive_read

IR_STREAMS, IR_POINTS = 4, 5_000
# One round of the read mix: by count 3/8 RawValues, 2/8 AlignedWindows and
# 1/8 each Nearest, StreamInfo and Windows. The loop runs whole rounds, so
# every run completes the same op kinds and runs differ only in their
# inputs. The Nearest is the round's read pinned to the load version:
# pinning skips stream_version, so a pinned RawValues would be a different,
# faster op.
IR_ROUND = ["raw", "stat", "raw", "nearest", "stat", "raw", "info", "windows"]


def interactive_read(run: Run, seconds: float, size: float) -> float:
    """Read-only RPC mix over a bulk-loaded store from one client (a second
    client measured no throughput gain: the engine serializes requests on
    the driver, so it only doubled each latency). Returns the timed phase's
    wall seconds."""
    n_pts = max(200, int(IR_POINTS * size))
    uuids = run.load(IR_STREAMS if size >= 1 else 2, n_pts)
    rng0 = np.random.default_rng([run.seed, 1])
    by_kind = {k: [u for u in uuids if run.model.streams[u].spec.kind == k]
               for k in ("pmu", "meter")}
    weights = {k: zipf_weights(len(v), rng0) for k, v in by_kind.items()}
    pws = stat_levels(run.seed)

    def one(i: int, rng, timed: bool):
        """The i-th op of the round: even ops read a PMU stream, odd ops a
        meter stream, Zipf-skewed within the kind."""
        kind = IR_ROUND[i]
        stream_kind = "pmu" if i % 2 == 0 else "meter"
        streams = by_kind[stream_kind]
        u = streams[rng.choice(len(streams), p=weights[stream_kind])]
        sm = run.model.streams[u]
        if kind == "raw":
            n = min(1000, len(sm.t) - 1)
            j = int(rng.integers(0, len(sm.t) - n))
            read_raw(run, u, int(sm.t[j]), int(sm.t[j + n]), timed)
        elif kind == "stat":
            read_aligned(run, rng, u, next(pws), timed)
        elif kind == "windows":
            first, last = int(sm.t[0]), int(sm.t[-1])
            nwin = int(rng.integers(10, 200))
            width = (last - first) // nwin
            req = dict(uuid=u, start=first, end=first + nwin * width, width=width)
            run.op("windows", lambda: run.client.rows("Windows", **req)[1],
                   lambda rows: m.check_windows(run.model, u, first, width, nwin, (0, 0), rows),
                   timed)
        elif kind == "nearest":
            at = int(rng.integers(sm.t[0], sm.t[-1]))
            back = bool(rng.random() < 0.5)
            req = dict(uuid=u, time=at, backward=back, versionMajor=LOAD_VERSION)
            run.op("nearest", lambda: run.client.rows("Nearest", **req)[0],
                   lambda meta: m.check_nearest(run.model, u, at, back, 0, meta), timed)
        else:
            run.op("info", lambda: run.client.rows("StreamInfo", uuid=u)[0],
                   lambda meta: m.check_info(u, sm.spec.collection, LOAD_VERSION, meta), timed)

    warm = np.random.default_rng([run.seed, 2])
    for kind in dict.fromkeys(IR_ROUND):  # each kind once, as the round first runs it
        one(IR_ROUND.index(kind), warm, timed=False)
    pws = stat_levels(run.seed)  # the timed loop starts the cycle afresh

    t_start = run.start_timed()
    deadline = t_start + seconds
    rng = np.random.default_rng([run.seed, 10])
    while True:
        for i in range(len(IR_ROUND)):
            one(i, rng, timed=True)
        if time.perf_counter() >= deadline:
            return time.perf_counter() - t_start


# ------------------------------------------------------------- ingest_mixed

IM_STREAMS, IM_POINTS = 3, 5_000
INSERT_BATCH = 5000
PREFILL = 25_000   # set-up insert: one more batch crosses the 32 768 flush threshold
IM_STAT_PW = 32    # 4.3 s windows: a dashboard view of a stream's recent minutes
LATE_SHARE = 0.01


class Writer:
    """Generates each writer stream's next in-order batch, with about 1% of
    the points landing late at fresh timestamps inside committed history."""

    def __init__(self, run: Run, uuids: list[str]):
        self.run = run
        self.rng = np.random.default_rng([run.seed, 3])
        self.tail = {u: int(run.model.streams[u].t[-1]) for u in uuids}

    def batch(self, u: str, n: int) -> tuple[np.ndarray, np.ndarray]:
        sm = self.run.model.streams[u]
        n_late = max(1, int(n * LATE_SHARE))
        n_new = n - n_late
        period = sm.spec.period
        new = self.tail[u] + period * np.arange(1, n_new + 1, dtype=np.int64) \
            + self.rng.integers(0, period // 2, n_new)
        self.tail[u] = int(new[-1])
        committed = sm.t[: len(sm.t) // 2]
        late = set()
        while len(late) < n_late:
            i = int(self.rng.integers(0, len(committed) - 1))
            cand = int(committed[i]) + 1 + int(self.rng.integers(0, period // 4))
            if cand < committed[i + 1] and cand not in late:
                late.add(cand)
        times = np.concatenate([new, np.array(sorted(late), dtype=np.int64)])
        values = np.round(self.rng.normal(230.0, 5.0, len(times)), 3)
        return times, values


def insert(run: Run, w: Writer, u: str, n: int, timed: bool = True) -> str:
    """One Insert RPC; returns its op kind, "commit" when it crossed the
    flush threshold."""
    times, values = w.batch(u, n)
    sm = run.model.streams[u]
    hot_before = sm.hot
    crossing = hot_before + len(times) >= run.engine.flush_threshold
    kind = "commit" if crossing else "insert"

    def fn():
        meta = run.client.rows("Insert", uuid=u, values=[[int(t), float(v)] for t, v in
                                                         zip(times, values)])[0]
        run.model.insert(u, times, values)
        sm.hot = 0 if crossing else hot_before + len(times)
        return meta

    def check(meta):
        want_minor = 0 if crossing else hot_before + len(times)
        return None if meta.get("versionMinor") == want_minor else \
            f"{kind}: versionMinor {meta.get('versionMinor')} != {want_minor}"

    run.op(kind, fn, check, timed)
    return kind


def ingest_mixed(run: Run, seconds: float, size: float) -> float:
    """Inserts and reads at latest from one client. The writer's 5 000-point
    Insert RPCs go round-robin over the PMU streams; after each insert the
    client reads the stream it just wrote, a RawValues of its last 2 000
    periods and a whole-stream AlignedWindows, so most reads see a non-empty
    insert buffer. Set-up leaves PREFILL points in the first writer stream's
    buffer, so its second timed insert crosses the flush threshold and
    commits to cold storage and the ladder. The loop runs for the run's
    seconds and at least until that commit.

    Reads and writes alternate on one thread: the seed engine serializes
    requests on the driver, so a concurrent reader only added queueing
    noise, and it answers a latest read that overlaps a flush of the same
    stream with every flushed row twice (cold rows are published before
    the buffer is cleared)."""
    n_pts = max(1000, int(IM_POINTS * size))
    uuids = run.load(IM_STREAMS if size >= 1 else 2, n_pts)
    writers = [u for u in uuids if run.model.streams[u].spec.kind == "pmu"]
    w = Writer(run, writers)
    rng = np.random.default_rng([run.seed, 4])

    def reads(u: str, timed: bool):
        tail = w.tail[u]
        read_raw(run, u, tail - 2000 * m.PMU_NS, tail + 1, timed)
        read_aligned(run, rng, u, IM_STAT_PW, timed)

    # warm-ups, one per op type except the commit, whose first call is the
    # timed one (a warm-up commit would double the set-up)
    for u in writers:
        insert(run, w, u, PREFILL if u == writers[0] else INSERT_BATCH, timed=False)
    reads(writers[-1], timed=False)

    t_start = run.start_timed()
    deadline = t_start + seconds
    n, committed = 0, False
    while not committed or time.perf_counter() < deadline:
        u = writers[n % len(writers)]
        committed |= insert(run, w, u, INSERT_BATCH) == "commit"
        reads(u, timed=True)
        n += 1
    return time.perf_counter() - t_start


WORKLOADS = {"interactive_read": interactive_read, "ingest_mixed": ingest_mixed}
