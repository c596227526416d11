"""Seeded point generator, expected-state model and answer checker.

Every stream's points are derived from ``(seed, stream index)`` alone, so the
same seed always yields the same store. The model records each acknowledged
write as one numbered event; a point carries the event that inserted it and
the event that deleted it. ``state k`` is the store after the first ``k``
events, which is what a read sent after ``k`` acknowledgements must see.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

import numpy as np

BASE_T = 1_600_000_000 * 10**9  # 2020-09-13, ns
PMU_NS = 8_333_333               # 120 Hz phasor measurement unit
METER_NS = 60 * 10**9            # one-minute meter: 5 k points span 3 or 4 time partitions
ALIVE = np.iinfo(np.int64).max


@dataclass(frozen=True)
class StreamSpec:
    index: int
    kind: str          # "pmu" or "meter"
    collection: str
    period: int


def stream_specs(n: int, prefix: str = "bench") -> list[StreamSpec]:
    """First half PMU streams, second half meter streams."""
    return [
        StreamSpec(i, kind, f"{prefix}/{kind}{i}", PMU_NS if kind == "pmu" else METER_NS)
        for i in range(n)
        for kind in ["pmu" if i < (n + 1) // 2 else "meter"]
    ]


def gen_points(seed: int, spec: StreamSpec, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Strictly increasing times on the stream's grid with sub-period
    jitter, so every timestamp is distinct; values are exact float64s that
    round-trip through JSON unchanged."""
    rng = np.random.default_rng([seed, spec.index])
    t0 = BASE_T + int(rng.integers(0, 10**12))
    jitter = rng.integers(0, spec.period // 2, n)
    times = t0 + np.arange(n, dtype=np.int64) * spec.period + jitter
    values = np.round(rng.normal(230.0, 5.0, n), 3)
    return times.astype(np.int64), values


class StreamModel:
    """Sorted points of one stream with insert/delete event stamps."""

    def __init__(self, uuid: str, spec: StreamSpec, times, values):
        self.uuid = uuid
        self.spec = spec
        self.t = np.asarray(times, dtype=np.int64)
        self.v = np.asarray(values, dtype=np.float64)
        self.ins = np.zeros(len(self.t), dtype=np.int64)
        self.dead = np.full(len(self.t), ALIVE, dtype=np.int64)
        self.hot = 0  # acknowledged rows still in the engine's insert buffer

    def add(self, times, values, event: int) -> None:
        t = np.concatenate([self.t, np.asarray(times, dtype=np.int64)])
        order = np.argsort(t, kind="stable")
        self.t = t[order]
        self.v = np.concatenate([self.v, np.asarray(values, dtype=np.float64)])[order]
        self.ins = np.concatenate([self.ins, np.full(len(times), event)])[order]
        self.dead = np.concatenate([self.dead, np.full(len(times), ALIVE)])[order]

    def delete(self, start: int, end: int, event: int) -> None:
        i0, i1 = np.searchsorted(self.t, [start, end])
        sl = slice(i0, i1)
        self.dead[sl] = np.where(self.dead[sl] == ALIVE, event, self.dead[sl])

    def visible(self, start: int, end: int, state: int) -> tuple[np.ndarray, np.ndarray]:
        i0, i1 = np.searchsorted(self.t, [start, end])
        m = (self.ins[i0:i1] <= state) & (self.dead[i0:i1] > state)
        return self.t[i0:i1][m], self.v[i0:i1][m]

    def span(self, state: int) -> tuple[int, int]:
        t, _ = self.visible(np.iinfo(np.int64).min, np.iinfo(np.int64).max, state)
        return int(t[0]), int(t[-1])


class Model:
    """All streams plus the global acknowledged-event counter. Writers call
    ``insert``/``delete`` after the RPC is acknowledged; readers take
    ``state()`` before sending and again when the answer has arrived."""

    def __init__(self):
        self.streams: dict[str, StreamModel] = {}
        self.events = 0
        self._lock = threading.Lock()

    def add_stream(self, sm: StreamModel) -> None:
        self.streams[sm.uuid] = sm

    def state(self) -> int:
        with self._lock:
            return self.events

    def insert(self, uuid: str, times, values) -> int:
        with self._lock:
            self.events += 1
            self.streams[uuid].add(times, values, self.events)
            return self.events

    def delete(self, uuid: str, start: int, end: int) -> int:
        with self._lock:
            self.events += 1
            self.streams[uuid].delete(start, end, self.events)
            return self.events

    def visible(self, uuid: str, start: int, end: int, state: int):
        with self._lock:
            return self.streams[uuid].visible(start, end, state)

    def span(self, uuid: str, state: int) -> tuple[int, int]:
        with self._lock:
            return self.streams[uuid].span(state)


# ---------------------------------------------------------------- checker
#
# Each check returns None when the answer is right and a short reason when
# it is wrong; the workload counts a reason as one failed operation.
# ``states`` is the inclusive range of model states the answer may reflect:
# (k, k) for a read that no write overlapped.


def check_raw(model: Model, uuid: str, start: int, end: int, states, rows) -> str | None:
    got = len(rows)
    first = rows[0]["time"] if rows else None
    last = rows[-1]["time"] if rows else None
    options = []
    for k in range(states[0], states[1] + 1):
        t, _ = model.visible(uuid, start, end, k)
        options.append((len(t), int(t[0]) if len(t) else None, int(t[-1]) if len(t) else None))
    lo = min(o[0] for o in options)
    hi = max(o[0] for o in options)
    if not lo <= got <= hi:
        return f"raw count {got} outside [{lo}, {hi}]"
    if first not in {o[1] for o in options} or last not in {o[2] for o in options}:
        return f"raw first/last {first}/{last} not in {options}"
    return None


def _bucket_stats(t: np.ndarray, v: np.ndarray, bucket_of) -> dict[int, tuple]:
    b = bucket_of(t)
    out = {}
    if len(t) == 0:
        return out
    edges = np.flatnonzero(np.diff(b)) + 1
    for lo, hi in zip(np.r_[0, edges], np.r_[edges, len(t)]):
        out[int(b[lo])] = (hi - lo, float(v[lo:hi].min()), float(v[lo:hi].max()))
    return out


def check_aligned(model: Model, uuid: str, start: int, end: int, pw: int, states,
                  rows, sample: np.ndarray) -> str | None:
    """Window set, and count/min/max on the windows picked by ``sample``
    (indices into the answer), against any admissible state."""
    width = 1 << pw
    snap_s = start - start % width
    snap_e = end - end % width
    got = {r["time"]: (r["count"], r["vmin"], r["vmax"]) for r in rows}
    picked = [rows[i]["time"] for i in sample if i < len(rows)]
    for k in range(states[0], states[1] + 1):
        t, v = model.visible(uuid, snap_s, snap_e, k)
        want = _bucket_stats(t, v, lambda x: (x >> pw) << pw)
        if want.keys() == got.keys() and all(
            (want[b][0], want[b][1], want[b][2]) == got[b] for b in picked
        ):
            return None
    return f"aligned pw={pw}: {len(got)} windows disagree with the model"


def check_windows(model: Model, uuid: str, start: int, width: int, nwin: int, states,
                  rows) -> str | None:
    got = [r["count"] for r in rows]
    for k in range(states[0], states[1] + 1):
        t, _ = model.visible(uuid, start, start + nwin * width, k)
        want = np.bincount((t - start) // width, minlength=nwin).tolist()
        if got == want:
            return None
    return f"windows: {len(got)} window counts disagree with the model"


def check_nearest(model: Model, uuid: str, at: int, backward: bool, state: int,
                  meta: dict | None) -> str | None:
    if backward:
        t, v = model.visible(uuid, np.iinfo(np.int64).min, at, state)
        want = (int(t[-1]), float(v[-1])) if len(t) else None
    else:
        t, v = model.visible(uuid, at, np.iinfo(np.int64).max, state)
        want = (int(t[0]), float(v[0])) if len(t) else None
    got = None if meta is None else (meta["time"], meta["value"])
    return None if got == want else f"nearest {got} != {want}"


def check_info(uuid: str, collection: str, version: int, meta: dict) -> str | None:
    got = (meta.get("uuid"), meta.get("collection"), meta.get("versionMajor"))
    want = (uuid, collection, version)
    return None if got == want else f"info {got} != {want}"


def check_changed(start: int, end: int, rows) -> str | None:
    if any(r["range_start"] <= start and end <= r["range_end"] for r in rows):
        return None
    return f"changed ranges {[(r['range_start'], r['range_end']) for r in rows]} miss [{start}, {end})"


def check_total(want: int, got: int, what: str) -> str | None:
    return None if want == got else f"{what}: {got} != {want}"
