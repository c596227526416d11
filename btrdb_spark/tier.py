"""The driver's Arrow tier: single-stream reads answered on the driver.

BTrDBEngine answers RawValues, AlignedWindows, Windows and Nearest of one
stream here, with pyarrow over the store's parquet files and no Spark job.
Every answer equals the Spark plan it stands in for exactly
(tests/test_raw_tier.py, tests/test_arrow_tier.py and tests/test_tier.py
compare them). The readers share three pieces:

- the slice reader (``_Slice``): one stream's cold points from its
  uuid_bucket/time_bucket directories, its hot rows at latest, and its
  tombstones, applied as operators.raw.apply_deletes applies them;
- the fold (``_fold``): unit partials of raw points and ladder-level
  partials grouped on one key, finalized with ``vmean = float(vsum) /
  cnt`` (Python's Decimal-to-float is correctly rounded like Spark's
  cast, which Arrow's decimal cast is not);
- the cast kernel (``dec6``): Spark's double -> decimal(38,6) cast.

A reader returns None for a read it cannot answer exactly, or whose slice
holds more than ARROW_MAX_ROWS rows; the engine then runs the read's Spark
plan.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

from . import store as store_mod
from .plans.rollup import route_level, route_level_width

# Largest slice, in rows, that a stat reader (aligned_windows, windows)
# loads on the driver: the level rows its filter keeps plus the raw rows it
# folds in, and for windows the window count. A read over the bound stays
# on Spark. It bounds driver memory (about 60 B a row in Arrow); it is not
# a knob. Raw reads have no bound (see raw).
ARROW_MAX_ROWS = 1 << 18

DEC6 = pa.decimal128(38, 6)
# |value| bound of Spark's ladder sums (functions/decsum.py): a stat read
# that would fold a larger raw value stays on Spark
MAX_FOLD_ABS = 9.2e12

_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1
_ROWS = pa.schema([("time", pa.int64()), ("value", pa.float64())])
_TIME_BUCKET = ds.partitioning(pa.schema([("time_bucket", pa.int64())]), flavor="hive")
_STATS = ["cnt", "vmin", "vmax", "vsum"]
_LEVEL = pa.schema([("bucket_start", pa.int64()), ("cnt", pa.int64()), ("vmin", pa.float64()),
                    ("vmax", pa.float64()), ("vsum", DEC6)])
_WINDOWS = pa.schema([("window_start", pa.int64()), ("cnt", pa.int64()), ("vmin", pa.float64()),
                      ("vmean", pa.float64()), ("vmax", pa.float64())])
_CTX = Context(prec=60)
_MICRO = Decimal("0.000001")


# ---------------------------------------------------------------- the kernel

def dec6(values, spark) -> pa.Array:
    """Spark's ``cast(v as decimal(38,6))`` of a float64 array, as an Arrow
    decimal128(38, 6) array, computed on the driver without a Spark job.

    Spark rounds HALF_UP on the digits of ``java.lang.Double.toString(v)``,
    not on the binary value: 5e-7 casts to 0.000001 although the double
    lies just below the tie. Every string that reads back as ``v`` lies
    within half an ulp of it, so where the exact binary value is further
    than that from every tie point (k + 1/2)·1e-6, all such strings round
    alike and numpy rounds the binary value. The rest (near-ties, and
    magnitudes above about 1e9, where v·1e6 is inexact) take the JVM's own
    ``Double.toString`` in one batched py4j call, which runs no Spark job:
    JDK 17's string is not always the shortest (JDK-4511638), so Python's
    repr would not do. Values of 1e32 and more overflow decimal(38,6) and
    raise OverflowError, where Spark's ANSI cast raises."""
    v = np.ascontiguousarray(values, dtype=np.float64)
    a = np.abs(v)
    whole = np.floor(a * 1e6)
    frac = a * 1e6 - whole
    # p = fl(a·1e6) is within 1e6·spacing(a) of the exact product, and the
    # strings within 0.5e6·spacing(a) more: 2e6 leaves a margin
    near = ~(np.abs(frac - 0.5) > 2e6 * np.spacing(a))
    k = np.where(near, 0.0, whole + (frac > 0.5)).astype(np.int64)
    words = np.empty((len(v), 2), dtype=np.int64)
    words[:, 0] = np.where(np.signbit(v), -k, k)
    words[:, 1] = words[:, 0] >> 63
    idx = np.flatnonzero(near)
    if len(idx):
        for i, s in zip(idx, _jdk_strings(v[idx], spark)):
            u = int(Decimal(s).quantize(_MICRO, ROUND_HALF_UP, _CTX).scaleb(6, _CTX))
            if abs(u) >= 10**38:
                raise OverflowError(f"{s} overflows decimal(38,6)")
            lo = u & ((1 << 64) - 1)
            words[i] = (lo - (1 << 64) if lo >> 63 else lo, u >> 64)
    return pa.Array.from_buffers(DEC6, len(v), [None, pa.py_buffer(words)])


def _jdk_strings(v: np.ndarray, spark) -> list[str]:
    """``java.lang.Double.toString`` of each value, in one batch: the
    doubles cross py4j as one byte[] and come back as one
    ``Arrays.toString`` string."""
    jvm = spark._jvm
    buf = jvm.java.nio.ByteBuffer.wrap(bytearray(v.astype(">f8").tobytes()))
    arr = spark.sparkContext._gateway.new_array(jvm.double, len(v))
    buf.asDoubleBuffer().get(arr)
    return jvm.java.util.Arrays.toString(arr)[1:-1].split(", ")


# ---------------------------------------------------------- the slice reader

class _Slice:
    """One stream's rows as a read at ``version`` (None = latest) sees them:
    cold points with ``version <= v`` when pinned, minus the tombstones
    visible at v (a tombstone drops every cold point with ``d_start <= time
    < d_end`` and ``version <= d_version``), plus the hot rows at latest,
    which no tombstone drops (a delete flushes the buffer first). A
    pending-GC stream has no rows. Duplicates are kept and rows come in
    file order, not sorted."""

    def __init__(self, eng, uuid: str, version: int | None):
        self.eng, self.uuid, self.version = eng, uuid, version
        self.gone = uuid in eng._pending_gc
        sub = f"uuid_bucket={eng._bucket_of(uuid)}"
        self.cold = eng._dataset("points", sub, _TIME_BUCKET)
        self.hot = eng._dataset("hot", sub) if version is None else None
        self._tombstones: list[tuple[int, int, int]] | None = None

    def _span(self, lo: int, hi: int):
        return (ds.field("uuid") == self.uuid) & (ds.field("time") >= lo) & (ds.field("time") <= hi)

    def time_buckets(self) -> list[int]:
        """The time_bucket keys of the stream's partition directory that
        hold files, ascending (another stream of the uuid_bucket may own
        some of them)."""
        if self.gone or self.cold is None:
            return []
        return sorted({
            ds.get_partition_keys(f.partition_expression)["time_bucket"]
            for f in self.cold.get_fragments()
        })

    def cold_batches(self, lo: int, hi: int):
        """Record batches ``(time, value)`` of the live cold points with
        ``lo <= time <= hi`` (int64 bounds): the time_bucket directories
        in range are read, and footer statistics skip row groups."""
        if self.gone or self.cold is None or lo > hi:
            return
        pw = self.eng.time_partition_pw
        f = self._span(lo, hi) & (ds.field("time_bucket") >= (lo >> pw)) & (
            ds.field("time_bucket") <= (hi >> pw)
        )
        if self.version is not None:
            f = f & (ds.field("version") <= self.version)
        for batch in self.cold.to_batches(columns=["time", "value", "version"], filter=f):
            if batch.num_rows:
                yield self._live(batch)

    def _live(self, batch: pa.RecordBatch) -> pa.RecordBatch:
        if self._tombstones is None:
            dels = self.eng._dataset("deletes")
            self._tombstones = []
            if dels is not None:
                f = ds.field("uuid") == self.uuid
                if self.version is not None:
                    f = f & (ds.field("version") <= self.version)
                d = dels.to_table(columns=["start", "end", "version"], filter=f)
                self._tombstones = list(zip(*(d[c].to_pylist() for c in ("start", "end", "version"))))
        out = batch.select(["time", "value"])
        if not self._tombstones:
            return out
        t, v = batch["time"].to_numpy(), batch["version"].to_numpy()
        keep = np.ones(len(t), dtype=bool)
        for d_s, d_e, d_v in self._tombstones:
            keep &= ~((t >= d_s) & (t < d_e) & (v <= d_v))
        return out.filter(pa.array(keep))

    def hot_batches(self, lo: int, hi: int):
        """Record batches ``(time, value)`` of the hot rows with ``lo <=
        time <= hi``; none at a pinned version."""
        if self.gone or self.hot is None or lo > hi:
            return
        for batch in self.hot.to_batches(columns=["time", "value"], filter=self._span(lo, hi)):
            if batch.num_rows:
                yield batch


def _table(batches) -> pa.Table:
    """The batches as one ``(time, value)`` table."""
    return pa.concat_tables(
        [_ROWS.empty_table(), *(pa.Table.from_batches([b]).cast(_ROWS) for b in batches)]
    )


def _bounds(start: int, end: int) -> tuple[int, int]:
    """A half-open [start, end) range as a closed int64 range."""
    return max(start, _I64_MIN), min(end - 1, _I64_MAX)


def raw(eng, uuid: str, start: int, end: int, version: int | None) -> pa.Table:
    """RawValues: a Table ``(time, value)`` sorted by (time, value), the
    rows operators.raw.raw_values returns over the engine's _queryable.

    The result has no row bound. The Spark plan of a single-stream read is
    one partition, which the driver fetches whole as well, and it is
    slower at every size: on a 4-vCPU VM (local[4]) a warm 262 145-row
    read took 0.40 s here and 2.4 s on Spark, a 1 000 000-row read 1.7 s
    and 9.5 s (medians of 5, rows consumed as dicts)."""
    lo, hi = _bounds(start, end)
    s = _Slice(eng, uuid, version)
    return _table([*s.cold_batches(lo, hi), *s.hot_batches(lo, hi)]).sort_by(
        [("time", "ascending"), ("value", "ascending")]
    )


# ------------------------------------------------------------------ Nearest

def _pick(batches, backward: bool) -> tuple[int, float] | None:
    """operators.raw._nearest_pick over the rows of ``batches``: backward
    the max time, forward the min time, and among equal times the max
    value."""
    tbl = _table(batches)
    if not tbl.num_rows:
        return None
    t, v = tbl["time"].to_numpy(), tbl["value"].to_numpy()
    at = t.max() if backward else t.min()
    return int(at), float(v[t == at].max())


def nearest(eng, uuid: str, t: int, backward: bool, version: int | None):
    """Nearest (J3): ``(time, value)`` of the stream's nearest point
    before t (backward, time < t) or at-or-after t (forward), or None.

    The cold side visits only the time_bucket directories that hold
    files, outward from t (backward: buckets <= bucket(t - 1), descending;
    forward: buckets >= bucket(t), ascending), and stops at the first one
    with a live point on the query's side: the cost is one bucket, not the
    stream's prefix. At latest the hot rows on that side are picked too,
    and the better of the two picks wins under the same rule."""
    lo, hi = (_I64_MIN, min(t - 1, _I64_MAX)) if backward else (max(t, _I64_MIN), _I64_MAX)
    if lo > hi:
        return None
    s = _Slice(eng, uuid, version)
    pw = eng.time_partition_pw
    buckets = s.time_buckets()
    if backward:
        buckets = [b for b in reversed(buckets) if b <= hi >> pw]
    else:
        buckets = [b for b in buckets if b >= lo >> pw]
    picks = []
    for b in buckets:
        cold = _pick(s.cold_batches(max(lo, b << pw), min(hi, ((b + 1) << pw) - 1)), backward)
        if cold is not None:
            picks.append(cold)
            break
    hot = _pick(s.hot_batches(lo, hi), backward)
    if hot is not None:
        picks.append(hot)
    if not picks:
        return None
    if backward:
        return max(picks)
    return min(picks, key=lambda p: (p[0], -p[1]))


# ------------------------------------------------------------ the stat fold

_PARTIALS = pa.schema([("key", pa.int64()), ("cnt", pa.int64()), ("vmin", pa.float64()),
                       ("vmax", pa.float64()), ("vsum", DEC6)])


def _partials(key: np.ndarray, stats: pa.Table) -> pa.Table:
    """Partials ``(key, cnt, vmin, vmax, vsum)``: ``stats`` holds the four
    stat columns, ``key`` the group of each row."""
    return pa.Table.from_arrays(
        [pa.array(key, pa.int64()), *(stats[c] for c in _STATS)], schema=_PARTIALS
    )


def _units(key: np.ndarray, values: np.ndarray, spark) -> pa.Table:
    """Unit partials of raw points: cnt 1, vmin = vmax = v and vsum =
    dec6(v), as rollup_points aggregates them."""
    stats = pa.table({
        "cnt": pa.array(np.ones(len(key), np.int64)), "vmin": pa.array(values),
        "vmax": pa.array(values), "vsum": dec6(values, spark),
    })
    return _partials(key, stats)


def _fold(parts: list[pa.Table]):
    """Group the partials on ``key`` (the OpReduce combine: sum, min, max,
    exact decimal sum) and finalize: ``(key, cnt, vmin, vmean, vmax)``
    sorted by key."""
    g = (
        pa.concat_tables(parts)
        .group_by("key")
        .aggregate([("cnt", "sum"), ("vmin", "min"), ("vmax", "max"), ("vsum", "sum")])
        .sort_by("key")
    )
    cnt = g["cnt_sum"]
    vmean = [float(s) / c for s, c in zip(g["vsum_sum"].to_pylist(), cnt.to_pylist())]
    return g["key"], cnt, g["vmin_min"], pa.array(vmean, pa.float64()), g["vmax_max"]


def _level_rows(eng, lvl: int, uuid: str, lo: int, hi: int, version: int | None):
    """Level lvl's main (additive) rows of the stream with ``lo <=
    bucket_start < hi`` (and ``version <= v`` when pinned) as a Table, or
    None past ARROW_MAX_ROWS rows, counted as the filtered scan streams
    in. A level never written has no rows, as the Spark plan reads it."""
    ladder = eng.ladder
    level = store_mod.memo_dataset(ladder.store, ladder._ds_memo, ladder.base, ladder._name(lvl))
    if level is None:
        return _LEVEL.empty_table()
    cond = (ds.field("uuid") == uuid) & (ds.field("bucket_start") >= lo) & (ds.field("bucket_start") < hi)
    if version is not None:
        cond = cond & (ds.field("version") <= version)
    scan = level.scanner(columns=_LEVEL.names, filter=cond)
    batches, rows = [], 0
    for batch in scan.to_batches():
        rows += batch.num_rows
        if rows > ARROW_MAX_ROWS:
            return None
        batches.append(batch)
    return pa.Table.from_batches(batches, scan.projected_schema)


def _foldable(batches, budget: int):
    """(time, value) numpy arrays of the batches, or None past ``budget``
    rows or when a value is out of the fold's range."""
    tbl = _table(batches)
    if tbl.num_rows > budget:
        return None
    t, v = tbl["time"].to_numpy(), tbl["value"].to_numpy()
    if len(v) and np.abs(v).max() >= MAX_FOLD_ABS:
        return None
    return t, v


def aligned_windows(eng, uuid: str, start: int, end: int, pw: int,
                    version: int | None, hot: bool) -> pa.Table | None:
    """AlignedWindows (A1) of a stream without tombstones: a Table
    ``(bucket_start, cnt, vmin, vmean, vmax)`` sorted by bucket, equal to
    the ladder's Spark plan (``RollupLadder.aligned_windows`` with
    ``include_rebase=False``, or the A5/A6 hot merge when ``hot``).

    The partials are the routed level's rows in the snapped range (and
    ``version <= v`` when pinned), re-bucketed to pw; with ``hot`` (a
    latest read of a buffered stream) each hot row with ``snap_s <= time
    < snap_e`` joins them as a unit partial. None when pw is finer than the
    ladder or past the int64 grid, or when level rows plus hot rows exceed
    ARROW_MAX_ROWS."""
    lvl = route_level(pw, eng.ladder.levels)
    if lvl is None or pw > 62:
        return None
    width = 1 << pw
    snap_s, snap_e = start - start % width, end - end % width
    level = _level_rows(eng, lvl, uuid, snap_s, snap_e, version)
    if level is None:
        return None
    b = level["bucket_start"].to_numpy()
    parts = [_partials((b >> pw) << pw, level)]
    if hot:
        s = _Slice(eng, uuid, None)
        got = _foldable(s.hot_batches(*_bounds(snap_s, snap_e)), ARROW_MAX_ROWS - level.num_rows)
        if got is None:
            return None
        t, v = got
        parts.append(_units((t >> pw) << pw, v, eng.spark))
    key, cnt, vmin, vmean, vmax = _fold(parts)
    return pa.table({"bucket_start": key, "cnt": cnt, "vmin": vmin, "vmean": vmean, "vmax": vmax})


def windows(eng, uuid: str, start: int, end: int, width: int) -> pa.Table | None:
    """Windows (A2) of a committed stream without tombstones at latest: a
    Table ``(window_start, cnt, vmin, vmean, vmax)`` ordered by window,
    equal to plans/rollup.py windows_from_rollup over the routed level.

    End rounding, errors and the window grid are windows_from_rollup's: a
    level bucket [b, b + w) wholly inside [start, end) and inside one
    window contributes its partial (level slice ``start - w <= b < end``);
    every point with ``start <= time < end`` whose level bucket is not
    interior contributes a unit partial. Every window in [0, n_windows)
    gets a row, with cnt 0 and null stats when empty, unless no window
    has a point: then there are no rows. None when width routes to no
    level, when the window count, the level slice or the edge points
    exceed ARROW_MAX_ROWS, or when the bounds leave the range in which
    no int64 step can overflow."""
    if width <= 0:
        raise ValueError("width must be positive")
    end = end - (end - start) % width
    n = (end - start) // width
    if n <= 0:
        raise ValueError("empty window range")
    lvl = route_level_width(width, eng.ladder.levels)
    if (
        lvl is None or n > ARROW_MAX_ROWS
        or start < -(1 << 62) or end > 1 << 62 or end - start > 1 << 62
    ):
        return None
    w = 1 << lvl

    def interior(b):
        return (b >= start) & (b + w <= end) & ((b - start) // width == (b + (w - 1) - start) // width)

    level = _level_rows(eng, lvl, uuid, start - w, end, None)
    if level is None:
        return None
    b = level["bucket_start"].to_numpy()
    inside = interior(b)
    parts = [_partials((b[inside] - start) // width, level.filter(pa.array(inside)))]
    edges, rows = [], 0
    for batch in _Slice(eng, uuid, None).cold_batches(*_bounds(start, end)):
        t = batch["time"].to_numpy()
        keep = ~interior((t >> lvl) << lvl)
        rows += int(keep.sum())
        if rows > ARROW_MAX_ROWS:
            return None
        edges.append(batch.filter(pa.array(keep)))
    got = _foldable(edges, ARROW_MAX_ROWS)
    if got is None:
        return None
    t, v = got
    parts.append(_units((t - start) // width, v, eng.spark))
    key, cnt, vmin, vmean, vmax = _fold(parts)
    if not len(key):
        return _WINDOWS.empty_table()
    # scatter the groups onto the full window grid: empty windows get cnt 0
    # and null stats
    idx = key.to_numpy()
    empty = np.ones(n, dtype=bool)
    empty[idx] = False

    def spread(col, dtype):
        arr = np.zeros(n, dtype=dtype)
        arr[idx] = col.to_numpy()
        return arr

    return pa.Table.from_arrays([
        pa.array(start + np.arange(n, dtype=np.int64) * width),
        pa.array(spread(cnt, np.int64)),
        *(pa.array(spread(c, np.float64), mask=empty) for c in (vmin, vmean, vmax)),
    ], schema=_WINDOWS)
