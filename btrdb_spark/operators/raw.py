"""Raw value scans and nearest-point (as-of) lookups.

Reference semantics:
- RawValues (S5): points of one stream in [start, end) — start inclusive,
  end exclusive — time-ascending, at a pinned version
  (grpcinterface/serve.go:116-174, qtree/qtree.go:962-1025).
- Nearest (J3): forward = first point with t >= T; backward = last point
  with t < T (strictly — qtree/qtree.go:24-26).

Scale notes: the filter is a pure conjunctive predicate on (uuid, time,
version) — Catalyst pushes it into the parquet scan (PushedFilters), and with
a (uuid_bucket, time_bucket)-partitioned layout it prunes partitions, which
is the distributed analog of the reference's tree descent. A single-stream
result is sorted inside one partition (coalesce(1) + sortWithinPartitions):
no sampling job and no range exchange, at the price that one task, and the
process that drains it, hold that stream's whole range result. The engine's
service and client path (BTrDBEngine.raw_values_rows) answers a
single-stream read on the driver with pyarrow instead, with the same
filter, delete rule and order, and no Spark job; the driver holds the
whole result either way. A multi-stream result keeps the range-partitioned
orderBy. The set-oriented nearest over *all* streams is one shuffle
(groupBy uuid); the engine answers a single-stream nearest on the driver
(btrdb_spark/tier.py nearest) with the same pick and tie rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def at_version(points: DataFrame, version: int | None = None) -> DataFrame:
    """Query-at-version (V1): keep rows committed at or before `version`.

    None means latest. Reference: every read RPC takes versionMajor
    (grpcinterface/serve.go:130-133); a version-v snapshot contains exactly
    the rows with version <= v.
    """
    if version is None:
        return points
    return points.filter(F.col("version") <= F.lit(version))


def apply_deletes(points: DataFrame, deletes: DataFrame | None, version: int | None = None) -> DataFrame:
    """Anti-filter range tombstones (V3) visible at `version`.

    A delete at version d hides points with earlier versions in [start, end)
    from any snapshot v >= d; rows re-inserted after the delete (version > d)
    are visible again (COW semantics: quasar.go:481-514).
    """
    if deletes is None:
        return points
    d = at_version(deletes, version).select(
        F.col("uuid").alias("d_uuid"),
        F.col("start").alias("d_start"),
        F.col("end").alias("d_end"),
        F.col("version").alias("d_version"),
    )
    cond = (
        (F.col("uuid") == F.col("d_uuid"))
        & (F.col("time") >= F.col("d_start"))
        & (F.col("time") < F.col("d_end"))
        & (F.col("version") <= F.col("d_version"))
    )
    # Broadcast: the tombstone set is tiny relative to points.
    return points.join(F.broadcast(d), on=cond, how="left_anti")


def raw_values(
    points: DataFrame,
    uuid: str | None,
    start: int,
    end: int,
    version: int | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """S5: time-ordered scan of [start, end) for one stream (or all if None)."""
    df = apply_deletes(at_version(points, version), deletes, version)
    if uuid is not None:
        df = df.filter(F.col("uuid") == F.lit(uuid))
    df = df.filter((F.col("time") >= F.lit(start)) & (F.col("time") < F.lit(end)))
    df = df.select("uuid", "time", "value")
    if uuid is not None:
        # one stream: sort inside a single partition — no sampling job,
        # no range exchange; the rows arrive in the same order orderBy gives
        return df.coalesce(1).sortWithinPartitions("time", "value")
    return df.orderBy("uuid", "time", "value")


def _nearest_pick(df: DataFrame, t: int, backward: bool) -> tuple[DataFrame, Column, Column]:
    """(rows on the query's side of t, the pick aggregate ``p``, the
    picked value column) for J3. backward: max(time) with time < t
    (exclusive); forward: min(time) with time >= t (qtree/qtree.go:24-26).
    Among duplicate timestamps the reference returns the stored-order
    point; we deterministically return the max value (documented
    divergence, duplicates are pathological). max/min of a struct picks
    the row without a window sort."""
    if backward:
        # max(time), tie -> max(value)
        pick = F.max(F.struct(F.col("time"), F.col("value"))).alias("p")
        return df.filter(F.col("time") < F.lit(t)), pick, F.col("p.value")
    # min(time), tie -> max(value): order by (time, -value) ascending
    pick = F.min(F.struct(F.col("time"), (-F.col("value")).alias("nv"))).alias("p")
    return df.filter(F.col("time") >= F.lit(t)), pick, -F.col("p.nv")


def nearest_all(
    points: DataFrame,
    t: int,
    backward: bool,
    version: int | None = None,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """J3 set-oriented: nearest point to t for every stream at once
    (pick and tie rule: _nearest_pick). One shuffle: filter -> per-uuid
    argmin/argmax."""
    df = apply_deletes(at_version(points, version), deletes, version)
    df, pick, val = _nearest_pick(df, t, backward)
    out = df.groupBy("uuid").agg(pick)
    return out.select("uuid", F.col("p.time").alias("time"), val.alias("value")).orderBy("uuid")


def snapshot(points: DataFrame, at: int, lookback: int | None = None) -> DataFrame:
    """As-of snapshot of EVERY stream at time ``at``: each stream's
    latest point with time <= at — the "current value of the whole
    plant" dashboard query (the multi-stream generalization of J3
    nearest-before; reference qtree.go FindNearestValue serves the
    single-stream case).

    ``lookback`` bounds how far back a stale stream may reach (and, on
    the partitioned store, how many time_bucket directories the scan
    touches — without it the scan cost is O(history), with it
    O(lookback)). Ties on time break to the larger value (matching
    nearest-before's determinism rule).

    One shuffle on uuid (max_by struct — map-side combinable partial
    aggregation, no window sort).
    """
    df = points.filter(F.col("time") <= F.lit(at))
    if lookback is not None:
        df = df.filter(F.col("time") > F.lit(at - lookback))
    agg = df.groupBy("uuid").agg(
        F.max(F.struct(F.col("time"), F.col("value"))).alias("p")
    )
    return agg.select(
        "uuid", F.col("p.time").alias("time"), F.col("p.value").alias("value")
    ).orderBy("uuid")


def snapshot_oracle_sql(points_sql: str, at: int, lookback: int | None = None) -> str:
    lb = f"AND time > {at - lookback}" if lookback is not None else ""
    return f"""
        WITH r AS (
            SELECT uuid, time, value,
                   ROW_NUMBER() OVER (PARTITION BY uuid
                                      ORDER BY time DESC, value DESC) AS rn
            FROM {points_sql} p WHERE time <= {at} {lb}
        )
        SELECT uuid, time, value FROM r WHERE rn = 1 ORDER BY uuid
    """
