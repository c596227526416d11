"""btrdb-python-style client facade — the drop-in surface for reference
users.

The reference is consumed through gRPC bindings whose Python client
exposes ``connect() -> BTrDB`` and ``Stream`` objects (method-per-RPC:
serve.go RawValues:116, AlignedWindows:175, Windows:237, StreamInfo:296,
SetStreamAnnotations:383, Create:456, ListCollections:487,
LookupStreams:510, Nearest:596, Changes:620, Insert:682, Delete:713,
Flush:737, Obliterate:761, Info:818). This module reproduces that calling
convention over the Spark engine, so code written against the reference
client ports by changing only the connect line. Point shapes mirror
btrdb.proto:210-220: RawPoint(time, value), StatPoint(time, min, mean,
max, count).

Materialization contract: like the gRPC client, these methods return
Python values (lists of points), not DataFrames — the streaming RPC
batches (RawBatchSize=5000, serve.go:58) become a single collect. For
engine-scale work (joins, exports, 100 TB scans) use the DataFrame API
(`BTrDBEngine`) directly; this facade is the interactive/porting surface.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import NamedTuple

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .engine import BTrDBEngine


class RawPoint(NamedTuple):
    time: int
    value: float


class StatPoint(NamedTuple):
    time: int
    min: float
    mean: float
    max: float
    count: int


class ChangedRange(NamedTuple):
    start: int
    end: int


def connect(spark: SparkSession, base_dir: str, ladder: bool = True) -> "BTrDB":
    """The btrdb.connect() analog: returns a connection-like handle."""
    return BTrDB(BTrDBEngine(spark, base_dir, ladder=ladder))


class BTrDB:
    """Connection object: collection/stream discovery + creation."""

    def __init__(self, engine: BTrDBEngine):
        self.engine = engine

    def info(self) -> dict:
        return self.engine.info()

    def list_collections(self, prefix: str = "") -> list[str]:
        from . import metadata as md

        return [
            r["collection"]
            for r in md.list_collections(self.engine.streams, prefix=prefix).collect()
        ]

    def streams_in_collection(
        self,
        collection: str = "",
        is_collection_prefix: bool = True,
        tags: Mapping[str, str | None] | None = None,
        annotations: Mapping[str, str | None] | None = None,
    ) -> list["Stream"]:
        from . import metadata as md

        rows = md.lookup_streams(
            self.engine.streams,
            collection,
            is_prefix=is_collection_prefix,
            tags=tags,
            annotations=annotations,
        ).collect()
        return [Stream(self.engine, r["uuid"]) for r in rows]

    def stream_from_uuid(self, uuid: str) -> "Stream":
        from . import metadata as md

        if not md.live(self.engine.streams).filter(F.col("uuid") == uuid).count():
            raise KeyError(f"no such stream: {uuid}")
        return Stream(self.engine, uuid)

    def create(
        self,
        uuid: str | None,
        collection: str,
        tags: Mapping[str, str] | None = None,
        annotations: Mapping[str, str] | None = None,
    ) -> "Stream":
        u = self.engine.create_stream(
            collection, tags=tags, annotations=annotations, uuid=uuid
        )
        return Stream(self.engine, u)

    def delete_ranges(
        self, ranges: Sequence[tuple[str, int, int]]
    ) -> dict[str, int]:
        """Batched range delete across streams (the compliance-erasure
        shape): one commit for the whole (uuid, start, end) batch, each
        stream bumped to its own new version — engine.delete_ranges."""
        return self.engine.delete_ranges(list(ranges))

    def generate_csv(
        self,
        streams: Sequence["Stream | str"],
        start: int,
        end: int,
        labels: Sequence[str] | None = None,
        rfc3339: bool = True,
        version: int | None = None,
    ) -> list[tuple]:
        """GenerateCSV raw mode (serve.go:874-1005): one row per distinct
        timestamp across the streams, value columns in stream order,
        nulls where a stream has no point. Returns materialized rows;
        for a distributed CSV export call operators.csv.csv_raw and
        `.write.csv(...)` instead."""
        from .operators.csv import csv_raw

        uuids = [s.uuid if isinstance(s, Stream) else s for s in streams]
        pts, dels = self.engine._queryable(version, None, start, end)
        df = csv_raw(
            pts, uuids, start, end,
            labels=labels, rfc3339=rfc3339, version=version, deletes=dels,
        )
        return [tuple(r) for r in df.collect()]


class Stream:
    """One stream: method-per-RPC, materialized results."""

    def __init__(self, engine: BTrDBEngine, uuid: str):
        self.engine = engine
        self._uuid = uuid

    # ---------- identity / metadata ----------

    @property
    def uuid(self) -> str:
        return self._uuid

    def _row(self):
        row = self.engine.stream_row(self._uuid)
        if row is None or row["tombstoned"] is not None:
            raise KeyError(f"no such stream: {self._uuid}")
        return row

    def collection(self) -> str:
        return self._row()["collection"]

    def tags(self) -> dict:
        return dict(self._row()["tags"] or {})

    def annotations(self) -> tuple[dict, int]:
        """(annotations, property_version) — StreamInfo's CAS token."""
        r = self._row()
        return dict(r["annotations"] or {}), r["annotation_version"]

    def update(self, annotations: Mapping[str, str | None]) -> int:
        """CAS annotation update at the current property version (the
        interactive convenience; pass-through to SetStreamAnnotations)."""
        _, ver = self.annotations()
        self.engine.set_annotations(self._uuid, ver, annotations)
        return ver + 1

    def version(self) -> int:
        return self.engine.stream_version(self._uuid)[0]

    # ---------- write path ----------

    def insert(self, data: Sequence[tuple[int, float]], sync: bool = False) -> int:
        maj, _min = self.engine.insert(self._uuid, list(data), sync=sync)
        return maj

    def flush(self) -> int:
        return self.engine.flush(self._uuid)[0]

    def delete(self, start: int, end: int) -> int:
        return self.engine.delete_range(self._uuid, start, end)

    def obliterate(self) -> None:
        self.engine.obliterate(self._uuid)

    # ---------- read path ----------

    def values(self, start: int, end: int, version: int | None = None) -> list[RawPoint]:
        return [
            RawPoint(r["time"], r["value"])
            for r in self.engine.raw_values_rows(self._uuid, start, end, version=version)
        ]

    def aligned_windows(
        self, start: int, end: int, pointwidth: int, version: int | None = None
    ) -> list[StatPoint]:
        return [
            StatPoint(r["bucket_start"], r["vmin"], r["vmean"], r["vmax"], r["cnt"])
            for r in self.engine.aligned_windows_rows(
                self._uuid, start, end, pointwidth, version=version
            )
        ]

    def windows(
        self,
        start: int,
        end: int,
        width: int,
        depth: int | None = None,
        version: int | None = None,
    ) -> list[StatPoint]:
        """Windows (A2): one StatPoint per width-ns window anchored at
        start, empty windows included (count 0, null stats). Read through
        BTrDBEngine.windows_rows: a latest read of a stream without
        tombstones or buffered rows, whose width routes to a ladder level,
        is answered on the driver by the Arrow tier with no Spark job;
        other reads (pinned, ``depth``, deleted or buffered streams) run
        the windows plan."""
        return [
            StatPoint(r["window_start"], r["vmin"], r["vmean"], r["vmax"], r["cnt"])
            for r in self.engine.windows_rows(
                self._uuid, start, end, width, version=version, depth=depth
            )
        ]

    def nearest(
        self, time: int, version: int | None = None, backward: bool = False
    ) -> RawPoint | None:
        """Nearest (J3): the point just before ``time`` (backward) or at or
        after it (forward), or None. Answered on the driver by the Arrow
        tier (BTrDBEngine.nearest), pinned or at latest with the hot
        buffer: no Spark job, one time bucket read in the common case."""
        got = self.engine.nearest(self._uuid, time, backward, version=version)
        return RawPoint(*got) if got is not None else None

    def earliest(self, version: int | None = None) -> RawPoint | None:
        """First point of the stream (Nearest forward from MIN_TIME)."""
        from .schemas import MIN_TIME

        return self.nearest(MIN_TIME, version=version, backward=False)

    def latest(self, version: int | None = None) -> RawPoint | None:
        """Last point of the stream (Nearest backward from MAX_TIME)."""
        from .schemas import MAX_TIME

        return self.nearest(MAX_TIME, version=version, backward=True)

    def count(self, start: int, end: int, version: int | None = None) -> int:
        """Point count in [start, end) — served as one aggregate, and by
        the rollup ladder where a level aligns."""
        return (
            self.engine.raw_values(self._uuid, start, end, version=version)
            .groupBy()
            .count()
            .first()[0]
        )

    def changes(self, from_version: int, to_version: int | None, resolution: int) -> list[ChangedRange]:
        return [
            ChangedRange(r["range_start"], r["range_end"])
            for r in self.engine.changed_ranges(
                self._uuid, from_version, to_version, resolution
            ).collect()
        ]
