"""Canonical schemas and time-domain constants.

Data model mirrors the reference (SURVEY.md §1):
- a *stream* is an unbounded set of (time:int64 ns, value:float64) points
  identified by a uuid (reference: qtree/qtree_utils.go:36-39);
- metadata (collection/tags/annotations) lives in a separate streams table
  (reference: internal/mprovider/metaprovider.go:42-47);
- every commit stamps a monotonically increasing per-stream version
  (reference: internal/bstore/blocktypes.go:40-47).
"""

from __future__ import annotations

from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Valid time domain [MIN_TIME, MAX_TIME) — reference qtree/qtree_utils.go:25-26.
MIN_TIME = -(16 << 56)
MAX_TIME = 48 << 56
# Inserts additionally reject t >= MAX_TIME - 1 (reference quasar.go:86-88).
MAX_INSERT_TIME = MAX_TIME - 1

# Version bookkeeping — reference internal/bprovider/bprovider.go:32-33.
VERSION_CREATED = 9      # stream created, no data committed yet
VERSION_FIRST_DATA = 10  # first committed write
VERSION_LATEST = (1 << 64) - 1  # sentinel "latest" in the RPC API

# Storage geometry analogs (used by the rollup ladder, plans/rollup.py) —
# reference internal/bstore/bstore.go:16-21, qtree/qtree_utils.go:22-24.
PWFACTOR = 6   # each rollup level is 2^6 = 64x coarser than the next
ROOTPW = 56

POINTS_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("time", LongType(), False),
        StructField("value", DoubleType(), False),
        StructField("version", LongType(), False),
    ]
)

HOT_POINTS_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("time", LongType(), False),
        StructField("value", DoubleType(), False),
        StructField("seq", LongType(), False),  # insert order within buffer
        # wall-clock ms at append; drives the age-triggered flush
        # (pqm.go:29-35 MaxPQMBufferAge). append_hot stamps every row.
        StructField("ingest_ts", LongType(), True),
    ]
)

STREAMS_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("collection", StringType(), False),
        StructField("tags", MapType(StringType(), StringType()), True),
        StructField("annotations", MapType(StringType(), StringType()), True),
        StructField("annotation_version", LongType(), False),
        StructField("tombstoned", StringType(), True),  # non-null => deleted
    ]
)

DELETES_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("start", LongType(), False),  # inclusive
        StructField("end", LongType(), False),    # exclusive
        StructField("version", LongType(), False),
    ]
)

# One row of the deferred-obliterate journal (engine.obliterate(defer_gc=True))
GC_PENDING_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), True),
        StructField("requested", LongType(), True),  # ns since the epoch
    ]
)

# One row of a rollup-ladder level (plans/rollup.py): the partials of one
# (uuid, bucket, commit version)
LEVEL_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), False),
        StructField("bucket_start", LongType(), False),
        StructField("version", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("vmin", DoubleType(), False),
        StructField("vmax", DoubleType(), False),
        StructField("vsum", DecimalType(38, 6), False),
    ]
)

STAT_POINT_COLUMNS = ["bucket_start", "cnt", "vmin", "vmean", "vmax"]
