"""Crash-injection tests for the atomic generation-pointer store.

The reference's commit is a superblock flip after all blocks are durable
(internal/bstore/blockstore.go:317-360): a crash at ANY instant leaves
either the old or the new table fully live, never a missing/half-swapped
one. btrdb_spark/store.py reproduces that contract for parquet tables;
these tests kill the rewrite at each step and assert the table is still
whole.
"""

from __future__ import annotations

import os

import pytest

from btrdb_spark import store
from btrdb_spark.engine import BTrDBEngine


class Boom(RuntimeError):
    pass


@pytest.fixture()
def engine(spark, tmp_path):
    return BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=10_000)


def _crash_publish(monkeypatch):
    """Make every pointer flip die AFTER the new generation is written but
    BEFORE it becomes live — the worst instant of the old rmtree+rename."""
    # patch the backend class so every engine (whatever backend instance
    # it holds, incl. store.DEFAULT) dies at the flip
    monkeypatch.setattr(
        store.PosixStore, "publish", lambda *a, **k: (_ for _ in ()).throw(Boom())
    )


def test_compact_crash_preserves_table(engine, monkeypatch):
    u = engine.create_stream("c/crash")
    for b in range(3):
        engine.insert(u, [(b * 100 + i, float(i)) for i in range(20)], sync=True)
    before = engine.raw_values(u, 0, 10**9).collect()
    _crash_publish(monkeypatch)
    with pytest.raises(Boom):
        engine.compact_points()
    assert engine.raw_values(u, 0, 10**9).collect() == before
    monkeypatch.undo()
    engine.compact_points()  # recovery: the same op succeeds afterwards
    assert engine.raw_values(u, 0, 10**9).collect() == before


def test_obliterate_crash_preserves_stream(engine, monkeypatch):
    u = engine.create_stream("c/ob", tags={"k": "v"})
    engine.insert(u, [(i, float(i)) for i in range(50)], sync=True)
    before = engine.raw_values(u, 0, 10**9).collect()
    _crash_publish(monkeypatch)
    with pytest.raises(Boom):
        engine.obliterate(u)
    # first publish dies in the metadata tombstone step -> stream intact
    assert engine.streams.filter("uuid = '%s'" % u).count() == 1
    assert engine.raw_values(u, 0, 10**9).collect() == before
    monkeypatch.undo()
    engine.obliterate(u)
    assert engine.raw_values(u, 0, 10**9).count() == 0


def test_annotation_cas_crash_preserves_metadata(engine, monkeypatch):
    u = engine.create_stream("c/cas")
    _crash_publish(monkeypatch)
    with pytest.raises(Boom):
        engine.set_annotations(u, 1, {"owner": "a"})
    row = engine.streams.filter("uuid = '%s'" % u).first()
    assert row["annotations"] in (None, {})  # CAS never half-applied
    assert row["annotation_version"] == 1
    monkeypatch.undo()
    engine.set_annotations(u, 1, {"owner": "a"})
    assert engine.streams.filter("uuid = '%s'" % u).first()["annotations"] == {"owner": "a"}


def test_flush_clear_hot_crash_keeps_buffer(engine, monkeypatch):
    """A crash while clearing the hot buffer must not lose buffered rows:
    worst case is replayed duplicates handled upstream, never data loss."""
    warm = engine.create_stream("c/warm")
    engine.insert(warm, [(1, 1.0)], sync=True)  # tables exist + published
    u = engine.create_stream("c/hot")
    engine.insert(u, [(i, float(i)) for i in range(5)])  # buffered only
    assert engine.hot.count() == 5
    _crash_publish(monkeypatch)
    with pytest.raises(Boom):
        engine.flush(u)  # cold append (no flip) ok; dies clearing the buffer
    # the buffer is still whole (not half-gone): at-least-once, never loss
    assert engine.hot.count() == 5
    monkeypatch.undo()


def test_layout_migration_crash_is_finished_on_reopen(spark, tmp_path, monkeypatch):
    """compact_points(n_uuid_buckets=...) publishes points, then streams,
    then hot. A crash after any publish leaves the target in LAYOUT.json,
    and the next engine opened on the store re-runs the migration to
    completion: here the first run dies after the points publish, the
    re-run at reopen dies after the hot publish, and the third open
    finishes. Both read paths then return the rows from before."""
    import json

    base = str(tmp_path / "db")
    layout = os.path.join(base, "LAYOUT.json")
    eng = BTrDBEngine(spark, base, flush_threshold=10_000)
    us = [eng.create_stream(f"c/mig{i}") for i in range(6)]
    for i, u in enumerate(us):
        eng.insert(u, [(j * 1000 + i, float(j)) for j in range(10)], sync=True)
    eng.insert(us[0], [(5, 0.5), (7, 0.7)])  # buffered: hot migrates too

    def reads(e):
        return {
            u: (
                list(e.raw_values_rows(u, 0, 10**9)),
                [r.asDict() for r in e.raw_values(u, 0, 10**9).select("time", "value").collect()],
            )
            for u in us
        }

    before = reads(eng)
    assert all(len(arrow) >= 10 and arrow == spark_ for arrow, spark_ in before.values())
    real = store.PosixStore.publish

    def crash_after(table):
        def publish(self, base_, name, gen_path, expected=None):
            real(self, base_, name, gen_path, expected)
            if name == table:
                raise Boom()

        monkeypatch.setattr(store.PosixStore, "publish", publish)

    crash_after("points")
    with pytest.raises(Boom):
        eng.compact_points(n_uuid_buckets=7)
    with open(layout) as f:
        assert json.load(f)["migrating_to"]["n_uuid_buckets"] == 7
    crash_after("hot")
    with pytest.raises(Boom):
        BTrDBEngine(spark, base, flush_threshold=10_000)
    monkeypatch.undo()
    reopened = BTrDBEngine(spark, base, flush_threshold=10_000)
    assert reopened.n_uuid_buckets == 7
    with open(layout) as f:
        assert "migrating_to" not in json.load(f)
    assert reads(reopened) == before


def test_vacuum_reaps_old_generations(engine):
    u = engine.create_stream("c/vac")
    engine.insert(u, [(i, float(i)) for i in range(30)], sync=True)
    before = engine.raw_values(u, 0, 10**9).collect()
    for _ in range(3):
        engine.compact_points()  # each compaction strands a generation
    removed = engine.vacuum(keep=1)
    assert removed.get("points", 0) >= 1
    assert engine.raw_values(u, 0, 10**9).collect() == before


def test_publish_is_pointer_flip_and_gc_spares_live(tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base)
    st = store.DEFAULT
    g0 = st.current_dir(base, "tbl", create=True)
    assert st.resolve(base, "tbl") == g0
    g1 = st.new_generation(base, "tbl")
    # not live until published
    assert st.resolve(base, "tbl") == g0
    st.publish(base, "tbl", g1)
    assert st.resolve(base, "tbl") == g1
    g2 = st.new_generation(base, "tbl")
    st.publish(base, "tbl", g2)
    victims = st.gc_generations(base, "tbl", keep=1)
    assert g0 in victims and os.path.exists(g2) and st.resolve(base, "tbl") == g2


def test_compact_crash_preserves_table_manifest_backend(spark, tmp_path, monkeypatch):
    """Same superblock contract on the no-rename object-store backend: a
    crash at the put-if-absent commit leaves the old generation live."""
    eng = BTrDBEngine(
        spark, str(tmp_path / "db"), flush_threshold=10_000,
        store_backend=store.ManifestLogStore(),
    )
    u = eng.create_stream("c/crash2")
    for b in range(3):
        eng.insert(u, [(b * 100 + i, float(i)) for i in range(20)], sync=True)
    before = eng.raw_values(u, 0, 10**9).collect()
    monkeypatch.setattr(
        store.ManifestLogStore, "publish", lambda *a, **k: (_ for _ in ()).throw(Boom())
    )
    with pytest.raises(Boom):
        eng.compact_points()
    assert eng.raw_values(u, 0, 10**9).collect() == before
    monkeypatch.undo()
    eng.compact_points()
    assert eng.raw_values(u, 0, 10**9).collect() == before
