"""The lakehouse adapter seam (VERDICT r2 #6): the full engine lifecycle
must run against a second StoreBackend — pointer state held in a dict,
the catalog/transaction-log shape — with zero pointer files on disk,
producing results identical to the POSIX backend."""

from __future__ import annotations

import os
import time

import pytest

from btrdb_spark import store
from btrdb_spark.engine import BTrDBEngine


def _lifecycle(engine) -> dict:
    """Create/insert/flush/delete/window/obliterate — one of everything
    the store contract has to carry. Returns comparable results."""
    u1 = engine.create_stream("b/one", tags={"unit": "v"})
    u2 = engine.create_stream("b/two")
    engine.insert(u1, [(i * 1000, float(i)) for i in range(100)], sync=True)
    engine.insert(u1, [(100_000 + i * 1000, float(i) * 2) for i in range(50)], sync=True)
    engine.insert(u2, [(i * 500, 1.0) for i in range(40)], sync=True)
    v_before_delete, _ = engine.stream_version(u1)
    engine.delete_range(u1, 10_000, 20_000)

    def rows(df):  # uuids are random per engine; compare the data plane
        return [tuple(r) for r in df.drop("uuid").collect()]

    out = {
        "raw": rows(engine.raw_values(u1, 0, 10**9)),
        "raw_at_v": rows(engine.raw_values(u1, 0, 10**9, version=v_before_delete)),
        "win": rows(engine.aligned_windows(u1, 0, 200_000, 14)),
        "ver": engine.stream_version(u1),
        "info_streams": engine.info()["n_streams"],
    }
    engine.obliterate(u2)
    out["after_oblit"] = engine.info()["n_streams"]
    engine.compact_points()
    out["raw_after_compact"] = rows(engine.raw_values(u1, 0, 10**9))
    engine.vacuum(keep=1)
    out["raw_after_vacuum"] = rows(engine.raw_values(u1, 0, 10**9))
    return out


@pytest.fixture(scope="module")
def posix_result(spark, tmp_path_factory):
    eng = BTrDBEngine(
        spark, str(tmp_path_factory.mktemp("posix") / "db"),
        flush_threshold=10_000, ladder=True,
    )
    return _lifecycle(eng)


def test_in_memory_backend_runs_full_lifecycle(spark, tmp_path, posix_result):
    base = str(tmp_path / "db")
    eng = BTrDBEngine(
        spark, base, flush_threshold=10_000, ladder=True,
        store_backend=store.InMemoryPointerStore(),
    )
    got = _lifecycle(eng)
    assert got == posix_result
    # proof the engine never touched the POSIX pointer protocol: no
    # .CURRENT files anywhere under the store
    pointer_files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(base)
        for f in fs
        if f.endswith(".CURRENT") or f.endswith(".CURRENT.tmp")
    ]
    assert pointer_files == []


def test_in_memory_backend_atomic_swap_semantics(tmp_path):
    """publish is the only state transition: a generation written but not
    published is invisible; republish flips wholesale."""
    b = store.InMemoryPointerStore()
    base = str(tmp_path)
    assert b.resolve(base, "t") is None
    g0 = b.new_generation(base, "t")
    assert b.resolve(base, "t") is None  # staged, not live
    b.publish(base, "t", g0)
    assert b.resolve(base, "t") == g0
    g1 = b.new_generation(base, "t")
    assert b.resolve(base, "t") == g0  # still old until the flip
    b.publish(base, "t", g1)
    assert b.resolve(base, "t") == g1
    victims = b.gc_generations(base, "t", keep=1)
    assert victims == [g0] and b.resolve(base, "t") == g1


def test_manifest_backend_runs_full_lifecycle(spark, tmp_path, posix_result):
    """S3-style no-rename commit log (VERDICT r3 #5): same engine
    lifecycle, results identical to POSIX, and no .CURRENT pointer files
    or rename-based commits anywhere."""
    base = str(tmp_path / "db")
    eng = BTrDBEngine(
        spark, base, flush_threshold=10_000, ladder=True,
        store_backend=store.ManifestLogStore(),
    )
    got = _lifecycle(eng)
    assert got == posix_result
    pointer_files = [
        f for r, _d, fs in os.walk(base) for f in fs
        if f.endswith(".CURRENT") or f.endswith(".CURRENT.tmp")
    ]
    assert pointer_files == []
    # the commit history IS the log: at least one table has >1 entry
    logs = [
        os.path.join(r, d) for r, ds, _f in os.walk(base) for d in ds
        if d.endswith("._log")
    ]
    assert logs, "no manifest logs written"
    assert any(len(os.listdir(lg)) > 1 for lg in logs)


def test_manifest_backend_atomic_swap_semantics(tmp_path):
    b = store.ManifestLogStore()
    base = str(tmp_path)
    assert b.resolve(base, "t") is None
    g0 = b.new_generation(base, "t")
    assert b.resolve(base, "t") is None  # staged, not live
    b.publish(base, "t", g0)
    assert b.resolve(base, "t") == g0
    g1 = b.new_generation(base, "t")
    assert b.resolve(base, "t") == g0
    b.publish(base, "t", g1)
    assert b.resolve(base, "t") == g1


def test_manifest_torn_commit_falls_back_to_previous(tmp_path):
    """A torn newest log entry (crash mid-put on POSIX) is an
    UNCOMMITTED commit: resolve returns the previous generation."""
    b = store.ManifestLogStore()
    base = str(tmp_path)
    g0 = b.new_generation(base, "t")
    b.publish(base, "t", g0)
    g1 = b.new_generation(base, "t")
    # simulate the crash: next entry number exists but is torn garbage
    log_dir = b._log_dir(base, "t")
    with open(os.path.join(log_dir, f"{1:020}.json"), "w") as f:
        f.write('{"gen": "t.g1", "cr')  # truncated mid-body
    assert b.resolve(base, "t") == g0
    # recovery: the next publish commits PAST the torn entry and wins
    b.publish(base, "t", g1)
    assert b.resolve(base, "t") == g1


def test_manifest_commit_race_loser_retries(tmp_path):
    """Two committers racing for the same entry number: the loser's
    put-if-absent fails and it lands on the next number (optimistic
    concurrency) — no commit is lost, last write wins."""
    a, c = store.ManifestLogStore(), store.ManifestLogStore()
    base = str(tmp_path)
    g0 = a.new_generation(base, "t")
    a.publish(base, "t", g0)
    g1 = a.new_generation(base, "t")
    g2 = a.new_generation(base, "t")
    # both see entry 0 as latest; both target entry 1
    a.publish(base, "t", g1)
    c.publish(base, "t", g2)  # EEXIST on 1 -> retries at 2
    log = sorted(os.listdir(a._log_dir(base, "t")))
    assert len(log) == 3
    assert a.resolve(base, "t") == g2


def test_parquet_signature_ignores_staging_and_hidden(tmp_path):
    """The DataFrame-memo signature must apply Spark's FileIndex
    visibility rule: a concurrent writer's _temporary/ staging part
    files (or dotfile markers) must not make the signature claim the
    table has data while read.parquet sees zero footers — the streaming
    sink-vs-poll UNABLE_TO_INFER_SCHEMA race (r12)."""
    base = tmp_path / "gen"
    (base / "_temporary" / "0" / "task0").mkdir(parents=True)
    (base / ".hidden").mkdir()
    (base / "bucket=1").mkdir()
    (base / "_temporary" / "0" / "task0" / "part-0.parquet").write_bytes(b"x" * 8)
    (base / ".hidden" / "part-1.parquet").write_bytes(b"y" * 8)
    (base / "bucket=1" / "_staged.parquet").write_bytes(b"z" * 8)
    (base / "bucket=1" / ".part-2.parquet.crc").write_bytes(b"c")
    (base / "_SUCCESS").write_bytes(b"")
    # only staging/hidden content: signature must be EMPTY (= no table)
    assert store.parquet_signature(str(base)) == ()
    # one visible footer: exactly that file, named relative with size
    (base / "bucket=1" / "part-2.parquet").write_bytes(b"d" * 16)
    sig = store.parquet_signature(str(base))
    assert sig == ((os.path.join("bucket=1", "part-2.parquet"), 16),)


def test_engine_opens_over_a_staging_only_gc_pending(spark, tmp_path):
    """A published gc_pending generation that holds only ``_temporary/``
    staging (a deferred obliterate's journal append still running) reads
    as empty, under the same visibility rule as parquet_signature: the
    engine opens with nothing pending instead of failing to infer a
    schema from zero footers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path / "db"
    gen = base / "gc_pending.g0"
    staged = gen / "_temporary" / "0" / "task_0"
    staged.mkdir(parents=True)
    pq.write_table(
        pa.table({"uuid": ["u-1"], "requested": [1]}), str(staged / "part-0.parquet")
    )
    store.DEFAULT.publish(str(base), "gc_pending", str(gen))
    assert BTrDBEngine(spark, str(base))._pending_gc == set()
    assert not store.has_parquet(str(gen))


def test_bump_and_read_stamp(tmp_path):
    base = str(tmp_path)
    assert store.read_stamp(base, "t") is None
    store.bump_stamp(base, "t")
    s1 = store.read_stamp(base, "t")
    assert s1
    store.bump_stamp(base, "t")
    s2 = store.read_stamp(base, "t")
    assert s2 and s2 != s1
    # the stamp is a sibling file, never inside a generation dir (a
    # parquet reader must not see it)
    assert os.path.exists(os.path.join(base, "t.SIG"))


def test_scan_memo_stamp_skips_walk_and_sees_appends(spark, tmp_path, monkeypatch):
    """VERDICT r12 #3: the memoized query path must sign an unchanged
    table in O(1) — zero parquet_signature walks on a hit — while an
    append (which bumps the table stamp) still invalidates the memo,
    and a rewrite (generation flip) invalidates via the path."""
    eng = BTrDBEngine(spark, str(tmp_path / "db"), flush_threshold=5, ladder=False)
    u = eng.create_stream("c/sig")
    eng.insert(u, [(i, float(i)) for i in range(10)], sync=True)
    assert eng.points.count() == 10

    calls = {"n": 0}
    real_walk = store.parquet_signature

    def counting_walk(path):
        calls["n"] += 1
        return real_walk(path)

    monkeypatch.setattr(store, "parquet_signature", counting_walk)
    # repeated reads of the unchanged table: stamp hit, no walk at all
    for _ in range(3):
        assert eng.points.count() == 10
    assert calls["n"] == 0, "memo hit must not walk the generation tree"
    # an append bumps the stamp -> exactly one re-signature + re-read
    eng.insert(u, [(100 + i, 1.0) for i in range(10)], sync=True)
    assert eng.points.count() == 20
    # a rewrite flips the generation path -> memo invalidates without
    # any stamp change
    monkeypatch.setattr(store, "parquet_signature", real_walk)
    eng.compact_points()
    assert eng.points.count() == 20


def test_ladder_memo_stamp_sees_appends(spark, tmp_path):
    """Same contract for the rollup ladder: ingest_batch bumps the level
    stamps, so a reader poll picks up each batch; rewrites (compact)
    invalidate via the generation path."""
    from pyspark.sql import functions as F

    from btrdb_spark.plans.rollup import RollupLadder

    lad = RollupLadder(spark, str(tmp_path / "lad"), levels=(30,))
    pts = spark.range(100).select(
        F.lit("u").alias("uuid"),
        (F.col("id") * 10_000_000).alias("time"),
        F.col("id").cast("double").alias("value"),
    )
    lad.ingest_batch(pts)
    n1 = lad.level(30).count()
    assert n1 > 0
    lad.ingest_batch(pts)  # same buckets again -> doubled partial rows
    assert lad.level(30).count() == 2 * n1
    lad.compact()
    assert lad.level(30).count() == n1


def test_gc_min_age_condemns_then_reaps(tmp_path):
    base = str(tmp_path)
    st = store.PosixStore()
    for g in range(4):
        gen = os.path.join(base, f"t.g{g}")
        os.makedirs(gen)
        with open(os.path.join(gen, "part-0.parquet"), "w") as f:
            f.write("x")
        st.publish(base, "t", gen)
    # pass 1: victims (g0, g1) are condemned, NOT deleted
    assert st.gc_generations(base, "t", keep=2, min_age_s=3600) == []
    assert os.path.exists(os.path.join(base, "t.g0", "part-0.parquet"))
    assert os.path.exists(os.path.join(base, "t.g0", ".condemned"))
    # pass 2 within the grace window: still nothing reaped
    assert st.gc_generations(base, "t", keep=2, min_age_s=3600) == []
    assert os.path.exists(os.path.join(base, "t.g1", "part-0.parquet"))
    # grace expired: both victims reaped
    old = time.time() - 7200
    for g in ("t.g0", "t.g1"):
        os.utime(os.path.join(base, g, ".condemned"), (old, old))
    reaped = st.gc_generations(base, "t", keep=2, min_age_s=3600)
    assert sorted(os.path.basename(p) for p in reaped) == ["t.g0", "t.g1"]
    assert not os.path.exists(os.path.join(base, "t.g0"))
    # live + keep window untouched
    assert os.path.exists(os.path.join(base, "t.g3", "part-0.parquet"))
    # min_age_s=None keeps the old immediate-reap contract
    gen4 = os.path.join(base, "t.g4")
    os.makedirs(gen4)
    st.publish(base, "t", gen4)
    assert st.gc_generations(base, "t", keep=1) != []
    assert not os.path.exists(os.path.join(base, "t.g2"))
