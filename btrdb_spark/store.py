"""Atomic generation-pointer storage for mutable parquet tables.

The reference commits a tree by flipping the superblock pointer after all
blocks are durable (internal/bstore/blockstore.go:317-360): a crash
between the data write and the pointer flip leaves the previous version
fully intact. This module is that superblock for parquet directories:

- table ``t`` lives in generation directories ``t.g<N>/``;
- a *pointer* names the live generation (how the pointer is stored is the
  backend's business — see StoreBackend);
- a rewrite builds ``t.g<N+1>`` next to the live one — hardlinking every
  partition directory it does NOT touch, so rewrite cost is O(changed
  partition), not O(table) — and then atomically republishes the pointer.

Readers resolve the pointer first; at no instant is the table missing,
half-swapped, or mixed between generations. Old generations are left on
disk (open readers may still be scanning them — the MVCC analog of the
reference keeping old tree roots readable) and can be reaped with
``gc_generations`` once no reader needs them.

Appends (the hot-buffer/journal analog) go straight into the live
generation directory: parquet file creation is itself write-new-then-
rename per file, and a torn append is at worst a replayable partial
batch, which is exactly the reference's journal recovery contract
(jprovider.go).

## The backend seam (VERDICT r2 #6)

``StoreBackend`` is the complete contract the engine needs from a table
format — six calls, four of them shared logic over two primitives
(``resolve`` + ``publish``). The concrete mapping to a lakehouse format:

| StoreBackend call          | Delta Lake                          | Iceberg                         |
|----------------------------|-------------------------------------|---------------------------------|
| ``resolve``                | read `_delta_log` latest snapshot   | catalog `current-snapshot-id`   |
| ``publish``                | commit a new log entry (atomic)     | catalog atomic snapshot swap    |
| ``new_generation``         | implicit: new files staged in txn   | implicit: new manifest          |
| append into current dir    | `df.write.format("delta").mode("append")` | `append()` snapshot       |
| ``link_unchanged_partitions`` | implicit: unchanged files carried by reference in the new snapshot (no copy, like our hardlinks) | same (manifest reuse) |
| ``gc_generations``         | `VACUUM`                            | `expireSnapshots`               |

The engine and rollup ladder take a backend instance; three
implementations prove the seam (tests/test_store_backend.py runs the
full engine lifecycle against each, results identical):

- ``PosixStore`` — pointer = ``t.CURRENT`` file, atomic via
  write-tmp+fsync+rename (single-filesystem).
- ``InMemoryPointerStore`` — pointer state in a dict, the "transaction
  log lives in a catalog service" shape.
- ``ManifestLogStore`` — an append-only commit log of put-if-absent
  manifest entries with NO renames anywhere: the object-store (S3)
  shape, with true optimistic concurrency (a lost race against a
  DIFFERENT generation raises CommitConflict, never silent
  last-writer-wins), torn-put fallback, and publish-time log pruning.

All three backends honor ``publish(..., expected=...)`` compare-and-swap:
pass the generation you resolved before rebuilding, and a concurrent
writer's commit surfaces as CommitConflict instead of being superseded.
"""

from __future__ import annotations

import os
import re

_GEN_RE = re.compile(r"\.g(\d+)$")


class _ExpectAbsent:
    """Sentinel for ``publish(expected=EXPECT_ABSENT)``: the publish
    succeeds ONLY if the table has never been published (no live
    generation). This is the create-CAS leg the plain expected-path CAS
    cannot express — ``expected=None`` means *unconditional* by contract,
    so a first-commit race (two processes both resolving None for a fresh
    stream's version pointer) needs an explicit expect-absent mode or
    both racers 'win' and stamp the same version (ADVICE r9 #2)."""

    __slots__ = ()

    def __repr__(self) -> str:  # aids conflict messages
        return "EXPECT_ABSENT"


EXPECT_ABSENT = _ExpectAbsent()


class CommitConflict(RuntimeError):
    """Another writer published a different generation since this writer
    resolved the table — the reference's per-uuid cluster write lock
    (quasar.go:197, internal/configprovider/clustering.go:78-126) turned
    into optimistic concurrency: the loser must re-resolve, rebuild its
    generation on top of the winner's, and re-publish. Raised instead of
    silently superseding the winner (last-writer-wins would lose its
    committed changes)."""


class StoreBackend:
    """Commit-protocol contract between the engine and a table format.

    Subclasses provide the two pointer primitives (``resolve`` /
    ``publish``); generation numbering, create-on-first-append, GC and
    the hardlink fast-path are shared logic defined over them.
    """

    # ---- pointer primitives (backend-specific) ----

    def resolve(self, base: str, name: str) -> str | None:
        """Path of the live generation directory, or None if the table
        has never been written."""
        raise NotImplementedError

    def publish(
        self, base: str, name: str, gen_path: str, expected: str | None = None
    ) -> None:
        """Atomically flip the table pointer to ``gen_path``. This is the
        ONLY state transition; everything before it is invisible to
        readers and everything after it is complete.

        ``expected`` is the generation path the writer resolved before
        building ``gen_path`` (None = unconditional, for single-writer
        callers). When given and the live generation is no longer
        ``expected``, the backend raises CommitConflict instead of
        superseding the concurrent winner — true compare-and-swap, the
        multi-process safety net the engine's in-process RLock cannot
        provide. ``expected=EXPECT_ABSENT`` is the create-CAS leg: the
        publish succeeds only if NO live generation exists, so two
        writers racing a table's very first commit get exactly one
        winner (a resolved ``None`` passed through as ``expected=None``
        would make both unconditional — ADVICE r9 #2)."""
        raise NotImplementedError

    # ---- shared generation logic ----

    def current_dir(self, base: str, name: str, create: bool = False) -> str | None:
        """Live generation dir for in-place appends; with create=True an
        empty generation 0 is created and published first."""
        cur = self.resolve(base, name)
        if cur is None and create:
            cur = os.path.join(base, f"{name}.g0")
            os.makedirs(cur, exist_ok=True)
            self.publish(base, name, cur)
        return cur

    def new_generation(self, base: str, name: str) -> str:
        """Fresh, not-yet-live generation directory (monotonic numbering)."""
        nums = [
            int(m.group(1))
            for d in os.listdir(base)
            if d.startswith(f"{name}.g")
            for m in [_GEN_RE.search(d)]
            if m
        ] if os.path.exists(base) else []
        gen = os.path.join(base, f"{name}.g{(max(nums) + 1) if nums else 0}")
        os.makedirs(gen, exist_ok=True)
        return gen

    def link_unchanged_partitions(self, cur: str, gen: str, exclude_subdir: str) -> None:
        """Hardlink every top-level partition directory of the live
        generation except ``exclude_subdir`` (the one the caller will
        rewrite). O(#files) metadata ops, zero data copied — the POSIX
        twin of a lakehouse snapshot carrying unchanged files by
        reference."""
        for d in os.listdir(cur):
            full = os.path.join(cur, d)
            if os.path.isdir(full) and d != exclude_subdir:
                link_tree(full, os.path.join(gen, d))

    def gc_generations(
        self, base: str, name: str, keep: int = 2, min_age_s: float | None = None
    ) -> list[str]:
        """Remove all but the newest ``keep`` non-live generations.

        ``min_age_s=None`` (explicit operator call): reap immediately —
        only safe once no reader holds plans resolved against them.

        ``min_age_s`` set (automated cadence, e.g. a streaming sink's
        maintenance ticker): two-phase condemn-then-reap. A first pass
        over a victim stamps ``.condemned`` inside it and leaves it
        alone; only a later pass whose stamp is at least ``min_age_s``
        old deletes it. A reader in ANOTHER process that resolved the
        generation before it was condemned therefore has ``min_age_s``
        to finish its scan — the timer-driven caller no longer needs
        the "no reader holds plans" precondition it cannot verify
        (VERDICT r11 wrong #2: keep-count GC raced concurrent
        cross-process probers; a generation lived ~2 triggers while a
        probe's Spark job can run longer). Size ``min_age_s`` to the
        maximum expected reader/probe duration. The stamp is a hidden
        dotfile, invisible to parquet directory scans."""
        import shutil
        import time as _time

        live = self.resolve(base, name)
        gens = sorted(
            (
                os.path.join(base, d)
                for d in os.listdir(base)
                if d.startswith(f"{name}.g") and _GEN_RE.search(d)
            ),
            key=lambda p: int(_GEN_RE.search(p).group(1)),
        )
        pool = gens[:-keep] if keep else gens
        victims = [g for g in pool if g != live]
        if min_age_s is None:
            for g in victims:
                shutil.rmtree(g, ignore_errors=True)
            return victims
        now = _time.time()
        reaped: list[str] = []
        for g in victims:
            stamp = os.path.join(g, ".condemned")
            try:
                aged = now - os.stat(stamp).st_mtime >= float(min_age_s)
            except OSError:
                # first sighting: condemn, reap on a later cadence tick
                try:
                    with open(stamp, "w"):
                        pass
                except OSError:
                    pass
                continue
            if aged:
                shutil.rmtree(g, ignore_errors=True)
                reaped.append(g)
        return reaped


class PosixStore(StoreBackend):
    """Pointer = ``{name}.CURRENT`` file next to the generation dirs,
    flipped with write-tmp + fsync + os.rename (atomic on POSIX) —
    the superblock flip of blockstore.go:317-360 verbatim.

    Concurrency contract: unconditional publishes (expected=None) are
    last-writer-wins renames — safe ONLY under a single writer process
    (the engine's RLock). Multi-process writers must pass ``expected``:
    the flip then runs inside a short O_EXCL lock-file critical section
    that compares the live generation against ``expected`` and raises
    CommitConflict on mismatch, so two engines on one base dir can no
    longer silently race generation pointers (VERDICT r4 #5; reference
    analog: the per-uuid cluster write lock, quasar.go:197)."""

    LOCK_WAIT_S = 5.0

    @staticmethod
    def _pointer(base: str, name: str) -> str:
        return os.path.join(base, f"{name}.CURRENT")

    def resolve(self, base: str, name: str) -> str | None:
        ptr = self._pointer(base, name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            path = os.path.join(base, f.read().strip())
        return path if os.path.exists(path) else None

    def _flip(self, base: str, name: str, gen_path: str) -> None:
        tmp = self._pointer(base, name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(os.path.basename(gen_path))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._pointer(base, name))  # atomic on POSIX

    def publish(
        self, base: str, name: str, gen_path: str, expected: str | None = None
    ) -> None:
        if expected is None:
            self._flip(base, name, gen_path)
            return
        import fcntl
        import time

        # flock, not O_EXCL-create + staleness-steal: the kernel arbitrates
        # exclusivity on the INODE and releases automatically when the
        # holder dies, so there is no stale-lock concept and no unlink/
        # steal dance. The previous rename-steal still raced: the stale
        # CHECK (stat) and the STEAL (rename) both act on a path, so
        # contender B could stat the dead holder's old inode, then rename
        # away contender A's fresh lock created in between — two writers
        # in the critical section (the full-suite concurrency test caught
        # the double-win under load). The lock file is permanent (never
        # unlinked): unlinking would let a late-arriving process flock a
        # different inode at the same path. Local-POSIX semantics by
        # design — this backend IS the local-dir store; network
        # filesystems use the ManifestLog backend.
        lock = self._pointer(base, name) + ".lock"
        deadline = time.monotonic() + self.LOCK_WAIT_S
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.monotonic() > deadline:
                        raise CommitConflict(
                            f"publish lock busy for {name}: concurrent writer "
                            f"holds {lock}"
                        )
                    time.sleep(0.01)
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())  # debuggability only
            cur = self.resolve(base, name)
            if expected is EXPECT_ABSENT:
                if cur is not None and os.path.abspath(cur) != os.path.abspath(
                    gen_path
                ):
                    raise CommitConflict(
                        f"{name}: expected no live generation but found "
                        f"{os.path.basename(cur)}; re-resolve and rebuild on top"
                    )
            elif cur is not None and os.path.abspath(cur) != os.path.abspath(
                expected
            ):
                raise CommitConflict(
                    f"{name}: live generation {os.path.basename(cur)} != expected "
                    f"{os.path.basename(expected)}; re-resolve and rebuild on top"
                )
            self._flip(base, name, gen_path)
        finally:
            os.close(fd)  # releases the flock

    def __repr__(self) -> str:  # aids test failure messages
        return "PosixStore()"


class InMemoryPointerStore(StoreBackend):
    """Pointer state in a process-local dict; data directories stay on
    disk (Spark still reads parquet paths). This is the shape of a
    catalog/transaction-log backend — Delta's `_delta_log` or an Iceberg
    catalog owns the pointer, the object store only holds immutable data
    files — and it proves the engine never peeks at pointer files.
    NOT crash-durable by design (a real catalog backend is)."""

    def __init__(self) -> None:
        self._ptr: dict[tuple[str, str], str] = {}

    def resolve(self, base: str, name: str) -> str | None:
        gen = self._ptr.get((os.path.abspath(base), name))
        if gen is None:
            return None
        path = os.path.join(base, gen)
        return path if os.path.exists(path) else None

    def publish(
        self, base: str, name: str, gen_path: str, expected: str | None = None
    ) -> None:
        key = (os.path.abspath(base), name)
        if expected is EXPECT_ABSENT:
            cur = self._ptr.get(key)
            if cur is not None and cur != os.path.basename(gen_path):
                raise CommitConflict(
                    f"{name}: expected no live generation but found {cur}"
                )
        elif expected is not None:
            cur = self._ptr.get(key)
            if cur is not None and cur != os.path.basename(expected):
                raise CommitConflict(
                    f"{name}: live generation {cur} != expected "
                    f"{os.path.basename(expected)}"
                )
        self._ptr[key] = os.path.basename(gen_path)

    def __repr__(self) -> str:
        return f"InMemoryPointerStore({len(self._ptr)} tables)"


class ManifestLogStore(StoreBackend):
    """Pointer = an append-only commit log of immutable, uniquely-numbered
    manifest files — the OBJECT-STORE shape, where rename does not exist.

    Layout: ``{name}._log/{N:020}.json`` with body
    ``{"gen": "t.g3", "crc": <crc32 of gen>}``. The live generation is
    the one named by the highest WELL-FORMED log entry.

    Commit protocol (blockstore.go:317-360's "pointer flip is the only
    state transition", translated to S3 semantics):

    - ``publish`` = one put-if-absent of the next entry number
      (``O_CREAT|O_EXCL`` here; a conditional PUT / If-None-Match on S3,
      which is what Delta's `_delta_log` and an Iceberg catalog swap do).
      Everything before it is invisible; everything after it is complete.
    - No file or directory is EVER renamed — creation under a fresh name
      is the only mutation, so the backend maps 1:1 onto a bucket.
    - Concurrent committers race for the same entry number; the loser
      gets FileExistsError and must NOT blindly take the next slot (that
      would silently supersede the winner's committed generation —
      last-writer-wins data loss). Instead the loser re-reads the log:
      if the winner published the SAME generation the publish is an
      idempotent replay and succeeds; otherwise CommitConflict tells the
      caller to re-resolve and rebuild on top of the winner (true
      optimistic concurrency, Delta protocol §Transaction Identifiers).
    - The log is pruned on publish: entries more than LOG_KEEP behind
      the newest committed one are deleted, so resolve()'s
      listdir+sort stays O(LOG_KEEP) on a long-lived table instead of
      growing with total commit count (the Delta checkpoint /
      Iceberg expire-snapshots analog).
    - Claims are atomic WITH their content (ADVICE r6 #1): the body is
      written and fsynced to a dot-prefixed temp file in the log dir,
      then ``os.link(tmp, {N:020}.json)`` makes the entry appear —
      link fails EEXIST exactly like O_EXCL, but the name is never
      visible without its full body, matching an object store's atomic
      put. (The earlier O_EXCL-create-then-write protocol had a window
      where a LIVE writer's entry was visible torn; a contender read it
      as a crashed claimer, stepped over it, and both publishes
      succeeded against the same ``expected`` — a lost update.)
    - Because entries can no longer be visible torn, an entry that
      fails the crc check is genuine corruption (or a pre-upgrade
      crash): ``resolve`` still falls back to the previous entry so the
      table stays readable, but a CAS publish CONFLICTS on it instead
      of stepping over, forcing the caller to re-resolve.
    """

    MAX_RETRIES = 16

    @staticmethod
    def _log_dir(base: str, name: str) -> str:
        return os.path.join(base, f"{name}._log")

    @staticmethod
    def _entries(log_dir: str) -> list[tuple[int, str]]:
        if not os.path.isdir(log_dir):
            return []
        out = []
        for fn in os.listdir(log_dir):
            stem, ext = os.path.splitext(fn)
            if ext == ".json" and stem.isdigit():
                out.append((int(stem), os.path.join(log_dir, fn)))
        return sorted(out)

    @staticmethod
    def _read_entry(path: str) -> str | None:
        """Generation basename a log entry commits, or None if torn."""
        import json
        import zlib

        try:
            with open(path) as f:
                body = json.load(f)
            gen = body["gen"]
            if body.get("crc") != zlib.crc32(gen.encode()):
                return None  # torn put -> uncommitted
            return gen
        except (ValueError, KeyError, TypeError, OSError):
            return None

    def _highest_valid(self, log_dir: str) -> tuple[int, str] | None:
        """(entry number, generation basename) of the newest well-formed
        log entry WHOSE GENERATION DIR STILL EXISTS — the same filter
        resolve() applies, so the CAS expected-check and readers share
        one view of "current" even after generation GC (ADVICE r6 #2)."""
        base = os.path.dirname(log_dir)
        for n, path in reversed(self._entries(log_dir)):
            gen = self._read_entry(path)
            if gen is not None and os.path.exists(os.path.join(base, gen)):
                return n, gen
        return None

    def resolve(self, base: str, name: str) -> str | None:
        for _n, path in reversed(self._entries(self._log_dir(base, name))):
            gen = self._read_entry(path)
            if gen is None:
                continue
            full = os.path.join(base, gen)
            if os.path.exists(full):
                return full
        return None

    LOG_KEEP = 64  # torn-newest fallback needs 1; keep a generous window

    def publish(
        self, base: str, name: str, gen_path: str, expected: str | None = None
    ) -> None:
        import json
        import zlib

        log_dir = self._log_dir(base, name)
        os.makedirs(log_dir, exist_ok=True)
        gen = os.path.basename(gen_path)
        body = json.dumps({"gen": gen, "crc": zlib.crc32(gen.encode())})

        def _claim(n: int) -> bool:
            # Atomic-with-content claim: body lands in a dot-prefixed temp
            # file (invisible to _entries), is fsynced, then hardlinked to
            # the slot name — link fails EEXIST like O_EXCL, but the slot
            # name never exists without its complete body, so a reader can
            # never observe a LIVE writer as a torn entry (ADVICE r6 #1).
            path = os.path.join(log_dir, f"{n:020}.json")
            import uuid

            tmp = os.path.join(log_dir, f".claim-{uuid.uuid4().hex}.tmp")
            with open(tmp, "w") as f:
                f.write(body)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)
            except FileExistsError:
                return False
            finally:
                try:
                    os.unlink(tmp)
                except FileNotFoundError:
                    pass
            # make the new directory entry itself durable
            dfd = os.open(log_dir, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
            self._prune_log(log_dir, upto=n - self.LOG_KEEP)
            return True

        if expected is EXPECT_ABSENT:
            # create-CAS: succeed only if the table has no live generation.
            # Racing first-committers compute the same slot; the O_EXCL
            # claim picks exactly one winner (ADVICE r9 #2).
            head = self._highest_valid(log_dir)
            if head is not None:
                if head[1] == gen:
                    return  # idempotent replay: this generation already won
                raise CommitConflict(
                    f"{name}: expected no live generation but found "
                    f"{head[1]}; re-resolve and rebuild on top"
                )
            entries = self._entries(log_dir)
            slot = (entries[-1][0] + 1) if entries else 0
            if _claim(slot):
                return
            other = self._read_entry(os.path.join(log_dir, f"{slot:020}.json"))
            if other == gen:
                return  # concurrent replay of the same generation
            raise CommitConflict(
                f"{name}: slot {slot} committed concurrently while this "
                "writer expected the table absent; re-resolve and rebuild"
            )

        if expected is not None:
            # The COMMIT NUMBER is the CAS token (Delta-style, ADVICE r5
            # #1): verify `expected` is the newest valid entry, then claim
            # the slot IMMEDIATELY after it. The expected-check and the
            # slot claim are one atomic unit because any writer that
            # committed between them necessarily took that exact slot —
            # our O_EXCL create then fails and we report the conflict
            # instead of silently superseding. The slot number is NEVER
            # recomputed from the current log tail.
            head = self._highest_valid(log_dir)
            if head is not None and head[1] == gen:
                return  # idempotent replay: this generation already won
            if head is not None and os.path.basename(expected) != head[1]:
                raise CommitConflict(
                    f"{name}: live generation {head[1]} != expected "
                    f"{os.path.basename(expected)}; re-resolve and rebuild on top"
                )
            slot = (head[0] + 1) if head is not None else 0
            if _claim(slot):
                return
            # slot taken since our read. Claims are atomic-with-content,
            # so whatever occupies the slot is complete: a valid entry is
            # a concurrent commit (idempotent if it names our gen); an
            # unreadable one is genuine corruption, never a live writer
            # mid-put — conflict in every case rather than stepping over
            # (the old skip path was the lost-update race, ADVICE r6 #1).
            other = self._read_entry(os.path.join(log_dir, f"{slot:020}.json"))
            if other == gen:
                return
            raise CommitConflict(
                f"{name}: slot {slot} "
                + (
                    f"committed {other} concurrently"
                    if other is not None
                    else "holds an unreadable (corrupt) entry"
                )
                + "; re-resolve and rebuild on top"
            )

        # expected=None: unconditional publish (single-writer replay /
        # first publish) — last-writer-wins by contract, so recomputing
        # the next slot from the tail is correct here
        for _ in range(self.MAX_RETRIES):
            head = self._highest_valid(log_dir)
            if head is not None and head[1] == gen:
                return  # idempotent replay
            entries = self._entries(log_dir)
            if _claim((entries[-1][0] + 1) if entries else 0):
                return
        raise CommitConflict(
            f"ManifestLogStore: lost {self.MAX_RETRIES} consecutive commit races "
            f"for {name}"
        )

    @staticmethod
    def _prune_log(log_dir: str, upto: int) -> None:
        """Delete log entries numbered < upto (all strictly older than the
        newest commit minus the keep window). Best-effort: a concurrent
        reader mid-listdir simply falls back to a newer entry."""
        import time as _time

        # reap temp claims a crashed writer left behind: a live claim's
        # temp file exists for milliseconds, so anything older than 60 s
        # is garbage (unique names mean we can never reap a live one we
        # would later link)
        try:
            for fn in os.listdir(log_dir):
                if fn.startswith(".claim-") and fn.endswith(".tmp"):
                    p = os.path.join(log_dir, fn)
                    try:
                        if os.stat(p).st_mtime < _time.time() - 60:
                            os.unlink(p)
                    except FileNotFoundError:
                        pass
        except OSError:
            pass
        if upto <= 0:
            return
        for num, path in ManifestLogStore._entries(log_dir):
            if num < upto:
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass

    def __repr__(self) -> str:
        return "ManifestLogStore()"


DEFAULT = PosixStore()


def _parquet_files(path: str):
    """(directory, file name) of every parquet file under ``path`` that
    Spark's FileIndex will actually read: Spark's visibility rule hides
    any path component starting with ``_`` or ``.``, which includes the
    parquet writer's ``_temporary/`` staging tree and ``_SUCCESS``/``.crc``
    markers, so the walk never descends into such a directory."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield root, f


def has_parquet(path: str | None) -> bool:
    """Whether ``path`` holds a parquet file Spark would read (the
    visibility rule of parquet_signature), stopping at the first one. A
    tree that holds only ``_temporary/`` staging reads as empty: Spark
    would find no footer there and throw UNABLE_TO_INFER_SCHEMA."""
    return path is not None and next(_parquet_files(path), None) is not None


def parquet_signature(path: str) -> tuple:
    """(relative path, size) of every parquet file under ``path`` that
    Spark's FileIndex will actually read (_parquet_files). A memo miss
    names its files with this walk; counting staging files would let a
    concurrent writer's half-committed batch make the table claim "has
    data" while ``read.parquet`` sees zero footers and throws
    UNABLE_TO_INFER_SCHEMA (raced for real by streaming-sink polls)."""
    return tuple(
        sorted(
            (os.path.relpath(os.path.join(r, f), path), os.path.getsize(os.path.join(r, f)))
            for r, f in _parquet_files(path)
        )
    )


def bump_stamp(base: str, name: str) -> None:
    """Advance table ``name``'s mutation stamp — one tiny atomic file
    write (``{name}.SIG``, write-tmp + rename) next to the generation
    dirs.

    Contract (VERDICT r12 #3): every writer that APPENDS into a table's
    live generation bumps the stamp after the append is durable (the
    parquet job committed); generation REWRITES need no bump because
    the memos key on the generation path, which a publish flips.
    Readers then sign a table as (generation path, stamp) in O(1) per
    access instead of walking O(#files) parquet names/sizes on the
    driver before any Spark job starts — at 100 TB a generation dir
    holds 1e5-1e7 files and that walk was the query path's serial
    driver-side prefix. A reader that races the append may serve the
    pre-append handle (the append is not yet acked — same window the
    walk had while files moved out of _temporary/); any read after the
    append call returns sees the new stamp. An append that does not
    bump would leave readers on the pre-append handle until the next
    bump or publish; every append goes through ``append``, which bumps
    by construction."""
    import uuid as _uuid

    path = os.path.join(base, f"{name}.SIG")
    tmp = f"{path}.tmp-{os.getpid()}-{_uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(_uuid.uuid4().hex)
    os.rename(tmp, path)  # atomic on POSIX; last-writer-wins is fine


def read_stamp(base: str, name: str) -> str | None:
    """Current mutation stamp of table ``name``, or None when nothing
    has appended to it yet (a table written only by generation
    rewrites, or never written)."""
    try:
        with open(os.path.join(base, f"{name}.SIG")) as f:
            return f.read()
    except OSError:
        return None


def append(backend: StoreBackend, base: str, name: str, write) -> None:
    """Append a batch into table ``name``'s live generation and bump its
    stamp: ``write(path)`` writes the batch under the live generation
    directory, created and published empty on first use (e.g. a bound
    ``df.write.mode("append").parquet``). The one append of the store:
    the stamp contract of bump_stamp holds for every caller."""
    write(backend.current_dir(base, name, create=True))
    bump_stamp(base, name)


def table_signature(backend: StoreBackend, base: str, name: str) -> tuple | None:
    """(generation path, mutation stamp) of table ``name``, or None when
    the table was never written; O(1), no directory walk. Appends bump
    the stamp and rewrites flip the path, so two equal signatures name
    the same table contents: every query-path memo keys on this."""
    path = backend.resolve(base, name)
    if path is None:
        return None
    return (path, read_stamp(base, name))


def memo_scan(spark, backend: StoreBackend, memo: dict, base: str, name: str):
    """``spark.read.parquet`` of table ``name``, memoized in ``memo`` on
    its table_signature: a read costs ~0.1-0.2 s of JVM listing and
    schema inference, which dominated short-query latency. None = no
    parquet yet. On a miss the parquet_signature walk is the emptiness
    check: a tree that holds only ``_temporary/`` staging files must
    read as absent, not throw UNABLE_TO_INFER_SCHEMA. Mutation paths
    stay unmemoized — they must read the precise generation they CAS
    against.

    A miss runs no Spark job either: Spark infers a parquet schema from
    ONE file's footer, but does it in a one-task job. This function
    reads the same footer in-process (the walk already named the file)
    and hands Spark the schema Spark itself stored there."""
    sig = table_signature(backend, base, name)
    if sig is None:
        return None
    hit = memo.get(name)
    if hit is not None and hit[0] == sig:
        return hit[1]
    path = sig[0]
    files = parquet_signature(path)
    df = None
    if files:
        schema = _spark_footer_schema(os.path.join(path, files[0][0]))
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
    memo[name] = (sig, df)
    return df


def memo_dataset(
    backend: StoreBackend, memo: dict, base: str, name: str,
    subdir: str | None = None, partitioning=None,
):
    """``pyarrow.dataset`` of table ``name``'s live generation, or of one
    partition subdirectory of it, memoized in ``memo`` on the table's
    table_signature (the key memo_scan trusts); a changed signature drops
    every dataset of the table. Discovery skips every path with a
    component starting ``_`` or ``.``, the rule Spark applies to
    ``_temporary/`` staging and ``_SUCCESS``. None = the table, or the
    subdirectory, holds no parquet file: never written, or (as memo_scan
    reads it) a published generation whose first write has not committed
    yet. A memoized dataset keeps the footers it has read."""
    import pyarrow.dataset as ds

    sig = table_signature(backend, base, name)
    if sig is None:
        return None
    hit = memo.get(name)
    if hit is None or hit[0] != sig:
        hit = memo[name] = (sig, {})
    sets = hit[1]
    if subdir not in sets:
        path = sig[0] if subdir is None else os.path.join(sig[0], subdir)
        found = (
            ds.dataset(path, format="parquet", partitioning=partitioning)
            if os.path.isdir(path)
            else None
        )
        sets[subdir] = found if found is not None and found.files else None
    return sets[subdir]


def _spark_footer_schema(parquet_file: str):
    """The Spark schema a Spark writer stored in a parquet footer (the
    ``org.apache.spark.sql.parquet.row.metadata`` key, which Spark's own
    inference prefers), or None for a file written by anything else."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    meta = pq.read_schema(parquet_file).metadata or {}
    js = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if js is None else StructType.fromJson(json.loads(js))


def link_tree(src: str, dst: str, skip_existing: bool = False) -> None:
    """Recreate ``src`` under ``dst`` with hardlinked files: O(#files)
    metadata operations, zero data copied. Used for the partition
    directories a rewrite does not touch. ``skip_existing`` tolerates
    names already present in ``dst`` (parquet part files carry job
    UUIDs, so only marker files like _SUCCESS collide) — the shard-merge
    path linking TWO generations into one."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for fn in files:
            target = os.path.join(out, fn)
            if skip_existing and os.path.exists(target):
                continue
            os.link(os.path.join(root, fn), target)


# ---- small-file compaction (VERDICT r10 #2) ----
#
# Append-per-batch tables (the incremental dedup/ANN index generations)
# accumulate one parquet file per touched partition dir per batch, and
# each generation hardlinks EVERY prior file, so per-batch update cost is
# O(total files): without compaction that is O(N) links per batch and
# O(N^2) over a long crawl. These helpers bound the file count with an
# LSM-flavored size tier: files at or above ``big_bytes`` are *runs* that
# are linked by reference forever (never rewritten again); files below it
# are per-batch appends that get merged into a new run once more than
# ``max_small`` of them pile up. Merge cost is O(accumulated small
# bytes), amortized O(1) per batch per tier; at 100 TB the big runs are
# carried by reference exactly like unchanged partitions in a lakehouse
# snapshot.


def _split_by_size(path: str, big_bytes: int) -> tuple[list[str], list[str]]:
    import glob as _glob

    small: list[str] = []
    big: list[str] = []
    for p in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        (big if os.path.getsize(p) >= big_bytes else small).append(p)
    return small, big


def compact_flat(
    spark,
    src: str,
    dst: str,
    big_bytes: int = 128 << 20,
    max_small: int = 8,
    schema=None,
) -> int:
    """Build ``dst`` from the flat parquet dir ``src``: if more than
    ``max_small`` sub-``big_bytes`` files exist, merge them into one new
    run (a single Spark job) and hardlink the big runs; otherwise link
    everything. Returns the number of files merged (0 = linked only)."""
    small, big = _split_by_size(src, big_bytes)
    if len(small) <= max_small:
        link_tree(src, dst)
        return 0
    os.makedirs(dst, exist_ok=True)
    for p in big:
        os.link(p, os.path.join(dst, os.path.basename(p)))
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    reader.parquet(*small).coalesce(1).write.mode("append").parquet(dst)
    return len(small)


def compact_partitioned(
    spark,
    src: str,
    dst: str,
    big_bytes: int = 128 << 20,
    max_small: int = 8,
    schema=None,
) -> int:
    """Build ``dst`` from the hive-partitioned dir ``src`` (``col=val``
    subdirs): partition dirs holding more than ``max_small`` small files
    get those files merged — ALL victim partitions in ONE Spark job
    (``basePath`` keeps the partition column; repartition-by-column gives
    one output file per rewritten dir) — while big runs and untouched
    partitions are hardlinked. Returns the number of files merged."""
    victims: list[str] = []
    pcol: str | None = None
    os.makedirs(dst, exist_ok=True)
    for d in sorted(os.listdir(src)):
        full = os.path.join(src, d)
        if os.path.isdir(full) and "=" in d:
            pcol = pcol or d.split("=", 1)[0]
            small, big = _split_by_size(full, big_bytes)
            if len(small) > max_small:
                victims.extend(small)
                out = os.path.join(dst, d)
                os.makedirs(out, exist_ok=True)
                for p in big:
                    os.link(p, os.path.join(out, os.path.basename(p)))
            else:
                link_tree(full, os.path.join(dst, d))
    if not victims:
        return 0
    reader = spark.read.option("basePath", src)
    if schema is not None:
        reader = reader.schema(schema)
    (
        reader.parquet(*victims)
        .repartition(pcol)
        .write.mode("append")
        .partitionBy(pcol)
        .parquet(dst)
    )
    return len(victims)


# ---- streaming epoch watermarks (pqm.go:152-188 analog) ----
#
# Structured Streaming runs a query's foreachBatch epochs strictly in
# order and replays the last one after a crash, so a per-table watermark
# "epoch e of query q is durable here" turns a replay into a skip: the
# version-guarded journal replay of the reference. Epoch ids restart at 0
# for every new query, so a watermark is keyed by (query, epoch) and
# lives in a table of its own per query: ``{name}_epoch_{query:08x}``,
# whose live generation number IS the epoch (an empty directory and one
# pointer flip through the backend, so it works on every StoreBackend).

QUERY_KEY_BITS = 30


def query_key(checkpoint_dir: str) -> int:
    """Key of the streaming query whose checkpoint is ``checkpoint_dir``:
    a random ``QUERY_KEY_BITS``-bit id written once into that directory,
    which is Spark's identity for a query (a restart from the checkpoint
    is the same query, a fresh checkpoint a new one). Concurrent first
    calls agree: the id appears by ``os.link``, which only one wins."""
    import secrets
    import uuid as _uuid

    path = os.path.join(checkpoint_dir, "btrdb_query_key")
    if not os.path.exists(path):
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = f"{path}.tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(secrets.randbits(QUERY_KEY_BITS)))
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
    with open(path) as f:
        return int(f.read())


def _watermark(name: str, query: int) -> str:
    return f"{name}_epoch_{query:08x}"


def committed_epoch(backend: StoreBackend, base: str, name: str, query: int) -> int | None:
    """Highest epoch of streaming query ``query`` marked durable for table
    ``name``, or None if that query never marked one."""
    path = backend.resolve(base, _watermark(name, query))
    m = _GEN_RE.search(path) if path is not None else None
    return int(m.group(1)) if m else None


def epoch_done(backend: StoreBackend, base: str, name: str, epoch: tuple[int, int]) -> bool:
    """Whether ``epoch`` = (query, epoch id) is at or below the query's
    watermark for ``name``: a replay whose writes are already durable."""
    done = committed_epoch(backend, base, name, epoch[0])
    return done is not None and done >= epoch[1]


def mark_epoch(backend: StoreBackend, base: str, name: str, epoch: tuple[int, int]) -> None:
    """Record ``epoch`` = (query, epoch id) as durable for ``name``: one
    pointer flip, called after the epoch's writes are durable. The window
    between those writes and this flip replays one batch."""
    wm = _watermark(name, epoch[0])
    gen = os.path.join(base, f"{wm}.g{int(epoch[1])}")
    os.makedirs(gen, exist_ok=True)
    backend.publish(base, wm, gen)
    backend.gc_generations(base, wm, keep=2)


# ---- multi-table index snapshots ----


class SnapshotIndex:
    """An index of several sub-tables behind ONE generation pointer named
    ``state``: each generation directory holds every sub-table (and any
    small sidecar file), a writer builds a new generation that carries
    the live one's sub-tables by hardlink and CAS-publishes it
    (``EXPECT_ABSENT`` on the first publish), and a reader resolves the
    pointer once and reads every sub-table from that generation, so it
    sees whole commits or none. Subclasses declare their sub-tables in
    ``PLAN`` (sub-table -> how ``compact`` treats it: ``"flat"`` and
    ``"partitioned"`` size-tier merge a flat or hive-partitioned parquet
    directory, ``"link"`` carries a directory or file unchanged) and may
    pin a read schema per sub-table in ``SCHEMAS``."""

    PLAN: dict[str, str] = {}
    SCHEMAS: dict[str, str] = {}

    def __init__(self, spark, base_dir: str, backend: StoreBackend | None = None):
        self.spark = spark
        self.base = base_dir
        self.store = backend if backend is not None else DEFAULT
        os.makedirs(base_dir, exist_ok=True)

    def _snapshot(self) -> str | None:
        """Path of the live generation: one resolve = one consistent view
        of every sub-table."""
        return self.store.resolve(self.base, "state")

    def _read(self, snap: str | None, sub: str):
        """Sub-table ``sub`` of generation ``snap`` (its pinned schema, if
        any), or None when it holds no parquet."""
        if snap is None:
            return None
        path = os.path.join(snap, sub)
        if not has_parquet(path):
            return None
        schema = self.SCHEMAS.get(sub)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    @staticmethod
    def _link_subs(snap: str | None, gen: str, subs, skip_existing: bool = False) -> None:
        """Hardlink the sub-table directories ``subs`` of ``snap`` into
        ``gen`` (``skip_existing`` lets a second generation's files join
        the same directories)."""
        if snap is None:
            return
        for sub in subs:
            src = os.path.join(snap, sub)
            if os.path.isdir(src):
                link_tree(src, os.path.join(gen, sub), skip_existing=skip_existing)

    def _new_gen_from(self, cur: str | None, carry=None) -> str:
        """Fresh, unpublished generation carrying ``carry`` (default every
        sub-table directory of the plan) from ``cur`` by hardlink. Sidecar
        files are never carried: a writer rewrites its own."""
        gen = self.store.new_generation(self.base, "state")
        self._link_subs(cur, gen, self.PLAN if carry is None else carry)
        return gen

    def _publish(self, gen: str, cur: str | None) -> None:
        """CAS-flip the pointer from ``cur`` (the generation this writer
        built on) to ``gen``; a concurrent writer surfaces as
        CommitConflict."""
        self.store.publish(
            self.base, "state", gen, expected=cur if cur is not None else EXPECT_ABSENT
        )

    def gc(self, keep: int = 2, min_age_s: float | None = None) -> list[str]:
        """Drop superseded generations (files hardlinked into the live one
        survive). With ``min_age_s=None`` run only once no reader holds
        plans resolved against them; automated callers (the streaming
        sinks' cadence) pass ``min_age_s`` >= the longest expected probe,
        which condemns first and reaps a grace window later
        (StoreBackend.gc_generations)."""
        return self.store.gc_generations(self.base, "state", keep=keep, min_age_s=min_age_s)

    def compact(self, big_bytes: int = 128 << 20, max_small: int = 8) -> int:
        """Merge accumulated per-batch small files into runs: every update
        appends ~1 file per touched partition directory and hardlinks
        every prior file into its new generation, so without compaction
        per-batch cost grows with batch count. Only directories holding
        more than ``max_small`` sub-``big_bytes`` files are rewritten (one
        Spark job per sub-table; files >= ``big_bytes`` are runs linked
        forever), ``"link"`` entries are carried unchanged, and the result
        is one CAS generation flip, so concurrent probes keep their
        resolved snapshot. Returns the number of files merged (0 = no new
        generation)."""
        import shutil

        cur = self._snapshot()
        if cur is None:
            return 0
        gen = self.store.new_generation(self.base, "state")
        merged = 0
        for sub, how in self.PLAN.items():
            src, dst = os.path.join(cur, sub), os.path.join(gen, sub)
            if how == "link":
                if os.path.isdir(src):
                    link_tree(src, dst)
                elif os.path.exists(src):
                    os.link(src, dst)
            elif os.path.isdir(src):
                fn = compact_flat if how == "flat" else compact_partitioned
                merged += fn(self.spark, src, dst, big_bytes=big_bytes,
                             max_small=max_small, schema=self.SCHEMAS.get(sub))
        if merged == 0:
            shutil.rmtree(gen, ignore_errors=True)
            return 0
        self._publish(gen, cur)
        return merged
