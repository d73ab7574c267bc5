"""The ONE commit primitive for every durable side-file the engine keeps
— manifests, history snapshots, fold ledgers, consumer cursors, rollup
state, the packer's layout pin, export manifests, landing envelopes, and
the streaming funnel log all route through here.

PORTABILITY CONTRACT (stated once, in one place, so the assumption is
explicit and swappable): these primitives rely on POSIX filesystem
semantics —

* ``atomic_write_*`` commits via write-to-temp + fsync + ``os.replace``
  + parent-directory fsync. POSIX guarantees the replace is an ATOMIC
  pointer swap on the same filesystem: a reader sees the old complete
  content or the new complete content, never a torn file, and a crash
  mid-write leaves only an ignorable dot-prefixed temp beside the
  target. The two fsyncs extend all-or-nothing from process crashes to
  MACHINE crashes (journal replay cannot surface an empty target).
* ``append_line`` relies on small single-``write()`` appends landing
  intact (the funnel log additionally tolerates torn tails by skipping
  unparseable lines on read).

This holds on local disks, NFS, and HDFS-POSIX mounts — the sandbox and
most on-prem deployments. S3/GCS-STYLE OBJECT STORES HAVE NO ATOMIC
RENAME: ``os.replace`` over a FUSE mount degrades to copy+delete, whose
failure window can expose a missing or torn file. Deploying the engine's
metadata layer onto an object store means swapping THIS module's two
write primitives for the store's conditional-put (if-match/if-none-match
generation preconditions on S3/GCS both express the same
compare-and-swap), exactly the way Delta Lake swaps its LogStore per
backend. Data files never need the swap — they are immutable
write-once version dirs; only these pointer/side files carry the
rename-atomicity assumption.

The swap is a VALIDATED seam, not just a stated one: the primitives
delegate to an injectable backend (``set_backend``), the default being
``PosixRenameBackend`` (the contract above), and
``InMemoryConditionalPutBackend`` is the if-match-generation fake that
proves the interface suffices — the side-file suite (manifest commits,
cursors, fold ledgers, the packer pin) runs green against it with no
rename anywhere, and racing writers serialize through the CAS with no
lost update (``tests/test_commitio_backends.py``), so a real S3/GCS
backend only has to implement one conditional put and derive
``put_atomic`` / ``append`` / ``read_modify_write`` from it exactly as
the fake does.

``put_atomic(path, data)`` takes the object's whole content as
``bytes``: the store's manifests and history snapshots are gzip JSON
(``atomic_write_bytes``), and text side-files go through
``atomic_write_text``, which encodes UTF-8. ``append`` and
``read_modify_write`` stay text.

Single-writer expectations stay with the CALLERS (the store's commit
lock, the gates' external-serialization contract, the stream's serial
foreachBatch); this module guarantees that each individual commit is
all-or-nothing, and owns the one lock, ``exclusive_lock``.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import threading
import time

#: suffix of the flock sidecar files ``exclusive_lock`` locks:
#: ``.{base}.flock`` beside the locked file. Not ``.lock``, so a lock a
#: foreign tool keeps under the warehouse root is never reclaimed.
LOCK_SIDECAR_SUFFIX = ".flock"


class PosixRenameBackend:
    """The default backend: write-to-temp + fsync + atomic rename +
    parent-directory fsync (the POSIX half of the module contract)."""

    def put_atomic(self, path: str, data: bytes) -> None:
        d, base = os.path.split(path)
        if d:
            os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{base}.tmp.{os.getpid()}")
        with open(tmp, "wb") as f:
            f.write(data)
            # fsync BEFORE the rename, and the parent dir after: without
            # both, a power loss shortly after os.replace can surface an
            # empty or missing target on journal replay — the same reason
            # Delta's HDFS LogStore syncs file and directory. A crashed
            # PROCESS never needs this (the page cache survives); this is
            # the machine-crash half of the durability contract.
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        if d:
            try:
                dfd = os.open(d, os.O_RDONLY)
            except OSError:
                return  # directory fsync unsupported (some mounts): best effort
            try:
                os.fsync(dfd)
            except OSError:
                pass
            finally:
                os.close(dfd)

    def append(self, path: str, line: str) -> None:
        with open(path, "a") as f:
            f.write(line + "\n")

    def read_modify_write(self, path: str, fn) -> None:
        """Apply ``fn(current_text) -> new_text`` (missing file reads as
        ``""``) and commit the result, SERIALIZED against concurrent
        writers — threads AND processes on the same host — via an
        exclusive ``fcntl`` lock on a dot-prefixed sidecar lock file.
        The no-lost-update guarantee is POSIX-only: where ``fcntl``
        does not exist (Windows) the method falls back to an
        UNSERIALIZED read-compute-put and emits a loud
        ``RuntimeWarning`` so multi-writer deployments on such
        platforms know to use the conditional-put backend instead.
        The conditional-put backend gets the same no-lost-update
        property from CAS retries; here the kernel lock provides it, so
        both backends pass the same race suite and the module-level
        promise ("the ONE correct way to update a side file whose new
        content derives from its old content when writers may race")
        holds regardless of deployment. Advisory locking suffices
        because every engine writer routes through this method; the
        read happens UNDER the lock, so fn always sees the latest
        committed content (rename is atomic, the lock orders commits).
        NFS caveat: flock over NFS requires a lock-manager-enabled
        mount — the same caveat every flock-based log store carries.
        The lock and its sidecar lifecycle are ``exclusive_lock``'s."""

        def apply():
            try:
                with open(path) as f:
                    prior = f.read()
            except FileNotFoundError:
                prior = ""
            self.put_atomic(path, fn(prior).encode())

        try:
            import fcntl  # noqa: F401
        except ImportError:
            import warnings

            warnings.warn(
                "fcntl is unavailable on this platform — "
                "read_modify_write cannot serialize concurrent writers "
                "and a race here LOSES UPDATES; use the conditional-put "
                "backend for multi-writer deployments off POSIX",
                RuntimeWarning,
                stacklevel=2,
            )
            apply()
            return
        with exclusive_lock(path):
            apply()


@contextlib.contextmanager
def exclusive_lock(path: str):
    """Hold an exclusive kernel ``flock`` on the ``.{base}.flock`` sidecar
    of ``path`` for the ``with`` body — THE lock of the engine: it
    serializes ``read_modify_write`` and the store's manifest commits
    (``TableStore._commit_lock``) across threads AND processes on one
    host. The kernel releases it when the holder's process dies, so a
    crashed committer never stalls the next one, and a live holder keeps
    it however long it pauses. Raises where ``fcntl`` does not exist:
    such a platform cannot serialize writers this way.

    The sidecar is never deleted on release (an unlink while another
    writer is blocked in ``flock`` would hand out locks on two inodes);
    ``reclaim_lock_sidecars`` removes orphaned ones UNDER the lock, so
    the acquirer re-checks that the inode it locked is still the one at
    the path and retries on a fresh sidecar when a reclaimer got there
    first."""
    try:
        import fcntl
    except ImportError:
        raise RuntimeError(
            f"fcntl is unavailable on this platform — cannot lock {path!r} "
            "against concurrent writers"
        ) from None
    d, base = os.path.split(path)
    if d:
        os.makedirs(d, exist_ok=True)
    lockpath = os.path.join(d, f".{base}{LOCK_SIDECAR_SUFFIX}")
    while True:
        with open(lockpath, "a") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                try:
                    same = os.fstat(lk.fileno()).st_ino == os.stat(lockpath).st_ino
                except FileNotFoundError:
                    same = False
                if same:
                    yield
                    return
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)


class ConditionalPutConflict(RuntimeError):
    """The object's generation moved between read and put — another
    writer committed first (S3 412 Precondition Failed / GCS
    ifGenerationMatch failure). For ``put_atomic`` side-files surfacing
    it loudly is the point: those are single-writer by contract, so a
    conflict means that contract was violated, not that a retry is owed.
    For the read-modify-write paths (``append``'s durable logs, which
    legitimately take concurrent writers — a cron fan-out and a stream
    both appending the maintenance log), losing the race invalidates no
    decision: the retry discipline re-reads and re-applies, and THAT
    loop lives in ``read_modify_write`` so every caller inherits it."""


class InMemoryConditionalPutBackend:
    """The object-store fake that VALIDATES the swap seam: every commit
    is a compare-and-swap on a per-object generation number — exactly
    the if-match/if-generation-match precondition S3 and GCS expose —
    with NO rename, temp file, or directory fsync anywhere. On success
    the object's bytes land at the path in one whole-object write
    (object stores have no torn GETs; readers keep using plain
    ``open``), so the rest of the engine runs unmodified on top.

    The CAS itself is ATOMIC under an internal lock — a real store
    serializes the precondition check and the write server-side, and a
    fake that let two threads interleave between check and write would
    validate an interface no real backend provides (both "succeeding"
    is precisely the lost update CAS exists to prevent).

    ``append`` is read-modify-write under the same CAS — object stores
    have no append primitive, which is why the real deployment would
    point the append-only logs at the store's compose/multipart path or
    accept RMW; the fake pins that the INTERFACE (two write methods
    plus the RMW retry discipline composed from the same CAS) is the
    entire surface a backend must provide. ``read_modify_write`` is the
    multi-writer-safe primitive: losers of the generation race retry
    from a fresh read, so N racing writers serialize with no lost
    update and no filesystem lock anywhere."""

    def __init__(self):
        self.generations: dict[str, int] = {}
        self.puts = 0  # observability for the seam tests
        self.conflicts = 0  # CAS losses (each one a serialized retry)
        self._lock = threading.Lock()

    def _conditional_put(self, path: str, data: bytes, if_generation_match: int) -> None:
        with self._lock:
            current = self.generations.get(path, 0)
            if current != if_generation_match:
                self.conflicts += 1
                raise ConditionalPutConflict(
                    f"{path}: generation {current} != expected {if_generation_match}"
                )
            d = os.path.dirname(path)
            if d:
                os.makedirs(d, exist_ok=True)
            with open(path, "wb") as f:
                f.write(data)
            self.generations[path] = current + 1
            self.puts += 1

    def put_atomic(self, path: str, data: bytes) -> None:
        # expected generation sampled at CALL time, checked atomically in
        # the CAS: two put_atomic racers interleaved between sample and
        # check surface a LOUD conflict (these files are single-writer by
        # contract — a conflict is a caller bug, not a retry)
        self._conditional_put(path, data, self.generations.get(path, 0))

    def read_modify_write(self, path: str, fn, attempts: int = 64) -> None:
        """The callers' retry discipline for multi-writer side files:
        snapshot the generation, read, compute, CAS — a lost race
        re-reads and re-applies (``fn`` must therefore be a pure
        function of the current content, which every log append is).
        A lost race sleeps a jittered, exponentially growing delay before
        re-reading: an immediate retry re-collides with the same racers,
        and under N-thread contention one writer could lose every round.
        Bounded so a livelock (or a buggy non-converging ``fn``)
        surfaces instead of spinning forever."""
        for i in range(attempts):
            gen = self.generations.get(path, 0)
            try:
                with open(path) as f:
                    prior = f.read()
            except FileNotFoundError:
                prior = ""
            try:
                self._conditional_put(path, fn(prior).encode(), gen)
                return
            except ConditionalPutConflict:
                if i < attempts - 1:
                    time.sleep(random.uniform(0, min(0.05, 0.0005 * 2**i)))
        raise ConditionalPutConflict(
            f"{path}: lost the generation race {attempts} times in a row"
        )

    def append(self, path: str, line: str) -> None:
        self.read_modify_write(path, lambda prior: prior + line + "\n")


_backend = PosixRenameBackend()


def set_backend(backend):
    """Swap the commit backend (the Delta LogStore move); returns the
    previous one so tests can restore it. Everything that commits a
    durable side-file — and ONLY side-files; immutable data files never
    route here — flows through the active backend."""
    global _backend
    previous = _backend
    _backend = backend
    return previous


def get_backend():
    return _backend


def atomic_write_bytes(path: str, data: bytes) -> None:
    """Atomically replace ``path`` with ``data`` (see module contract).
    Creates the parent directory if needed. Under the default backend
    the temp name is DOT-PREFIXED: Spark's file-stream source ignores
    dot-files, so a half-written landing envelope is never listed — and
    the prefix is harmless for every other side-file."""
    _backend.put_atomic(path, data)


def atomic_write_text(path: str, text: str) -> None:
    """``atomic_write_bytes`` of ``text`` encoded as UTF-8."""
    atomic_write_bytes(path, text.encode())


def atomic_write_json(path: str, obj, **dump_kwargs) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON (see module
    contract). ``dump_kwargs`` pass through to ``json.dump`` (e.g. the
    export manifest's ``indent``/``sort_keys``)."""
    atomic_write_text(path, json.dumps(obj, **dump_kwargs))


def append_line(path: str, line: str) -> None:
    """Append ``line`` (newline added) to ``path`` — the durable-log
    primitive (funnel metrics, maintenance log). Under the default
    backend this is one ``write()`` call, deliberately NOT fsynced:
    readers tolerate a torn or lost tail line after a crash
    (``read_funnel_metrics`` skips unparseable lines, and a lost funnel
    line is re-appended by the batch's replay), so paying a sync per log
    line buys nothing the contract needs."""
    _backend.append(path, line)


def read_modify_write(path: str, fn) -> None:
    """Apply ``fn(current_text) -> new_text`` (missing file reads as
    ``""``) and commit the result through the active backend — the ONE
    correct way to update a side file whose new content derives from its
    old content when writers may race. On the conditional-put backend
    the loser of the generation race re-reads and re-applies (``fn``
    must be a pure function of the current content); on POSIX an
    exclusive flock on a ``.{base}.flock`` sidecar serializes threads
    AND processes (see ``exclusive_lock`` and ``reclaim_lock_sidecars``
    for the sidecar lifecycle). Engine state files today are
    single-writer by contract and use
    ``atomic_write_*`` directly; route any FUTURE multi-writer
    read-modify-write file through here, never through a bare
    read-then-``atomic_write_text`` (which is last-writer-wins on every
    backend)."""
    _backend.read_modify_write(path, fn)


def reclaim_lock_sidecars(root: str) -> list[str]:
    """Remove orphaned flock sidecars (``.{base}.flock`` files whose
    parent side file ``{base}`` no longer exists) under ``root``,
    recursively — the maintenance sweep that keeps a long-lived
    deployment from accumulating one sidecar per vacuumed side file
    forever. Wired into ``engine.maintain()``.

    Only ``.flock`` names are candidates, so no ``.lock`` file a foreign
    tool keeps under the warehouse root is ever unlinked. A table's
    ``.MANIFEST.json.flock`` (the store's commit lock) stays while its
    manifest exists.

    Safe next to live writers: each candidate is taken with a
    NON-BLOCKING exclusive flock (busy → skip, the holder is mid-commit
    and the parent is about to exist), the parent's absence is
    re-checked UNDER the lock, and the unlink happens before release —
    a writer that then acquires the unlinked inode re-verifies inode
    identity (see ``exclusive_lock``) and retries on a fresh sidecar,
    so no two writers ever hold locks on different inodes of the same
    path. ``.flock`` sidecars of side files that still exist are left
    alone (they are the lock). No-op on platforms without ``fcntl``.
    Returns the removed paths."""
    try:
        import fcntl
    except ImportError:  # non-POSIX: no flock sidecars exist
        return []
    removed: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not (name.startswith(".") and name.endswith(LOCK_SIDECAR_SUFFIX)):
                continue
            base = name[1 : -len(LOCK_SIDECAR_SUFFIX)]
            if not base:
                continue
            parent = os.path.join(dirpath, base)
            if os.path.exists(parent):
                continue
            lockpath = os.path.join(dirpath, name)
            try:
                with open(lockpath, "a") as lk:
                    try:
                        fcntl.flock(lk, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    except OSError:
                        continue  # held — a writer is mid-commit
                    try:
                        # re-check under the lock: the holder we raced
                        # may have just created the parent
                        if not os.path.exists(parent):
                            os.unlink(lockpath)
                            removed.append(lockpath)
                    finally:
                        fcntl.flock(lk, fcntl.LOCK_UN)
            except FileNotFoundError:
                continue  # another reclaimer got it first
    return removed
