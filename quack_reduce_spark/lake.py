"""Versioned-table commit protocol for lake maintenance ops.

Plain-parquet lake tables have no transaction log, so maintenance
operations (``Engine.merge_upsert``, ``Engine.compact``) must replace a
live directory. POSIX rename tricks do not exist on object stores —
S3 "rename" is copy+delete, non-atomic, and a crash mid-swap can leave
the table path missing entirely. The standard fix (the essence of what
Delta/Iceberg commit logs do) is: data files are immutable, written
ONCE under a brand-new version directory, and the only mutation is a
single small pointer write naming the current version. Readers resolve
the pointer, then scan only that version's directory.

Crash at ANY point before the pointer write leaves the previous version
fully readable; the pointer write itself is one small object — a
single PUT on S3 (atomic), and write-temp + ``os.replace`` locally
(atomic). There is never a moment when no complete table exists.

Layout::

    table_root/
      _CURRENT          # text file holding e.g. "v00000002"
      v00000001/        # immutable parquet data (optionally hive-partitioned)
      v00000002/

The reference's lake is rewrite-in-place with no transactionality
(``run_me_first.py:83-100`` re-uploads artifacts; ``README.md:190``
lists table formats as future work) — this module is the minimal
object-store-safe protocol that closes that gap without adopting a
full table format. Old versions stay readable until :func:`vacuum`.

FILESYSTEM DISPATCH: bare paths (``/data/table``) use pure-``os``
operations — no JVM needed, the hot path for local work and tests.
Paths with a URI scheme (``s3a://bucket/table``, ``hdfs://...``,
``file:/...``) route every metadata operation through the Hadoop
FileSystem API of the active SparkSession, the same abstraction the
S3A/ABFS/GCS connectors implement — so the identical protocol code
runs against a real object store on a cluster. The sandbox has no S3;
the Hadoop path is exercised in tests via ``file:`` URIs, which go
through the same ``FileSystem.get`` dispatch and API surface. The
pointer write maps to ``FileSystem.create(overwrite=true)`` — one
small PUT on S3A (atomic at the object level), ``create tmp +
rename`` on HDFS-like stores where rename is atomic.
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import tempfile
import time
import uuid

CURRENT = "_CURRENT"
MANIFEST = "_meta.json"
COMMITTED_MARK = "_COMMITTED"
COMMIT_LOCK = "_CURRENT.lock"
STAGE_CLAIM = "_STAGED"
# A lock whose payload timestamp is older than this is presumed to
# belong to a crashed writer and is broken (a healthy commit holds the
# lock for milliseconds). Clock skew between writers eats into this
# margin — keep it generous.
LOCK_STALE_SECS = 60.0
# How long a conditional commit waits for a live contender's lock
# before concluding the head is about to move and raising.
LOCK_WAIT_SECS = 5.0
_LOCK_POLL_SECS = 0.05
_CLAIM_WALK_MAX = 1000
_VERSION_RE = re.compile(r"^v\d{8}$")
_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_UNCONDITIONAL = object()  # sentinel: commit() without a head check


class ConcurrentCommitError(RuntimeError):
    """A conditional commit lost the race: the table head moved past
    ``expected_head`` (or a live writer holds the commit lock). The
    loser must re-read the head, re-stage against the new snapshot if
    its data depends on it, and retry — the Delta/Iceberg optimistic-
    concurrency contract."""


def _join(path: str, *parts: str) -> str:
    return "/".join([path.rstrip("/"), *parts])


class _LocalFS:
    """Pure-os filesystem ops — the no-JVM fast path for bare paths."""

    def is_file(self, p: str) -> bool:
        return os.path.isfile(p)

    def is_dir(self, p: str) -> bool:
        return os.path.isdir(p)

    def read_text(self, p: str) -> str:
        with open(p) as fh:
            return fh.read()

    def write_text_atomic(self, p: str, text: str) -> None:
        self.write_bytes_atomic(p, text.encode())

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as fh:
            return fh.read()

    def open_input(self, p: str):
        return open(p, "rb")

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        # the temp name is dot-hidden, so a concurrent directory scan
        # (Spark's or the manifest reader's) never sees a partial file
        tmp = os.path.join(
            os.path.dirname(p), f".{os.path.basename(p)}.tmp.{uuid.uuid4().hex}"
        )
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, p)

    def create_excl(self, p: str, text: str) -> bool:
        """Create ``p`` with ``text`` iff it does not exist (O_EXCL —
        atomic on POSIX). Returns False if it already exists."""
        try:
            fd = os.open(p, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        return True

    def delete_file(self, p: str) -> None:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass

    def list_names(self, p: str) -> list[str]:
        return os.listdir(p)

    def mkdirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def delete_recursive(self, p: str) -> None:
        shutil.rmtree(p)

    def mtime(self, p: str) -> float | None:
        """Modification time (epoch seconds), None if absent — the
        cache-invalidation key for parsed-manifest caches."""
        try:
            return os.stat(p).st_mtime
        except OSError:
            return None

    def size(self, p: str) -> int | None:
        try:
            return os.stat(p).st_size
        except OSError:
            return None

    def stat_key(self, p: str) -> tuple[float, int] | None:
        """(mtime, size) in ONE stat call, None if absent — the
        cache-invalidation key for parsed-manifest caches. mtime alone
        is millisecond-granular on Hadoop filesystems (coarser on some
        stores): two commits inside one tick would serve a stale
        parse, so size joins the key and writers additionally bump
        mtime monotonically (set_mtime)."""
        try:
            st = os.stat(p)
        except OSError:
            return None
        return (st.st_mtime, st.st_size)

    def set_mtime(self, p: str, t: float) -> None:
        os.utime(p, (t, t))


class _HadoopFS:
    """The same ops via the active SparkSession's Hadoop FileSystem —
    the abstraction S3A/ABFS/GCS/HDFS implement. Used for any path
    with a URI scheme; on this sandbox it is exercised with ``file:``
    URIs (LocalFileSystem), on a cluster the identical code hits the
    object store. py4j round-trips are per-METADATA-op (a handful per
    commit), never per-row, so driver overhead is negligible next to
    the data write."""

    def __init__(self, path: str) -> None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"URI path {path!r} needs an active SparkSession for Hadoop FS access"
            )
        self._jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(
            self._jvm.java.net.URI(path), conf
        )

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def is_file(self, p: str) -> bool:
        jp = self._p(p)
        return bool(self._fs.exists(jp) and self._fs.getFileStatus(jp).isFile())

    def is_dir(self, p: str) -> bool:
        jp = self._p(p)
        return bool(self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory())

    def read_text(self, p: str) -> str:
        # One py4j call for the whole file (commons-io ships with
        # Spark) — a byte-at-a-time stream.read() loop would cost one
        # driver round trip PER BYTE, turning every pointer/catalog
        # read on an object store into seconds.
        stream = self._fs.open(self._p(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        self.write_bytes_atomic(p, text.encode())

    def read_bytes(self, p: str) -> bytes:
        # through open_input's local scratch file: a manifest with Bloom
        # bitsets can run to megabytes, which a py4j byte[] moves slowly
        with self.open_input(p) as fh:
            return fh.read()

    def open_input(self, p: str):
        """A seekable binary file over ``p`` whose every read is one
        ranged py4j call, so a parquet reader fetches the footer and
        the column chunks it projects, not the whole object."""
        return _HadoopInput(self, p)

    def write_bytes_atomic(self, p: str, data: bytes) -> None:
        # FileSystem.create(overwrite=true): one small PUT on S3A
        # (atomic object replace); HDFS overwrites via its own
        # create-then-commit. Either way readers see old or new
        # content, never partial. One write() call ships the payload.
        stream = self._fs.create(self._p(p), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def create_excl(self, p: str, text: str) -> bool:
        """``FileSystem.create(overwrite=false)``: atomic
        exclusive-create on HDFS and local; on S3A this is a
        HEAD-then-PUT (no native compare-and-swap), so the lock is
        best-effort there — the honest limitation shared by every
        non-catalog commit protocol on S3 (Delta on S3 needs DynamoDB
        for the same reason). The head re-check under the lock still
        catches most interleavings; a true same-millisecond S3 race
        can last-wins.

        Only the already-exists outcome maps to False; any OTHER
        failure (permissions, transient IO) re-raises. Swallowing it
        would make stage_version's claim walk spin forever mkdir-ing
        version dirs, and commit() report a spurious
        ConcurrentCommitError after the lock-wait deadline."""
        try:
            stream = self._fs.create(self._p(p), False)
        except Exception as e:
            jexc = getattr(e, "java_exception", None)
            name = jexc.getClass().getName() if jexc is not None else ""
            if "AlreadyExists" in name or (not name and self._fs.exists(self._p(p))):
                return False
            raise
        try:
            stream.write(bytearray(text.encode()))
        finally:
            stream.close()
        return True

    def delete_file(self, p: str) -> None:
        self._fs.delete(self._p(p), False)

    def list_names(self, p: str) -> list[str]:
        return [s.getPath().getName() for s in self._fs.listStatus(self._p(p))]

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._p(p))

    def delete_recursive(self, p: str) -> None:
        self._fs.delete(self._p(p), True)

    def mtime(self, p: str) -> float | None:
        jp = self._p(p)
        if not self._fs.exists(jp):
            return None
        return self._fs.getFileStatus(jp).getModificationTime() / 1000.0

    def size(self, p: str) -> int | None:
        jp = self._p(p)
        if not self._fs.exists(jp):
            return None
        return int(self._fs.getFileStatus(jp).getLen())

    def stat_key(self, p: str) -> tuple[float, int] | None:
        """(mtime, size) in one getFileStatus round trip, None if
        absent — see _LocalFS.stat_key for why size joins mtime."""
        try:
            st = self._fs.getFileStatus(self._p(p))
        except Exception:
            return None  # FileNotFoundException and friends
        return (st.getModificationTime() / 1000.0, int(st.getLen()))

    def set_mtime(self, p: str, t: float) -> None:
        # FileSystem.setTimes(path, mtime_ms, atime_ms); -1 = keep
        self._fs.setTimes(self._p(p), int(t * 1000), -1)


class _HadoopInput(io.RawIOBase):
    """Read-only, seekable view of one Hadoop file (see
    :meth:`_HadoopFS.open_input`). Each read has the JVM copy its range
    into a driver-local scratch file that Python then reads: py4j moves
    a byte array at a few MB/s, a local file at memory speed (PySpark's
    own Python-to-JVM transfers go through a temp file the same way)."""

    def __init__(self, fs: _HadoopFS, p: str) -> None:
        super().__init__()
        self._io = fs._jvm.org.apache.commons.io.IOUtils
        self._local_out = fs._jvm.java.io.FileOutputStream
        self._size = fs.size(p) or 0
        self._stream = fs._fs.open(fs._p(p))
        fd, self._buf = tempfile.mkstemp(prefix="hadoop-read-")
        os.close(fd)
        self._pos = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        base = {io.SEEK_SET: 0, io.SEEK_CUR: self._pos, io.SEEK_END: self._size}[whence]
        self._pos = base + offset
        return self._pos

    def read(self, n: int = -1) -> bytes:
        n = self._size - self._pos if n is None or n < 0 else min(n, self._size - self._pos)
        if n <= 0:
            return b""
        self._stream.seek(self._pos)
        out = self._local_out(self._buf)
        try:
            self._io.copyLarge(self._stream, out, 0, n)
        finally:
            out.close()
        with open(self._buf, "rb") as fh:
            data = fh.read()
        self._pos += len(data)
        return data

    def readall(self) -> bytes:
        return self.read(-1)

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            os.remove(self._buf)
        super().close()


def _fs_for(path: str):
    return _HadoopFS(path) if _URI_RE.match(path) else _LocalFS()


def is_versioned(path: str) -> bool:
    """True if ``path`` is a versioned table root (has a _CURRENT pointer)."""
    fs = _fs_for(path)
    return fs.is_file(_join(path, CURRENT))


def current_version(path: str) -> str:
    """The live version name recorded in the pointer file."""
    version = _fs_for(path).read_text(_join(path, CURRENT)).strip()
    if not _VERSION_RE.match(version):
        raise ValueError(f"corrupt {CURRENT} pointer in {path}: {version!r}")
    return version


def resolve(path: str) -> str:
    """Data directory to scan: ``path/<current version>`` for a
    versioned root, ``path`` itself otherwise. Safe on files and
    non-table paths (returns them unchanged)."""
    fs = _fs_for(path)
    if fs.is_dir(path) and fs.is_file(_join(path, CURRENT)):
        return _join(path, current_version(path))
    return path


def list_versions(path: str) -> list[str]:
    """All version directories present under the root, sorted ascending."""
    fs = _fs_for(path)
    return sorted(
        e for e in fs.list_names(path)
        if _VERSION_RE.match(e) and fs.is_dir(_join(path, e))
    )


def stage_version(path: str, claim: bool = False) -> tuple[str, str]:
    """Allocate the next version: returns ``(version, data_dir)``.

    The caller writes (and verifies) data under ``data_dir``, then calls
    :func:`commit`. Until then the new directory is invisible to readers
    — resolve() still points at the old version — so a crash between
    stage and commit costs only orphaned files (removed by vacuum).

    ``claim=True`` (required for CONCURRENT writers): two writers
    listing the same table would both allocate the same next number
    and stage into the SAME directory, corrupting each other's data
    before either commits. Claiming writes an exclusive ``_STAGED``
    marker into the candidate dir (atomic ``O_EXCL`` locally, atomic
    exclusive-create on HDFS-like stores; best-effort on S3A — see
    :func:`commit`) and walks to the next number on collision, so
    every concurrent writer stages into a private directory. The
    underscore-prefixed marker is ignored by parquet readers.
    """
    fs = _fs_for(path)
    versions = list_versions(path)
    n = int(versions[-1][1:]) + 1 if versions else 1
    if not claim:
        version = f"v{n:08d}"
        return version, _join(path, version)
    # Bounded walk: with create_excl re-raising non-AlreadyExists
    # errors this only loses to genuine claim collisions, and more
    # than this many concurrent stagers on ONE table means something
    # is wrong upstream — surface it rather than mkdir unboundedly.
    for _ in range(_CLAIM_WALK_MAX):
        version = f"v{n:08d}"
        data_dir = _join(path, version)
        fs.mkdirs(data_dir)
        if fs.create_excl(
            _join(data_dir, STAGE_CLAIM), json.dumps({"t": time.time()}) + "\n"
        ):
            return version, data_dir
        n += 1
    raise RuntimeError(
        f"stage_version: {_CLAIM_WALK_MAX} consecutive claim collisions "
        f"under {path} — too many concurrent stagers or a stuck claim marker"
    )


def commit(
    path: str, version: str, expected_head: str | int | None = _UNCONDITIONAL
) -> None:
    """Flip the pointer to ``version`` — the ONE mutating step.

    Locally: write a temp file then ``os.replace`` (atomic). Through
    the Hadoop FS: ``create(overwrite=true)`` — a single small PUT of
    the pointer object on S3A. Either way, readers see the old version
    or the new version, never an absent or partial table.

    **Optimistic concurrency** (pass ``expected_head``): the commit
    succeeds only if the table head is still ``expected_head`` (a
    version name/number, or ``None`` for "table has no pointer yet").
    Two writers staging from the same snapshot then both committing:
    exactly one wins; the loser gets :class:`ConcurrentCommitError`
    and must re-read the head, re-stage if its data depends on the
    snapshot, and retry — the Delta/Iceberg commit contract. The
    check-then-flip is serialized behind an exclusive lock marker
    (``_CURRENT.lock``, atomic ``O_EXCL`` locally, atomic
    ``create(overwrite=false)`` on HDFS; best-effort HEAD-then-PUT on
    S3A — S3 has no native CAS, the same gap that makes Delta-on-S3
    require an external LogStore; see docs/SCALE.md). A lock older
    than ``LOCK_STALE_SECS`` is presumed crashed and broken; a LIVE
    contender's lock held past ``LOCK_WAIT_SECS`` raises
    ConcurrentCommitError (the head is about to move anyway).

    Without ``expected_head`` the flip is unconditional — the
    single-writer paths (rollback, convert, maintenance ops that own
    the table) keep their existing semantics.
    """
    fs = _fs_for(path)
    if not fs.is_dir(_join(path, version)):
        raise ValueError(f"cannot commit {version}: no such data dir under {path}")
    if expected_head is _UNCONDITIONAL:
        _flip(fs, path, version)
        return

    expected = None if expected_head is None else normalize_version(expected_head)
    lock = _join(path, COMMIT_LOCK)
    token = uuid.uuid4().hex
    deadline = time.time() + LOCK_WAIT_SECS
    while not fs.create_excl(lock, json.dumps({"token": token, "t": time.time()})):
        # lock exists: break it if stale (crashed writer), else wait
        try:
            raw = fs.read_text(lock)
            holder = json.loads(raw)
            stale = time.time() - float(holder.get("t", 0)) > LOCK_STALE_SECS
        except Exception:  # unreadable/partial lock: age unknowable
            stale = False
        if stale:
            # Token-aware break: a blind delete here is a TOCTOU — in
            # the window since we read the payload, a THIRD writer may
            # have already broken this stale lock and created its own
            # FRESH lock at the same path, and deleting that would let
            # two committers run the check-then-flip concurrently.
            # Re-read immediately before deleting and only delete if
            # the payload is byte-identical to the one judged stale.
            # The residual read→delete window is microseconds, and the
            # pre-flip lease re-check below catches even that: a holder
            # whose lock was stolen aborts instead of flipping.
            try:
                if fs.read_text(lock) == raw:
                    fs.delete_file(lock)
            except Exception:
                pass  # already gone — someone else broke it first
            continue
        if time.time() > deadline:
            raise ConcurrentCommitError(
                f"commit lock on {path} held by a live writer for >"
                f"{LOCK_WAIT_SECS}s — head is moving; re-read and retry"
            )
        time.sleep(_LOCK_POLL_SECS)
    try:
        head = current_version(path) if fs.is_file(_join(path, CURRENT)) else None
        if head != expected:
            raise ConcurrentCommitError(
                f"head of {path} is {head!r}, expected {expected!r} — "
                "another writer committed first; re-read the head, "
                "re-stage if needed, and retry"
            )
        # Lease re-check right before the flip: if another writer
        # judged US stale (we held the lock > LOCK_STALE_SECS, e.g. a
        # long GC pause) and broke our lock, the lock file is now gone
        # or carries a different token. Flipping anyway could lose the
        # thief's update — abort with the retryable error instead.
        try:
            still_ours = json.loads(fs.read_text(lock)).get("token") == token
        except Exception:
            still_ours = False
        if not still_ours:
            raise ConcurrentCommitError(
                f"commit lock on {path} was broken while held (presumed "
                "stale by another writer) — aborting before flip; "
                "re-read the head and retry"
            )
        _flip(fs, path, version)
    finally:
        # release only our own lock (a stale-break race could have
        # replaced it with another writer's)
        try:
            if json.loads(fs.read_text(lock)).get("token") == token:
                fs.delete_file(lock)
        except Exception:
            pass


def _flip(fs, path: str, version: str) -> None:
    """The unconditional pointer flip + commit-marker append."""
    fs.write_text_atomic(_join(path, CURRENT), version + "\n")
    # Post-commit marker: distinguishes committed versions from
    # orphaned stages (crash between stage and commit leaves data +
    # manifest but NO marker). The pointer flip above IS the commit;
    # the marker just records it durably per version, so history /
    # version_as_of / vacuum never mistake an orphan for a commit. If
    # a crash lands between pointer and marker, the version is still
    # recognized as committed because the pointer targets it
    # (committed_versions checks both); the marker write is re-done by
    # any later rollback to this version.
    #
    # The marker carries the ACTUAL pointer-flip times — the manifest's
    # committed_at is stamped when the stage is written, BEFORE the
    # flip, so a slow write would otherwise make an as-of read resolve
    # to a version not yet visible at that wall-clock time. Each
    # commit (including a rollback's re-commit) APPENDS its flip time,
    # so the full visibility timeline survives rollbacks.
    events = _commit_events(fs, path, version)
    events.append(time.time())
    fs.write_text_atomic(
        _join(path, version, COMMITTED_MARK),
        json.dumps({"committed_at": events}) + "\n",
    )


def _commit_events(fs, path: str, version: str) -> list[float]:
    """Pointer-flip timestamps recorded in the version's commit marker
    (ascending). Empty for orphans and for legacy/crash-window markers
    with no parseable payload — callers fall back to the manifest's
    stage-time stamp for those."""
    p = _join(path, version, COMMITTED_MARK)
    if not fs.is_file(p):
        return []
    try:
        events = json.loads(fs.read_text(p)).get("committed_at", [])
        return [float(t) for t in events]
    except (ValueError, AttributeError):
        return []  # legacy "committed\n" marker


def _effective_timeline(path: str) -> tuple[dict[str, list[float]], str, float | None]:
    """Per-committed-version pointer-flip timeline with the rollback
    crash-window repair applied. Returns ``(timeline, cur, synth)``
    where ``synth`` is the synthesized flip time appended to the
    current pointer target's events (or None if no repair was needed).

    The repair: commit() flips the pointer FIRST, then appends the
    flip event to the target's marker. A crash in between (only
    observable after a rollback — a fresh commit's target is
    recognized via the pointer even with no marker) leaves the live
    pointer on a version whose last recorded flip is OLDER than
    another version's. The missing flip is synthesized at the newest
    foreign event (the true flip time is unknowable but is >= that
    instant). Both :func:`version_as_of` and :func:`commit_time` read
    this one timeline so their as-of coordinates always agree —
    including inside the crash window."""
    fs = _fs_for(path)
    cur = current_version(path)
    timeline: dict[str, list[float]] = {}
    for v in committed_versions(path):
        events = _commit_events(fs, path, v)
        if not events:
            meta = read_manifest(path, v)
            if meta and meta.get("committed_at") is not None:
                events = [float(meta["committed_at"])]
        timeline[v] = events
    max_other = max(
        (t for v, ev in timeline.items() if v != cur for t in ev), default=None
    )
    synth: float | None = None
    if (
        cur in timeline
        and max_other is not None
        and (not timeline[cur] or timeline[cur][-1] < max_other)
    ):
        timeline[cur] = timeline[cur] + [max_other]
        synth = max_other
    return timeline, cur, synth


def commit_time(path: str, version: int | str) -> float | None:
    """Wall-clock time of the version's most recent pointer flip (the
    authoritative TIMESTAMP AS OF coordinate), or the manifest's
    stage-time stamp for legacy tables, or None for orphans.

    Reads the same repaired timeline as :func:`version_as_of`, so in
    the rollback crash window (pointer flipped, marker append lost)
    ``commit_time(path, current_version(path))`` reports the
    synthesized flip time — the two as-of coordinates agree instead of
    the pre-r8 behavior where this returned the stale pre-rollback
    stamp while version_as_of(now) resolved to the current version.

    Orphans return None: an orphaned stage has a manifest too (written
    before the pointer flip that never happened), but it is excluded
    from committed_versions and hence from the timeline."""
    v = normalize_version(version)
    timeline, _cur, _synth = _effective_timeline(path)
    events = timeline.get(v)
    return events[-1] if events else None


def committed_versions(path: str) -> list[str]:
    """Version directories that were actually committed (pointer
    flipped to them at some point), ascending. A version counts as
    committed iff it carries the post-commit marker OR is the current
    pointer target (covers a crash between pointer write and marker
    write). Orphaned stages — data dirs a crashed writer never
    committed — are excluded; vacuum reclaims them."""
    fs = _fs_for(path)
    current = current_version(path)
    return [
        v
        for v in list_versions(path)
        if v == current or fs.is_file(_join(path, v, COMMITTED_MARK))
    ]


def convert_to_versioned(path: str) -> str:
    """Convert a plain parquet directory into a versioned root in place:
    existing contents move under ``v00000001/`` and the pointer is
    written last (so a crash mid-convert leaves either the original
    layout or a complete v1). Returns the initial version name.

    Local-FS utility (uses renames); on an object store a table is
    born versioned by writing v1 directly then the pointer.
    """
    if _URI_RE.match(path):
        raise ValueError(
            "convert_to_versioned is local-FS-only (it renames in place); "
            "on an object store write v1 via Engine.write_versioned instead"
        )
    if is_versioned(path):
        return current_version(path)
    version = "v00000001"
    data_dir = os.path.join(path, version)
    os.makedirs(data_dir)
    for entry in os.listdir(path):
        if entry != version:
            os.rename(os.path.join(path, entry), os.path.join(data_dir, entry))
    commit(path, version)
    return version


def mkdirs(path: str) -> None:
    """Create a table root (scheme-dispatched; no-op if present)."""
    _fs_for(path).mkdirs(path)


def normalize_version(version: int | str) -> str:
    """Accept ``3`` / ``"3"`` / ``"v00000003"`` and return the
    canonical directory name."""
    if isinstance(version, int) or (isinstance(version, str) and version.isdigit()):
        return f"v{int(version):08d}"
    if isinstance(version, str) and _VERSION_RE.match(version):
        return version
    raise ValueError(f"bad version {version!r}")


def write_manifest(path: str, version: str, op: str, rows: int | None) -> None:
    """Record commit metadata INSIDE the version directory (file name
    starts with ``_`` so Spark's parquet reader treats it as hidden
    metadata). Written before the pointer flip — the manifest is part
    of the immutable staged version, never mutated after commit, and
    vacuum reclaims it with the data it describes."""
    meta = {
        "version": version,
        "op": op,
        "rows": rows,
        "committed_at": time.time(),
    }
    _fs_for(path).write_text_atomic(
        _join(path, version, MANIFEST), json.dumps(meta, indent=1, sort_keys=True)
    )


def read_manifest(path: str, version: str) -> dict | None:
    fs = _fs_for(path)
    p = _join(path, version, MANIFEST)
    if not fs.is_file(p):
        return None
    return json.loads(fs.read_text(p))


def history(path: str) -> list[dict]:
    """Commit history, ascending: one row per version directory with
    its manifest metadata (op, rows, committed_at) and whether it is
    the live version. This is the time-travel index — any listed
    version can be read (:meth:`Engine.read_table`) or restored
    (:func:`rollback`) until vacuum removes it."""
    current = current_version(path)
    fs = _fs_for(path)
    out = []
    for v in committed_versions(path):
        meta = read_manifest(path, v) or {"version": v, "op": None, "rows": None}
        # the manifest stamp is stage time (pre-flip); surface it as
        # staged_at and report the authoritative pointer-flip time —
        # the TIMESTAMP AS OF coordinate — as committed_at
        events = _commit_events(fs, path, v)
        if events:
            meta["staged_at"] = meta.get("committed_at")
            meta["committed_at"] = events[-1]
        meta["is_current"] = v == current
        out.append(meta)
    return out


def version_as_of(path: str, ts: float) -> str:
    """The version that was LIVE at wall-clock time ``ts`` — Delta's
    ``TIMESTAMP AS OF`` semantics: the target of the most recent
    pointer flip at or before ``ts``. Resolution walks the commit-
    event timeline recorded in the post-commit markers (every flip,
    including a rollback's re-commit, appends its time), NOT the
    current pointer — so an ``as_of`` read for a past instant is
    stable across later rollbacks, while instants after a rollback
    correctly resolve to the restored version. Only COMMITTED versions
    participate: an orphaned stage left by a crash between manifest
    write and pointer flip carries a manifest stamp but no commit
    marker, and must never satisfy an as-of read. Legacy tables whose
    markers predate event stamping fall back to the manifest's
    stage-time stamp. Raises if the table has no commit at or before
    ``ts`` (reading "before the table existed" is an error, not an
    empty frame).

    Ties: the crash-window repair (see :func:`_effective_timeline`)
    synthesizes the current pointer target's missing flip AT the
    newest foreign event time, so exactly that tie breaks toward the
    pointer target (its true flip happened at-or-after the foreign
    one). Any OTHER genuine timestamp tie — two versions whose
    recorded flips carry identical stamps — breaks toward the higher
    version number (the deterministic Delta-style rule; r8 fix: the
    r7 code broke ALL ties toward the live pointer, which let a
    historical as-of resolve to a version that was not live then)."""
    timeline, cur, synth = _effective_timeline(path)
    best: tuple[float, str] | None = None
    for v, events in timeline.items():
        for t in events:
            if t > ts:
                continue
            if best is None or t > best[0]:
                best = (t, v)
            elif t == best[0]:
                repaired_tie = synth is not None and t == synth and cur in (v, best[1])
                if repaired_tie:
                    if v == cur:
                        best = (t, v)
                elif v > best[1]:
                    best = (t, v)
    if best is None:
        raise ValueError(f"no version of {path} committed at or before {ts}")
    return best[1]


def version_path(path: str, version: int | str) -> str:
    """Data directory of a specific version (time-travel read target).
    Raises if the version directory does not exist (vacuumed or never
    committed)."""
    v = normalize_version(version)
    p = _join(path, v)
    if not _fs_for(path).is_dir(p):
        raise ValueError(f"version {v} not present under {path} (vacuumed?)")
    return p


def rollback(path: str, version: int | str) -> str:
    """Restore a previous version by flipping the pointer back — O(1)
    metadata-only, no data movement (the Delta RESTORE semantics).
    Later versions stay on disk (re-rollback-able) until vacuum; the
    next staged write continues numbering after the HIGHEST existing
    version, so roll-forward history is never overwritten."""
    v = normalize_version(version)
    if not _fs_for(path).is_dir(_join(path, v)):
        raise ValueError(f"cannot rollback to {v}: not present under {path}")
    if v not in committed_versions(path):
        raise ValueError(
            f"cannot rollback to {v}: it was never committed (orphaned "
            "stage from a crashed writer — unverified data)"
        )
    commit(path, v)
    return v


def vacuum(
    path: str,
    keep: int = 1,
    dry_run: bool = False,
    orphan_grace: float = 3600.0,
) -> list[str]:
    """Delete old version directories and stale orphaned stages,
    keeping the newest ``keep`` COMMITTED versions — always including
    the current one. ``keep`` counts committed versions only, so an
    orphaned stage (crashed writer, no commit marker) can never
    displace a committed snapshot from the retention window.

    Orphan reclamation is age-gated: a stage numbered below the
    current pointer USUALLY belongs to a crashed writer (a stage
    always numbers above every version that existed when it was
    allocated), but two CONCURRENT writers can violate that — A
    stages v5 slowly, B stages and commits v6, and v5 is now a live
    in-flight stage below the pointer. So below-pointer orphans are
    reclaimed only when their manifest's stage-time stamp is more than
    ``orphan_grace`` seconds old (default 1h — an in-flight writer
    staging for longer should fail its commit anyway); an orphan with
    no readable manifest is reclaimed only with ``orphan_grace=0``
    (its age is unknown). Pass ``orphan_grace=0`` for immediate
    reclamation when you KNOW no writer is in flight. Orphans above
    the current pointer are always left alone. Delta's VACUUM has the
    same retention-window idiom for the same race.

    Returns the removed directory names; ``dry_run=True`` returns what
    WOULD be removed without touching anything (vacuum is the one
    irreversible lake operation — Delta's VACUUM has the same preview
    idiom for the same reason)."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    fs = _fs_for(path)
    current = current_version(path)
    committed = committed_versions(path)
    protect = set(committed[-keep:]) | {current}
    now = time.time()
    removed = []
    for v in list_versions(path):
        if v in protect:
            continue
        is_orphan = v not in committed
        if is_orphan:
            if v > current:
                continue  # possibly a concurrent writer's in-flight stage
            if orphan_grace > 0:
                meta = read_manifest(path, v)
                staged_at = meta.get("committed_at") if meta else None
                if staged_at is None or now - float(staged_at) <= orphan_grace:
                    continue  # unknown or recent stage — may be in flight
        if not dry_run:
            fs.delete_recursive(_join(path, v))
        removed.append(v)
    return removed
