"""Shared filesystem, versioned-pointer layout and mutation protocol
for the persisted stores.

Every persisted store (the IVF vector index in ``llm/similarity.py``,
the SCD2 dimension store in ``operators/analytics.py``) is a
raw-parquet directory tree with ONE on-disk format, and every mutation
of one goes through this module:

* ``path/_layout-v{seq}.json`` pointer files name the live object set —
  one immutable file per committed pointer version, so a reader lists
  the directory once, resolves the HIGHEST sequence, and then only
  opens the named directories. It sees version N's complete set or
  version N+1's, never a mixture and never an absent object. A path
  with no pointer file holds no store (``pointer_require``).
* Object directories are named ``{logical}-v{version:06d}``
  (``object_dir``); everything else a store keeps (the IVF id Bloom,
  the PQ codebook and anchors) is a protocol file inside one of them.
* ``lock`` is the single-writer guard: an atomic ``createNewFile`` of
  the store's lock file (``path/_mutate.lock`` for the IVF index,
  ``<store>.mutate.lock`` beside an SCD2 store, ``path/_repin.lock``
  for the PSI reference). Atomic on local disk and HDFS; object stores
  without atomic create need an external coordinator. A crashed writer
  leaves the file behind, and the refusal names it.
* ``mutation`` is every mutation's preamble: it refuses a path with no
  store BEFORE taking the lock (so a bogus path creates nothing — the
  lock's ``createNewFile`` would make its missing parents), takes the
  lock, runs the preamble GC (``pointer_gc``) and yields the live
  layout; a first build (``build=True``) gets an empty version-0
  layout instead of the refusal.
* ``commit`` is the single commit step: tmp-write + hsync + rename onto
  a pointer NAME THAT DOES NOT EXIST YET (``pointer_write``) — atomic
  on POSIX, HDFS and every Hadoop filesystem, because no overwrite is
  involved. The old pointer stays readable until the new one exists; a
  crash before the rename leaves only a ``.tmp`` stray the next GC
  removes. Superseded pointer files are garbage-collected like retired
  objects (the latest two are kept, giving a lock-free reader that
  already resolved seq N a full swap of grace).
* ADDITIVE mutations (IVF append / delete-tombstone, SCD2 merge
  append) rewrite no live object. The IVF ones keep adding files to the
  current version's directories; racing readers may or may not see the
  new files — both consistent states. An IVF append adds to the
  ``delta`` object, never to the base ``corpus``; the first append
  after a base rewrite creates the delta (rows first, then one pointer
  bump), as the first delete creates the tombstones object. An SCD2
  merge writes each batch as one NEW ``delta-v*`` object and commits
  it into the pointer's ``deltas`` map (a reader must see a batch
  whole: a partly visible one would tear a user's chain); readers
  re-collapse buckets ∪ deltas.
* DESTRUCTIVE mutations (rebuild, compact, recluster, PQ attach, SCD2
  fold) write complete new objects beside the old ones (unreferenced
  until the swap, so staging IS just writing), then commit. ``commit``
  derives the pointer's ``retired`` list: the prior retirees plus every
  name the old layout kept live that the new one does not. Live names
  are the ``objects`` map plus any dict-valued extra (the SCD2
  ``buckets`` and ``deltas`` maps). An object a mutation does not
  replace is carried by name (an IVF compact whose every tombstone is
  in the delta writes only a new delta; an SCD2 fold rewrites only the
  buckets its batch or a delta touches, and retires every delta).
  Carrying the prior retirees forward matters when one lock holder
  commits twice before any preamble GC runs (an SCD2 rebuild followed
  by its batch's fold). Retired objects are
  garbage-collected at a LATER mutation's preamble (``pointer_gc``),
  not at swap time, and only once they are older than
  ``GC_GRACE_SECONDS``
  (``pointer_write`` stamps each retirement with a wall-clock time in
  ``retired_at``), so two rapid back-to-back mutations cannot expire a
  slow reader's files. ``recover`` (the ivf_recover / scd2_recover
  surfaces) takes the lock and GCs with ``grace=0.0``, whose contract
  is "reclaim NOW, caller asserts no reader holds the old version",
  and reports the superseded pointer files a failed stat kept
  (``gc_skipped``). Reclaimed names are dropped from the in-memory
  layout's ``retired`` list, so the next commit does not carry them
  forever. Crash before the swap: readers stay on vN and the orphan
  vN+1 objects are unreferenced-pattern dirs the next preamble GC
  removes. Crash after the swap: readers are on vN+1 and the old objects
  are already in ``retired``. No state needs a roll-forward; recovery IS
  garbage collection.
* Object stores without atomic rename still need a conditional-put for
  the pointer file (it is a table format's commit log in miniature) —
  the honest raw-parquet limit.

COMMITTED versions are monotonic per store (every commit bumps
``version``), so a retired name can never collide with a later live one;
a CRASHED stage's version number is reused by the next mutation, which
is safe because that mutation's preamble GC deletes the orphan dirs
under the same lock before staging.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

# one immutable pointer file per committed version
POINTER_RE = re.compile(r"^_layout-v(\d{6,})\.json$")

# minimum wall-clock age before a retired object (or a superseded
# pointer file) becomes eligible for preamble GC — the reader-grace
# floor. Explicit recover surfaces pass grace=0.0.
GC_GRACE_SECONDS = 600.0

# crashed-stage detection: any object-pattern dir not referenced by the
# live pointer is garbage (versions are never reused)
OBJECT_RE = re.compile(r"^[a-z][a-z0-9_]*-v\d{6}$")


class StoreIO:
    """Filesystem primitives for a persisted store, resolved from the
    store path itself via Hadoop's FileSystem API, so ``hdfs://`` and
    ``s3a://`` stores get the filesystem Spark writes them with (plain
    ``os.path`` calls silently pass for such paths). Callers pass the
    session they hold: ``getActiveSession()`` is thread-local, so an
    off-main-thread caller (the ThreadingHTTPServer) would not find
    it."""

    def __init__(self, anchor: str, spark):
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(anchor)
        self._fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        self._jvm = jvm

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def isdir(self, path: str) -> bool:
        return self._fs.isDirectory(self._p(path))

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename moves src INTO an existing dst directory instead
        # of failing like POSIX — call sites here rename onto
        # non-existent destinations by protocol, so a False return is a
        # genuine protocol violation, not a race.
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise OSError(f"FileSystem.rename failed: {src} -> {dst}")

    def rmtree(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def remove(self, path: str) -> None:
        self._fs.delete(self._p(path), False)

    def list_names(self, path: str) -> list[str]:
        return [
            s.getPath().getName()
            for s in self._fs.listStatus(self._p(path))
        ]

    def write_atomic(self, path: str, text: str) -> None:
        """Sibling tmp + durable flush + rename onto a destination that
        MUST NOT already exist: the file either exists complete or not
        at all (a torn pointer would block every future mutation). No
        overwrite is supported — deleting an existing destination and
        then renaming is neither atomic (a racing reader sees no file)
        nor crash-safe — so an existing destination raises."""
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        out.write(bytearray(text.encode("utf-8")))
        try:
            out.hsync()
        except Exception:
            pass  # not every FS exposes hsync; close still flushes
        out.close()
        if self._fs.exists(self._p(path)):
            self._fs.delete(self._p(tmp), False)
            raise FileExistsError(
                f"write_atomic destination already exists: {path}"
            )
        self.rename(tmp, path)

    def mtime(self, path: str) -> float:
        """Last-modification time (epoch seconds). Raises OSError for
        a missing or unstattable path."""
        from py4j.protocol import Py4JJavaError

        try:
            return (
                self._fs.getFileStatus(self._p(path)).getModificationTime()
                / 1000.0
            )
        except Py4JJavaError as e:
            raise OSError(f"cannot stat: {path}: {e}") from e

    def write_bytes(self, path: str, data: bytes) -> None:
        """Small writer-private sidecar files (the IVF id-Bloom state,
        the PQ codebook and anchors): one create-with-overwrite stream,
        no Spark job. No rename dance: the only readers of the id Bloom
        hold the mutation lock, and its read path treats a torn/absent
        file as 'no sidecar' (which degrades to the exact full check —
        superset-safe)."""
        out = self._fs.create(self._p(path), True)
        try:
            out.write(bytearray(data))
        finally:
            # guard the close like read_bytes guards its stream — a
            # throwing write() must not leak the FSDataOutputStream
            out.close()

    def read_bytes(self, path: str) -> bytes:
        """Read a small protocol file. Java-side read failures
        (FileNotFound racing GC, ChecksumException from a torn/corrupt
        file on a checksummed FS, half-replicated blocks) surface as
        Py4JJavaError — translated to OSError so every caller sees ONE
        exception type for 'this file is unreadable' (pointer_read's
        fall-through-to-predecessor depends on it)."""
        from py4j.protocol import Py4JJavaError

        try:
            ins = self._fs.open(self._p(path))
            try:
                return bytes(
                    self._jvm.org.apache.commons.io.IOUtils.toByteArray(ins)
                )
            finally:
                ins.close()
        except Py4JJavaError as e:
            raise OSError(f"unreadable: {path}: {e}") from e

    def read_text(self, path: str) -> str:
        """UTF-8 twin of read_bytes — same OSError translation."""
        return self.read_bytes(path).decode("utf-8")


def object_dir(logical: str, version: int) -> str:
    """Physical directory name for ``logical`` created at ``version``."""
    return f"{logical}-v{version:06d}"


def _pointer_seqs(io: StoreIO, path: str) -> list[tuple[int, str]]:
    """(seq, filename) of every committed pointer file, ascending.
    Empty for absent paths and paths holding no store."""
    if not io.isdir(path):
        return []
    out = []
    for n in io.list_names(path):
        m = POINTER_RE.match(n)
        if m:
            out.append((int(m.group(1)), n))
    return sorted(out)


def pointer_read(io: StoreIO, path: str) -> dict | None:
    """The live layout pointer, or None when ``path`` holds no store.
    Shape: ``{"version": int, "objects": {logical: dirname}, "retired":
    [dirname, ...], "retired_at": {dirname: epoch_sec},
    ...store-specific extras}``.

    The HIGHEST-sequence ``_layout-v*.json`` file wins; each candidate
    is immutable-complete by the rename protocol, but a lock-free reader
    racing GC of a superseded file tolerates a VANISHED candidate by
    falling through to the next (bounded by the kept-pointer count, so
    no retry loop). A candidate that still EXISTS but cannot be read or
    parsed RAISES instead: falling back past an existing newest pointer
    would hand a mutation preamble the stale N−1 layout, and its next
    swap would silently discard everything version N committed (the
    orphaned objects would then be GC'd) — a transient checksum /
    half-replicated-block error must surface, not roll the store
    back."""
    for _, name in reversed(_pointer_seqs(io, path)):
        p = os.path.join(path, name)
        try:
            return json.loads(io.read_text(p))
        except (OSError, ValueError) as e:
            if io.exists(p):
                raise OSError(
                    "pointer file exists but is unreadable — refusing "
                    f"to fall back to a stale predecessor: {p}: {e}"
                ) from e
            continue  # GC'd under us — the kept predecessor wins
    return None


def pointer_require(io: StoreIO, path: str) -> dict:
    """``pointer_read`` for the read surfaces: a path with no pointer
    file raises the ``[PATH_NOT_FOUND]`` AnalysisException a Spark read
    of a missing path raises, so every caller's existing 'no store
    here' mapping (HTTP 404 "no IVF index" / "no SCD2 store") answers
    a bogus path and a pointer-less directory alike."""
    lay = pointer_read(io, path)
    if lay is None:
        from pyspark.errors import AnalysisException

        raise AnalysisException(
            message=f"[PATH_NOT_FOUND] no store at {path}: no "
            "_layout-v*.json pointer file"
        )
    return lay


def pointer_write(io: StoreIO, path: str, layout: dict) -> None:
    """Atomically publish ``layout`` as the live pointer — ``commit``'s
    write step. Caller holds the store's lock and has already written
    every object ``layout`` references.

    The pointer commits as a NEW monotonically numbered file (max
    committed sequence + 1), written tmp-then-rename onto a name that
    does not exist — atomic on every filesystem because no overwrite
    happens, and crash-safe because the previous pointer file is
    untouched until GC. Also stamps each retired name's wall-clock
    retirement time into ``retired_at`` (the GC grace floor's clock),
    preserving the stamps of names already retired by the on-disk
    pointer so a retiree's age survives successive swaps."""
    seqs = _pointer_seqs(io, path)
    prior = pointer_read(io, path) if seqs else None
    prior_at = {} if prior is None else prior.get("retired_at", {})
    now = time.time()
    layout = dict(layout)
    layout["retired_at"] = {
        n: prior_at.get(n, layout.get("retired_at", {}).get(n, now))
        for n in layout.get("retired", [])
    }
    seq = (seqs[-1][0] if seqs else max(1, int(layout.get("version", 1)))) + 1
    io.write_atomic(
        os.path.join(path, f"_layout-v{seq:06d}.json"), json.dumps(layout)
    )


def _live_names(layout: dict) -> set:
    """Every object name ``layout`` references: the ``objects`` map
    plus the string values of any dict-valued extra, so store-specific
    object maps (the SCD2 ``buckets`` and ``deltas``) count without
    schema coupling."""
    return {
        n for v in layout.values() if isinstance(v, dict)
        for n in v.values() if isinstance(n, str)
    }


def pointer_gc(
    io: StoreIO, path: str, layout: dict | None,
    grace: float | None = None,
) -> list[str]:
    """Mutation-preamble garbage collection (caller holds the lock):
    delete (a) every EXPIRED directory the live pointer has retired —
    retirement is stamped by ``pointer_write`` and a retiree younger
    than ``grace`` seconds (default ``GC_GRACE_SECONDS``) is kept, so
    two rapid back-to-back mutations cannot expire a slow reader's
    files (the explicit recover surfaces pass ``grace=0.0``, whose
    contract is "reclaim NOW"); (b) every object-pattern directory the
    pointer doesn't reference (a crashed mutation's orphan stage;
    versions are never reused, so the pattern match can't hit a live
    object); and (c) superseded pointer files — every
    ``_layout-v*.json`` below the latest two (the kept prior gives a
    lock-free reader that listed before the last swap a full swap of
    grace) — and stray pointer ``.tmp`` files.

    Reclaimed (and already-absent) retirees are dropped from the
    PASSED-IN layout's ``retired``/``retired_at`` in place, so the
    mutation that composes the next pointer from this layout does not
    carry dead names forever. Returns the names removed. A None layout
    (no store at ``path``) GCs nothing."""
    if layout is None or not io.isdir(path):
        return []
    if grace is None:
        grace = GC_GRACE_SECONDS
    live = _live_names(layout)
    removed = []
    now = time.time()
    stamps = layout.get("retired_at", {})
    retired = [n for n in layout.get("retired", []) if n not in live]
    names = set(io.list_names(path))
    for n in retired:
        if n in names and now - stamps.get(n, now) >= grace:
            io.rmtree(os.path.join(path, n))
            removed.append(n)
    for n in sorted(names - live):
        if OBJECT_RE.match(n) and n not in retired:
            io.rmtree(os.path.join(path, n))
            removed.append(n)
    # (c) pointer-file GC: superseded versions and stray tmps. These
    # are never in `retired` (they are the protocol's own files); the
    # latest two survive as reader grace, and age (the file's own
    # mtime, i.e. its commit time) gates the rest exactly like retired
    # objects — without the age gate, two rapid back-to-back mutations
    # could delete BOTH pointer files a slow lock-free reader had just
    # listed, making it misread the store as absent.
    for _, n in _pointer_seqs(io, path)[:-2]:
        fp = os.path.join(path, n)
        try:
            if now - io.mtime(fp) < grace:
                continue
        except OSError:
            # vanished OR a transient stat hiccup — skip removal this
            # pass rather than bypass the reader-grace gate (removing an
            # unstattable file would re-open the rapid-double-delete
            # race the grace exists to prevent); the next GC retries,
            # and recover reports what is still left
            continue
        io.remove(fp)
        removed.append(n)
    for n in sorted(names):
        if POINTER_RE.match(n.removesuffix(".tmp")) and n.endswith(".tmp"):
            io.remove(os.path.join(path, n))
    kept = [n for n in layout.get("retired", [])
            if n in names and n not in removed]
    layout["retired"] = kept
    layout["retired_at"] = {n: stamps[n] for n in kept if n in stamps}
    return removed


@contextlib.contextmanager
def lock(spark, lock_path: str):
    """Single-writer guard of one store: atomic ``createNewFile`` of
    ``lock_path`` on the filesystem Spark resolves it to, removed on
    exit. A held (or crashed writer's) lock raises ValueError naming
    the file to remove once no mutation is in flight. Creating the
    file creates its missing parent directories, which is why
    ``mutation`` and ``recover`` look for the store first."""
    io = StoreIO(lock_path, spark)
    if not io._fs.createNewFile(io._p(lock_path)):
        raise ValueError(
            "another store mutation is in flight (or a previous "
            f"writer crashed): remove {lock_path} to clear the lock"
        )
    try:
        yield
    finally:
        io.remove(lock_path)


def mutation(spark, path: str, lock_path: str, build: bool = False):
    """Every store mutation's preamble, as a context manager yielding
    ``(io, layout)``: refuse a path with no store (``pointer_require``'s
    AnalysisException) BEFORE the lock, so a bogus path creates
    nothing; then, under ``lock(spark, lock_path)``, garbage-collect
    expired retirees and crashed-stage orphans (``pointer_gc`` — where
    the previous version's reader grace ends) and yield the layout the
    mutation operates on. ``build=True`` (a rebuild, which may create
    the store) skips the refusal and yields an empty version-0 layout
    for a path with no store. The refusal runs when ``mutation`` is
    CALLED, so a caller can tell it from errors raised inside the
    ``with`` body."""
    io = StoreIO(path, spark)
    if not build:
        pointer_require(io, path)
    return _locked_layout(spark, io, path, lock_path)


@contextlib.contextmanager
def _locked_layout(spark, io: StoreIO, path: str, lock_path: str):
    with lock(spark, lock_path):
        lay = pointer_read(io, path)
        if lay is None:
            lay = {"version": 0, "objects": {}, "retired": []}
        else:
            pointer_gc(io, path, lay)
        yield io, lay


def commit(io: StoreIO, path: str, old: dict, **fields) -> dict:
    """Publish ``old`` with ``fields`` replaced as version
    ``old["version"] + 1`` — the one commit step of every mutation
    (caller holds the lock, ``old`` is the layout ``mutation`` yielded
    or a previous ``commit`` returned, and every object ``fields``
    names is written). ``retired`` is derived, never composed: the
    prior retirees plus the old live names, minus the new live names
    (``old`` is the preamble's GC-trimmed layout, so reclaimed names
    are not carried forward). Returns the committed layout."""
    new = {**old, **fields, "version": old["version"] + 1}
    new["retired"] = sorted(
        (set(old.get("retired", [])) | _live_names(old)) - _live_names(new)
    )
    pointer_write(io, path, new)
    return new


def recover(spark, path: str, lock_path: str) -> dict:
    """The explicit recover surfaces' reclaim: garbage-collect with
    ``grace=0.0`` under the store's lock, then report ``{"recovered":
    bool, "gc_skipped": [...]}`` — the superseded ``_layout-v*.json``
    files still present beyond the kept two. ``gc_skipped`` is normally
    empty; a name there means its stat failed during this GC
    (``pointer_gc`` never removes a pointer file it cannot age), so a
    filesystem whose stat keeps failing shows up here instead of piling
    pointer files up silently. A path with no store has nothing to
    recover and is answered before the lock, creating nothing."""
    io = StoreIO(path, spark)
    if pointer_read(io, path) is None:
        return {"recovered": False, "gc_skipped": []}
    with lock(spark, lock_path):
        removed = pointer_gc(io, path, pointer_read(io, path), grace=0.0)
        return {
            "recovered": bool(removed),
            "gc_skipped": [n for _, n in _pointer_seqs(io, path)[:-2]],
        }
