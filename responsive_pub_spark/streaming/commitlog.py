"""Crash-safe publish primitives shared by every maintained table.

**Versioned-snapshot publish** (:class:`VersionedSnapshot`). A
maintained table that is rewritten as a whole (a compacted base, a
rebuilt decision table, an IVF index version, the BM25 corpus stats)
lives in numbered version directories ``{prefix}NNNNNN`` under one
root, and a one-line pointer file names the served version plus the
highest input stamp it covers. Every publish runs the same steps:

1. clear any leftover at the next version's name (a crashed attempt);
2. the lane writes the new version into that directory;
3. ``fsync_tree`` the version, then ``fsync_dir`` the root;
4. ``publish_pointer``: write-temp + fsync + ``os.replace`` + directory
   fsync. This flip is the only commit point;
5. the lane runs its own post-flip steps (markers, flags);
6. GC removes every version directory the pointer does not name, the
   pointer's ``.tmp`` and older ``.{prefix}NNNNNN.stage`` leftovers;
   the lane then collects its folded tail (deltas, markers).

Readers find a version only through the pointer, so the crash windows
are: mid-write or staged (steps 2-3) — the old version serves and the
unreferenced directory is cleared by the next publish or GC; flipped or
pre-GC (steps 4-6) — the new version serves and the superseded one is
an orphan for the next GC. Step 3 makes the flip safe across power
loss, not just process death: a pointer never names torn data. The
lane's chaos hook fires at the staged and flipped windows, so the
SIGKILL end-to-end tests land a crash inside each.

Publish and GC are single-maintainer BY MECHANISM: callers hold
:func:`maintenance_lock` from the publish through the GC, and readers
never GC (a reader collecting while a maintainer has a version staged
would delete it right before the flip).

**Delta+marker commit log** (:class:`DeltaCommitLog`), the exactly-once
substrate of the incremental exporters (``shard_stream``,
``pack_stream``, ``pack_ids_stream``): each micro-batch writes
``delta-{batch}`` and then commits ``total-{batch}`` (the carried
totals) by an fsynced ``.tmp`` write and one ``os.rename`` — the marker
is the commit point, a redelivered batch whose marker exists is
skipped, and a torn attempt is overwritten on replay. ``compact()``
folds the committed tail into a ``base-vNNNNNN`` snapshot through the
versioned publish above, so readers list one base plus the tail instead
of one path per batch ever committed. Reference anchor: changelog
truncation after flush and offset fencing
(kafka-client internal/stores/CommitBuffer.java:97,340-423,480).
"""

from __future__ import annotations

import fcntl
import os
import re
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a just-completed ``os.rename``/``os.replace``
    of an entry inside it is durable across power loss, not merely
    process crash — POSIX only guarantees the rename itself is atomic;
    its persistence needs the parent directory synced."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_tree(path: str) -> None:
    """fsync every regular file under ``path`` plus every directory on
    the way down: a staged commit's CONTENTS must be durable BEFORE the
    rename publishes its name — renaming first would let a power loss
    persist the committed name over torn data, which every
    name-is-the-commit-point protocol here (handoff directories, marker
    dirs, versioned snapshots) silently trusts on replay."""
    for root, _dirs, files in os.walk(path):
        for f in files:
            fd = os.open(os.path.join(root, f), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        fsync_dir(root)


@contextmanager
def maintenance_lock(lock_path: str, what: str):
    """Exclusive non-blocking maintenance flock (the _FileTopicMixin
    ingest-lock posture applied to the MAINTENANCE side): compaction /
    GC / versioned publish is single-maintainer BY MECHANISM, not by
    convention — a second concurrent maintainer fails LOUDLY instead of
    interleaving writes into the same staged version. Reference anchor:
    internal/db/LwtWriter.java:29-95 (fencing is mechanical, never
    documentation)."""
    fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            raise RuntimeError(
                f"concurrent {what}: another maintainer holds "
                f"{lock_path}; compaction/GC is single-maintainer "
                "(two racers would interleave writes into the same "
                "staged version)"
            )
        yield
    finally:
        os.close(fd)  # releases the flock


def publish_pointer(path: str, value: str) -> None:
    """Atomic pointer publish: write-temp + fsync + ``os.replace`` +
    parent-directory fsync — readers see the old or the new value, never
    a partial write, and the flip survives power loss."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(value)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fsync_dir(os.path.dirname(path) or ".")


def read_pointer(path: str) -> "str | None":
    try:
        with open(path) as f:
            v = f.read().strip()
        return v or None
    except FileNotFoundError:
        return None


class VersionedSnapshot:
    """One maintained table's versioned publish (see module docstring).

    ``root`` holds the version directories ``{prefix}NNNNNN``, numbered
    from ``first``; ``pointer`` names the served one. ``chaos`` is the
    lane's kill hook, called with ``labels[0]`` once the staged version
    is durable and with ``labels[1]`` right after the flip.

    The pointer is written as ``"{name}"`` or ``"{name} {covered}"``;
    :meth:`info` also reads the older ``"{version}:{covered}"`` form."""

    def __init__(
        self,
        root: str,
        pointer: str,
        prefix: str,
        first: int = 0,
        chaos=None,
        labels: "tuple[str, str]" = ("staged", "flipped"),
    ):
        self.root = root
        self.pointer = pointer
        self.prefix = prefix
        self.first = first
        self.chaos = chaos or (lambda label: None)
        self.labels = labels
        self._version_re = re.compile(
            rf"\.?{re.escape(prefix)}\d{{6}}(\.stage)?"
        )
        os.makedirs(root, exist_ok=True)

    def path(self, version: int) -> str:
        return os.path.join(self.root, f"{self.prefix}{version:06d}")

    def info(self) -> "tuple[int, int]":
        """(served version, highest stamp it covers); ``(first - 1,
        -1)`` before the first publish."""
        v = read_pointer(self.pointer)
        if v is None:
            return self.first - 1, -1
        if ":" in v:
            ver, cov = v.split(":")
            return int(ver), int(cov)
        name, *cov = v.split()
        return int(name[len(self.prefix):]), int(cov[0]) if cov else -1

    def current(self) -> "str | None":
        """The served version directory; None before the first publish."""
        ver, _ = self.info()
        return self.path(ver) if ver >= self.first else None

    def listing(
        self, tail_dir: str, stamp_re
    ) -> "tuple[str | None, int, list[tuple[int, str]]]":
        """(served version directory, its coverage, ``[(stamp, path)]``
        of the entries in ``tail_dir`` past that coverage, in stamp
        order) from ONE pointer read. ``stamp_re`` matches a tail entry
        name and captures its stamp as group 1."""
        ver, covered = self.info()
        tail = sorted(
            (int(m.group(1)), os.path.join(tail_dir, n))
            for n in os.listdir(tail_dir)
            for m in [stamp_re.match(n)]
            if m and int(m.group(1)) > covered
        )
        return (self.path(ver) if ver >= self.first else None), covered, tail

    @contextmanager
    def publish(self, covered: int = -1):
        """Stage the next version and flip the pointer to it. The body
        writes into the yielded directory; an exception there leaves the
        old version serving. Callers hold the maintenance lock."""
        ver, _ = self.info()
        name = f"{self.prefix}{ver + 1:06d}"
        stage = os.path.join(self.root, name)
        shutil.rmtree(stage, ignore_errors=True)
        yield stage
        fsync_tree(stage)
        self.chaos(self.labels[0])
        fsync_dir(self.root)
        publish_pointer(
            self.pointer, name if covered < 0 else f"{name} {covered}"
        )
        self.chaos(self.labels[1])

    def gc(self) -> None:
        """Remove every version directory the pointer does not name and
        any staging leftover. Callers hold the maintenance lock."""
        cur = self.current()
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if path != cur and self._version_re.fullmatch(name):
                shutil.rmtree(path, ignore_errors=True)
        if os.path.exists(self.pointer + ".tmp"):
            os.remove(self.pointer + ".tmp")


_MARKER_RE = re.compile(r"^total-(\d{20})\.parquet$")


class DeltaCommitLog:
    """One lane's commit log under ``log_dir`` (see module docstring).

    ``chaos`` is the owning lane's chaos-kill hook (label -> None); the
    log calls it at the named windows of the marker commit and the
    compaction publish so the SIGKILL chaos e2es can land a crash inside
    every window.

    Constructing a log never GCs: a handle is a reader (see module
    docstring); orphans wait for the next locked :meth:`compact` or
    :meth:`gc`.
    """

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        assign_schema: str,
        totals_schema: str,
        chaos=None,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.assign_schema = assign_schema
        self.totals_schema = totals_schema
        self.chaos = chaos or (lambda label: None)
        self.pointer = os.path.join(log_dir, "BASE")
        # the lock lives BESIDE the log dir (not inside it) so the log's
        # file count stays exactly base+pointer after a compaction —
        # the plateau the soak artifact tracks
        self.maint_lock = log_dir.rstrip("/") + ".maint.lock"
        self.base = VersionedSnapshot(
            log_dir,
            self.pointer,
            "base-v",
            chaos=lambda label: self.chaos(label),
            labels=("compact-staged-all", "compact-post-flip"),
        )

    # -- paths -----------------------------------------------------------
    def delta_path(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"delta-{int(batch_id):020d}.parquet")

    def marker_path(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"total-{int(batch_id):020d}.parquet")

    # -- committed state -------------------------------------------------
    def tail_ids(self) -> "list[int]":
        """Committed batch ids still in the delta tail (markers present;
        ids at or below the compaction point excluded — their files are
        GC-pending or gone)."""
        return [i for i, _ in self.base.listing(self.log_dir, _MARKER_RE)[2]]

    def is_committed(self, batch_id: int) -> bool:
        _, upto = self.base.info()
        return int(batch_id) <= upto or os.path.exists(
            self.marker_path(batch_id)
        )

    def write_delta(self, batch_id: int, rows: DataFrame) -> None:
        """(Over)write the delta for ``batch_id`` — replay overwrites a
        torn previous attempt."""
        path = self.delta_path(batch_id)
        shutil.rmtree(path, ignore_errors=True)
        rows.write.mode("overwrite").parquet(path)

    def read_delta(self, batch_id: int) -> DataFrame:
        return self.spark.read.schema(self.assign_schema).parquet(
            self.delta_path(batch_id)
        )

    def commit_marker(self, batch_id: int, totals: DataFrame) -> None:
        """ATOMIC marker commit: stage the totals under ``.tmp``, then
        one ``os.rename`` into the final name. The rename is the commit
        point — a SIGKILL anywhere before it leaves the batch
        uncommitted (the tmp dir is never counted and is GC'd)."""
        final = self.marker_path(batch_id)
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        totals.coalesce(1).write.mode("overwrite").parquet(tmp)
        fsync_tree(tmp)  # contents durable BEFORE the name (power loss)
        self.chaos("mid-marker")
        os.rename(tmp, final)
        fsync_dir(self.log_dir)

    def latest_totals(self, batch_id: int) -> "DataFrame | None":
        """The carried-totals snapshot as of the latest commit below
        ``batch_id``: the newest tail marker under it, else the base
        segment's snapshot, else None (nothing committed yet)."""
        base, upto, tail = self.base.listing(self.log_dir, _MARKER_RE)
        prior = [p for i, p in tail if i < int(batch_id)]
        if prior:
            return self.spark.read.schema(self.totals_schema).parquet(
                prior[-1]
            )
        if base is not None and upto < int(batch_id):
            return self.spark.read.schema(self.totals_schema).parquet(
                os.path.join(base, "totals")
            )
        return None

    def _rows_paths(self, base: "str | None", ids: "list[int]") -> "list[str]":
        return ([os.path.join(base, "rows")] if base else []) + [
            self.delta_path(i) for i in ids
        ]

    def read_all(self) -> DataFrame:
        """Every committed assignment row: the base segment (if any) plus
        the committed tail deltas — O(1) + O(tail) paths, never one per
        batch ever committed."""
        base, _, tail = self.base.listing(self.log_dir, _MARKER_RE)
        paths = self._rows_paths(base, [i for i, _ in tail])
        if not paths:
            return self.spark.createDataFrame([], self.assign_schema)
        return self.spark.read.schema(self.assign_schema).parquet(*paths)

    # -- compaction ------------------------------------------------------
    def compact(self) -> int:
        """Fold the committed tail (plus any existing base) into the next
        ``base-vNNNNNN`` snapshot through the versioned publish, then GC
        the folded deltas/markers. Returns the number of committed
        batches folded (0 == nothing to do).

        Racing the lane's own ``_apply`` is safe: the tail is CAPTURED
        once and every staged path derives from that capture, so a
        marker committed after it stays in the tail (``upto`` records
        only the captured tail's last id) and folds next time. Reading
        ``read_all()`` here instead would fold that marker's rows while
        leaving its delta in the tail — served twice after the flip."""
        with maintenance_lock(self.maint_lock, "commit-log maintenance"):
            base, _, tail = self.base.listing(self.log_dir, _MARKER_RE)
            ids = [i for i, _ in tail]
            if ids:
                with self.base.publish(ids[-1]) as stage:
                    self.spark.read.schema(self.assign_schema).parquet(
                        *self._rows_paths(base, ids)
                    ).write.mode("overwrite").parquet(
                        os.path.join(stage, "rows")
                    )
                    self.chaos("compact-staged-rows")
                    self.spark.read.schema(self.totals_schema).parquet(
                        self.marker_path(ids[-1])
                    ).coalesce(1).write.mode("overwrite").parquet(
                        os.path.join(stage, "totals")
                    )
            # even with nothing to fold, collect the orphans a crash
            # after a previous flip left behind
            self._gc()
            return len(ids)

    def gc(self) -> None:
        """LOCKED orphan collection (see :meth:`_gc`) — a maintainer
        action: takes the same ``maint.lock`` flock as :meth:`compact`
        and fails loudly if another maintainer holds it."""
        with maintenance_lock(self.maint_lock, "commit-log maintenance"):
            self._gc()

    def _gc(self) -> None:
        """Remove unserved base versions, deltas/markers folded into the
        base, and ``.tmp`` marker leftovers (torn commits — their batch
        is uncommitted and replays). Callers hold the maintenance
        lock."""
        self.base.gc()
        _, upto = self.base.info()
        for name in os.listdir(self.log_dir):
            path = os.path.join(self.log_dir, name)
            if name.endswith(".tmp"):
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
            elif name.startswith(("delta-", "total-")) and name.endswith(
                ".parquet"
            ):
                if int(name.split("-")[1].split(".")[0]) <= upto:
                    shutil.rmtree(path, ignore_errors=True)
