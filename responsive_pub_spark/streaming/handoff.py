"""Watermarked exactly-once handoffs between composed streaming stages.

The r12 composed examples (``examples/retrieval_stream.py``,
``examples/pretrain_stream.py``) made every stage-to-stage handoff
exactly-once with a FULL-TOPIC anti-join: "ship the survivors that are
not already in the destination topic" re-reads every destination row on
every advance — O(topic) work per wave, the one perf-weak item of the
r12 verdict. This module replaces that with a CARRIED HANDOFF WATERMARK
(the shard lane's carried-totals pattern applied to the handoff):

- the SOURCE topic's files carry the deterministic strictly-increasing
  mtime stamps of ``shard_stream._FileTopicMixin`` (wave order is the
  stamp sequence — the Kafka offset-order analog);
- each consumer leg carries a 1-row crash-atomic marker (``upto``: the
  highest source stamp already shipped, published with the fsync'd
  ``publish_pointer`` protocol);
- an advance ships ONLY the source files with stamp > upto — the
  handoff reads O(new-work) files, never wave-1 data again — as ONE
  deterministic destination DIRECTORY ``part-handoff-{S}.parquet/``
  (S = the highest source stamp covered), placed by the staged-rename
  commit of the ``commitlog`` module docstring over a multi-part staged
  write (r13 verdict task 2: the wave's build and write run at full
  parallelism — the previous protocol funneled every wave through
  ``coalesce(1)``, one writer task for a potentially backfill-sized
  wave);
- exactly-once across a crash ANYWHERE: the destination directory
  either exists complete (the rename is the commit point, durable
  across power loss) or not at all. A replay recomputes the effective
  watermark as ``max(marker, highest S among existing part-handoff
  names)`` — so a crash between the rename and the marker publish
  skips the re-ship (the directory's name proves its coverage), and a
  crash before the rename rebuilds from the same deterministic inputs.
  Covered source-stamp ranges ``(prev, S]`` are contiguous and
  disjoint by construction, so no document ever ships twice even when
  new source waves land between a crash and its replay.

There are deliberately NO row-count probes anywhere on this path: an
advance with no new source files short-circuits on a driver-side
``listdir`` (zero Spark jobs — the r12 verdict's task-9 ask), and a
non-empty file set ships unconditionally (an all-rows-filtered wave
commits an empty handoff directory rather than paying a count job to
skip it — the name still proves the range's coverage on replay).

Consumers and multi-part waves: a committed handoff is a DIRECTORY of
part files, so destination readers must list one level down — batch
readers that take explicit paths (``spark.read.parquet(dir, ...)``)
already do; streaming readers over a destination topic dir need
``recursiveFileLookup`` (the composed lanes set it). The one consumer
class that additionally requires ONE FILE per wave is the
order-sensitive exporter lanes reading the shared ``shipped`` topic
with ``maxFilesPerTrigger=1`` (wave == file == micro-batch is their
batch-parity contract, and the shard/pack lanes order by DIFFERENT
keys — global permutation hash vs (lang, doc_id) — so no single split
of a wave into files preserves both lanes' concatenation order).
Those legs pass ``wave_files=1``: the build still runs at full
parallelism and only the final write stage is one task
(``repartition``, never ``coalesce`` — coalesce(1) would collapse the
whole build into that task).

Reference anchor: the committed-offset handoff fencing of
internal/stores/CommitBuffer.java:340-423 (ship once, record the
high-water mark atomically, replay from the mark), re-expressed over
file topics.

Scale posture: per-advance driver work is one listdir per topic plus a
pointer read; data work is one job over the NEW files only. The marker
is one short string; nothing in the protocol grows with history (the
destination's handoff-name scan is a listdir of the destination topic —
bounded by waves, and collapsible by the destination lane's own
compaction).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from responsive_pub_spark.streaming.commitlog import (
    drop_stale_stages,
    exclusive_flock,
    publish_pointer,
    read_pointer,
    staged_rename,
)
from responsive_pub_spark.streaming.shard_stream import (
    _FileTopicMixin,
    _stamp_inner,
)

__all__ = [
    "StampedTopic",
    "assert_handoff_layout",
    "drop_covered",
    "read_marker",
    "ship",
]

_HANDOFF_RE = re.compile(r"^part-handoff-(\d{20})(\.snappy)?\.parquet$")


class StampedTopic(_FileTopicMixin):
    """A plain parquet file topic under the _FileTopicMixin stamp
    discipline, owned by a PIPELINE rather than a lane: one wave == one
    part entry (a flat file from an ingest append, or a committed
    handoff DIRECTORY) stamped onto the deterministic strictly
    increasing mtime sequence; single-writer flock on ingest; crash
    leftovers folded back in at construction (all inherited)."""

    def __init__(self, workdir: str, docs_dir: "str | None" = None):
        os.makedirs(workdir, exist_ok=True)
        self._init_topic(workdir, docs_dir or os.path.join(workdir, "docs"))

    def append(self, write) -> None:
        """Run ``write()`` (a parquet append into ``docs_dir``) under
        the single-writer lock and stamp the files it created."""
        self._ingest_files(write)

    def stamped_files(self) -> "list[tuple[int, str]]":
        """(stamp, absolute path) for every part entry, stamp order.
        Entries may be flat part files or handoff directories — both
        read with ``spark.read.parquet(*paths)``."""
        out = []
        for n in self._part_files():
            p = os.path.join(self.docs_dir, n)
            out.append((int(os.path.getmtime(p)), p))
        return sorted(out)


def _covered_upto(dest_dir: str) -> int:
    """Highest source stamp already covered by a handoff entry PRESENT
    in the destination (the crash-between-rename-and-marker recovery:
    the entry's name proves its coverage)."""
    best = -1
    if os.path.isdir(dest_dir):
        for n in os.listdir(dest_dir):
            m = _HANDOFF_RE.match(n)
            if m:
                best = max(best, int(m.group(1)))
    return best


def drop_covered(dest_dir: str, upto: int) -> int:
    """Remove the handoff entries a published base covers (stamp <=
    ``upto``) — the tail GC after a fold; returns how many went."""
    gone = 0
    for n in os.listdir(dest_dir):
        m = _HANDOFF_RE.match(n)
        if m and int(m.group(1)) <= upto:
            shutil.rmtree(os.path.join(dest_dir, n), ignore_errors=True)
            gone += 1
    return gone


def read_marker(path: str) -> int:
    v = read_pointer(path)
    return int(v) if v else -1


def _assert_leg_owner(dest_dir: str, marker_path: str) -> None:
    """One ship() leg per destination directory, BY MECHANISM: the
    coverage recovery (``_covered_upto``) reads every part-handoff name
    in ``dest_dir``, so a second leg sharing the directory would raise
    the first leg's watermark with its own stamps and silently skip
    rows (r13 ADVICE). The first ship records its marker's basename;
    every later ship asserts it matches."""
    owner_path = os.path.join(dest_dir, ".leg-owner")
    leg = os.path.basename(marker_path)
    owner = read_pointer(owner_path)
    if owner is None:
        publish_pointer(owner_path, leg)
        return
    if owner != leg:
        raise RuntimeError(
            f"handoff destination {dest_dir} is owned by leg "
            f"{owner!r} but leg {leg!r} is shipping into it — two legs "
            "sharing a destination would raise each other's coverage "
            "watermark and silently drop rows (one marker per dest_dir)"
        )


def assert_handoff_layout(dest_dir: str, marker_path: str, what: str) -> None:
    """Refuse to run a carried-watermark leg over a PRE-handoff (r12)
    workdir (r13 ADVICE): the r12 layout shipped plain part files with
    no marker, so a fresh marker starting at -1 would re-ship the
    entire source history into a destination that already holds it —
    for aggregate-maintaining destinations (BM25 df/dl) an unrepairable
    double-count. Detection: the destination holds part entries, none
    of them handoff-named, and the leg has no marker. A fresh workdir
    (empty destination) and a mid-crash r13 workdir (handoff-named
    entries prove coverage) both pass."""
    if read_marker(marker_path) >= 0 or not os.path.isdir(dest_dir):
        return
    names = [n for n in os.listdir(dest_dir) if n.startswith("part-")]
    if names and not any(_HANDOFF_RE.match(n) for n in names):
        raise RuntimeError(
            f"{what}: destination {dest_dir} holds "
            f"{len(names)} pre-handoff part files but the leg marker "
            f"{marker_path} does not exist — this looks like an r12 "
            "(full-topic anti-join) workdir, which the carried-watermark "
            "protocol would re-ship from scratch, double-counting every "
            "already-indexed row. Start from a fresh workdir (or seed "
            "the marker from the existing destination by hand)."
        )


def ship(
    spark: SparkSession,
    source: StampedTopic,
    source_schema: str,
    marker_path: str,
    dest_dir: str,
    build,
    dest_topic: "StampedTopic | None" = None,
    chaos=None,
    wave_files: "int | None" = None,
) -> "dict | None":
    """One watermarked handoff step (see module docstring).

    ``build(new_docs: DataFrame) -> DataFrame`` maps the NEW source rows
    to the rows to ship — it must be deterministic given the source
    files plus the pipeline's maintained state (an anti-join against an
    immutable verdict table, a gate against maintained statistics, a
    projection). ``dest_topic`` stamps the placed directory onto the
    destination's own mtime sequence when the destination is itself a
    stamped topic (the shared exporter topic); plain destinations (a
    readStream ingest dir) skip stamping — file order is not part of
    their contract.

    ``wave_files`` repartitions the build output before the staged
    write — pass 1 ONLY for destinations whose consumers require one
    file per wave (the order-sensitive exporter lanes; see module
    docstring). The default ships the build's own partitioning at full
    write parallelism.

    ``chaos`` is the composing pipeline's chaos-kill hook (label ->
    None), called inside the two crash windows of the commit protocol
    (``handoff-staged``: rows staged, nothing placed; ``handoff-placed``:
    directory renamed in, marker not yet published) so a SIGKILL chaos
    e2e can land a crash inside each.

    A leg ships from one process at a time: the step holds an exclusive
    flock on ``dest_dir/.leg-lock``. Under it, before staging, it removes
    every ``.handoff-stage-*`` beside ``dest_dir`` — a crashed ship's
    stage is named after that ship's S, which a later ship need not
    reuse — so the parent of ``dest_dir`` holds one leg's stages only.

    Returns None when there is nothing new (NO Spark job ran), else
    ``{"upto": S, "shipped": dir_path, "source_files": [...]}``.
    """
    chaos = chaos or (lambda label: None)
    os.makedirs(dest_dir, exist_ok=True)
    lock = os.path.join(dest_dir, ".leg-lock")
    with exclusive_flock(
        lock, f"concurrent handoff ship into {dest_dir}: another process "
        f"holds {lock}; a leg ships from one process at a time"
    ):
        _assert_leg_owner(dest_dir, marker_path)
        upto = max(read_marker(marker_path), _covered_upto(dest_dir))
        new = [(s, p) for s, p in source.stamped_files() if s > upto]
        if not new:
            return None
        S = new[-1][0]
        target = os.path.join(dest_dir, f"part-handoff-{S:020d}.parquet")
        # `target` can never already exist here: if it did, _covered_upto
        # raised upto >= S, so no source stamp <= S survives in `new` and S
        # could not have been recomputed as the max. The recovery for the
        # renamed-but-unmarked crash window is the upto = max(marker,
        # covered) line above, not a re-check of this name.
        rows = build(
            spark.read.schema(source_schema).parquet(*[p for _, p in new])
        )
        if wave_files is not None:
            # repartition, never coalesce: coalesce(1) would collapse the
            # whole build into the single writer task
            rows = rows.repartition(int(wave_files))
        parent = os.path.dirname(dest_dir.rstrip("/"))
        stage = os.path.join(parent, f".handoff-stage-{S:020d}")
        # a crashed ship's stage is named after its own S, which this one
        # need not reuse once new source files arrived: collect them first
        drop_stale_stages(parent, ".handoff-stage-*")
        # the staged write runs outside the destination topic's ingest
        # lock; only the rename goes through it + the stamp sequence (one
        # handoff directory == one wave for every lane reading the shared
        # topic) — a concurrent ingest would fail on the non-blocking lock
        with staged_rename(
            target,
            stage,
            chaos,
            "handoff-staged",
            place=None if dest_topic is None else dest_topic.append,
        ):
            rows.write.mode("overwrite").parquet(stage)
        if dest_topic is not None:
            _stamp_inner(target)
        chaos("handoff-placed")
        publish_pointer(marker_path, str(S))
        return {
            "upto": S,
            "shipped": target,
            "source_files": [p for _, p in new],
        }

