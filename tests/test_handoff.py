"""Protocol tests for the carried-watermark handoff
(``streaming/handoff.py`` — r13 verdict task 3, directory commit r14).

Contracts under test:

- O(new-work): a later ship reads ONLY source files past the carried
  mark (asserted on the build frame's ``inputFiles`` — wave-1 files
  never appear in wave-2's read), and a ship with nothing new
  short-circuits WITHOUT calling build (zero Spark jobs — the task-9
  no-count-probe ask).
- exactly-once across every crash window: a crash after staging (before
  the rename) leaves nothing visible and the replay rebuilds; a crash
  after the rename (before the marker publish) is recovered from the
  placed directory's NAME — the replay never re-ships the covered range
  even when a NEW source wave landed in between.
- an all-rows-filtered wave still advances the watermark (an empty,
  schema-stable handoff directory; no emptiness probe).
- the staged write is NOT single-task (r13 verdict task 2): a
  multi-partition build commits a multi-part directory atomically —
  the protocol never funnels a wave through one writer; ``wave_files=1``
  (for order-sensitive consumers) repartitions only the write stage.
- one leg per destination directory, by mechanism (r13 ADVICE): a
  second marker shipping into the same dest fails loudly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from responsive_pub_spark.streaming.handoff import (
    StampedTopic,
    read_marker,
    ship,
)

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow

SCHEMA = "doc_id BIGINT, text STRING"


def _wave(spark, which, n=20):
    return spark.createDataFrame(
        [(which * 1000 + i, f"w{which} doc {i}") for i in range(n)], SCHEMA
    )


def _mk(spark, tmp_path):
    src = StampedTopic(str(tmp_path / "src"))
    dest = str(tmp_path / "dest")
    marker = str(tmp_path / "leg.upto")
    return src, dest, marker


def _append(spark, src, which, n=20):
    src.append(
        lambda: _wave(spark, which, n)
        .coalesce(1)
        .write.mode("append")
        .parquet(src.docs_dir)
    )


def _dest_rows(spark, dest):
    import glob

    files = glob.glob(os.path.join(dest, "part-handoff-*.parquet"))
    if not files:
        return set()
    return {
        tuple(r)
        for r in spark.read.schema(SCHEMA).parquet(*files).collect()
    }


def test_ship_reads_only_new_files_and_noops_when_drained(spark, tmp_path):
    src, dest, marker = _mk(spark, tmp_path)
    reads: list[list[str]] = []

    def build(new):
        reads.append(sorted(new.inputFiles()))
        return new

    _append(spark, src, 0)
    r1 = ship(spark, src, SCHEMA, marker, dest, build)
    assert r1 is not None and r1["shipped"]
    assert read_marker(marker) == r1["upto"]
    wave1_files = set(reads[0])
    assert wave1_files, "wave-1 ship must read the wave-1 files"

    _append(spark, src, 1)
    r2 = ship(spark, src, SCHEMA, marker, dest, build)
    assert r2 is not None and r2["upto"] > r1["upto"]
    # the files-read gate: wave-2's handoff read NEVER touches a wave-1
    # file (O(new-work), not O(topic))
    assert not (set(reads[1]) & wave1_files), reads[1]
    assert _dest_rows(spark, dest) == {
        tuple(r) for r in _wave(spark, 0).unionByName(_wave(spark, 1)).collect()
    }

    # drained: no new files -> None, and build is NEVER invoked (no
    # Spark job, no count probe)
    def explode(_):
        raise AssertionError("build must not run on a drained source")

    assert ship(spark, src, SCHEMA, marker, dest, explode) is None


def test_crash_after_placement_never_reships_even_with_new_wave(
    spark, tmp_path
):
    """The handoff-placed crash window: file renamed in, marker never
    published, and a NEW source wave lands before the replay. The
    replay must ship ONLY the new wave — the placed file's name proves
    the earlier range's coverage."""
    src, dest, marker = _mk(spark, tmp_path)

    class _Kill(Exception):
        pass

    def chaos(label):
        if label == "handoff-placed":
            raise _Kill()

    _append(spark, src, 0)
    with pytest.raises(_Kill):
        ship(spark, src, SCHEMA, marker, dest, lambda d: d, chaos=chaos)
    assert read_marker(marker) == -1  # marker never published
    assert len(_dest_rows(spark, dest)) == 20  # but the file IS placed

    _append(spark, src, 1)
    r = ship(spark, src, SCHEMA, marker, dest, lambda d: d)
    assert r is not None
    rows = _dest_rows(spark, dest)
    want = {
        tuple(x)
        for x in _wave(spark, 0).unionByName(_wave(spark, 1)).collect()
    }
    assert rows == want, "every doc exactly once across the torn replay"


def test_crash_before_placement_rebuilds_exactly_once(spark, tmp_path):
    src, dest, marker = _mk(spark, tmp_path)

    class _Kill(Exception):
        pass

    def chaos(label):
        if label == "handoff-staged":
            raise _Kill()

    _append(spark, src, 0)
    with pytest.raises(_Kill):
        ship(spark, src, SCHEMA, marker, dest, lambda d: d, chaos=chaos)
    assert _dest_rows(spark, dest) == set()  # nothing visible
    assert read_marker(marker) == -1

    r = ship(spark, src, SCHEMA, marker, dest, lambda d: d)
    assert r is not None
    assert _dest_rows(spark, dest) == {
        tuple(x) for x in _wave(spark, 0).collect()
    }


def test_all_filtered_wave_still_advances_the_watermark(spark, tmp_path):
    src, dest, marker = _mk(spark, tmp_path)
    _append(spark, src, 0)
    r = ship(
        spark,
        src,
        SCHEMA,
        marker,
        dest,
        lambda d: d.filter(F.lit(False)),
    )
    assert r is not None
    assert read_marker(marker) == r["upto"]
    assert _dest_rows(spark, dest) == set()  # empty but schema-stable

    # the drained source no-ops — the filtered wave is never re-read
    def explode(_):
        raise AssertionError("watermark must cover the filtered wave")

    assert ship(spark, src, SCHEMA, marker, dest, explode) is None


def test_multi_partition_wave_commits_atomically_as_multi_part_dir(
    spark, tmp_path
):
    """The staged write is not single-task (r13 verdict task 2): a
    build returning a multi-partition frame commits a DIRECTORY holding
    one part file per non-empty partition — the old protocol's
    coalesce(1) would have collapsed it to one. The crash window
    between staging and the rename still leaves nothing visible."""
    src, dest, marker = _mk(spark, tmp_path)
    _append(spark, src, 0, n=40)

    class _Kill(Exception):
        pass

    def chaos(label):
        if label == "handoff-staged":
            raise _Kill()

    with pytest.raises(_Kill):
        ship(
            spark, src, SCHEMA, marker, dest,
            lambda d: d.repartition(4), chaos=chaos,
        )
    assert _dest_rows(spark, dest) == set()  # dir rename never happened

    r = ship(spark, src, SCHEMA, marker, dest, lambda d: d.repartition(4))
    assert r is not None
    assert os.path.isdir(r["shipped"]), "handoff commit is a DIRECTORY"
    parts = [
        n for n in os.listdir(r["shipped"]) if n.startswith("part-")
    ]
    assert len(parts) >= 2, (
        f"multi-partition wave wrote {parts} — the staged write "
        "collapsed to a single task"
    )
    assert _dest_rows(spark, dest) == {
        tuple(x) for x in _wave(spark, 0, n=40).collect()
    }


def test_wave_files_repartitions_to_single_file_waves(spark, tmp_path):
    """wave_files=1 (the order-sensitive exporter-lane contract): the
    committed directory holds exactly one part file even when the build
    output is multi-partition."""
    src, dest, marker = _mk(spark, tmp_path)
    _append(spark, src, 0, n=40)
    r = ship(
        spark, src, SCHEMA, marker, dest,
        lambda d: d.repartition(4), wave_files=1,
    )
    parts = [n for n in os.listdir(r["shipped"]) if n.startswith("part-")]
    assert len(parts) == 1, parts
    assert len(_dest_rows(spark, dest)) == 40


def test_second_leg_on_same_dest_dir_fails_loudly(spark, tmp_path):
    """One marker per destination (r13 ADVICE): a second leg's stamps
    would silently raise the first leg's coverage watermark."""
    src, dest, marker = _mk(spark, tmp_path)
    _append(spark, src, 0)
    assert ship(spark, src, SCHEMA, marker, dest, lambda d: d) is not None
    other_marker = str(tmp_path / "other-leg.upto")
    _append(spark, src, 1)
    with pytest.raises(RuntimeError, match="owned by leg"):
        ship(spark, src, SCHEMA, other_marker, dest, lambda d: d)


def test_pre_handoff_layout_is_refused(spark, tmp_path):
    """assert_handoff_layout (r13 ADVICE): plain part files with no
    marker look like an r12 anti-join workdir — a fresh watermark would
    re-ship the whole source history over them."""
    from responsive_pub_spark.streaming.handoff import assert_handoff_layout

    dest = str(tmp_path / "old-dest")
    _wave(spark, 0).coalesce(1).write.mode("append").parquet(dest)
    marker = str(tmp_path / "leg.upto")
    with pytest.raises(RuntimeError, match="pre-handoff"):
        assert_handoff_layout(dest, marker, "test leg")
    # a fresh (empty) dest and a marker-bearing dest both pass
    assert_handoff_layout(str(tmp_path / "fresh"), marker, "test leg")
    src, dest2, marker2 = _mk(spark, tmp_path)
    _append(spark, src, 1)
    ship(spark, src, SCHEMA, marker2, dest2, lambda d: d)
    assert_handoff_layout(dest2, marker2, "test leg")
