"""``commitlog.VersionedSnapshot`` without Spark: the writer writes plain
files, so every crash window of the shared publish protocol is checked
in milliseconds. The lanes' SIGKILL end-to-end suites stay the
process-death proof; this is the per-window contract they share."""

from __future__ import annotations

import os
import re

import pytest

from responsive_pub_spark.streaming.commitlog import VersionedSnapshot

_TAIL_RE = re.compile(r"^part-(\d{4})$")


class _Crash(Exception):
    pass


def _snap(root, chaos=None, prefix="base-v", first=1):
    return VersionedSnapshot(
        str(root), os.path.join(str(root), "BASE"), prefix, first, chaos
    )


def _write(stage, rows):
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "rows"), "w") as f:
        f.write(rows)


def _served(snap):
    cur = snap.current()
    if cur is None:
        return None
    with open(os.path.join(cur, "rows")) as f:
        return f.read()


def _versions(root, prefix="base-v"):
    return sorted(n for n in os.listdir(root) if prefix in n)


def _publish(snap, rows, covered=-1):
    with snap.publish(covered) as stage:
        _write(stage, rows)


def test_first_publish_serves_and_numbers_from_first(tmp_path):
    snap = _snap(tmp_path)
    assert snap.info() == (0, -1)
    assert snap.current() is None
    _publish(snap, "a", covered=7)
    assert snap.info() == (1, 7)
    assert _served(snap) == "a"
    with open(snap.pointer) as f:
        assert f.read() == "base-v000001 7"

    zero = _snap(tmp_path / "z", prefix="v", first=0)
    _publish(zero, "z")
    assert zero.info() == (0, -1)
    with open(zero.pointer) as f:
        assert f.read() == "v000000"


@pytest.mark.parametrize(
    "window,flipped",
    [("mid-write", False), ("staged", False), ("flipped", True),
     ("pre-gc", True)],
)
def test_crash_in_every_window_serves_a_complete_version(
    tmp_path, window, flipped
):
    """Before the flip readers see the old complete version, after it the
    new one; the next publish plus GC leaves exactly one version and no
    leftovers."""

    def chaos(label):
        if label == window:
            raise _Crash(label)

    snap = _snap(tmp_path)
    _publish(snap, "old", covered=3)
    snap.chaos = chaos

    with pytest.raises(_Crash):
        with snap.publish(covered=5) as stage:
            _write(stage, "new-partial")
            if window == "mid-write":
                raise _Crash(window)
            _write(stage, "new")
        # a lane step between the flip and the GC (decontam's flag
        # removal) — the pre-GC window
        chaos("pre-gc")

    if flipped:
        assert snap.info() == (2, 5)
        assert _served(snap) == "new"
    else:
        assert snap.info() == (1, 3)
        assert _served(snap) == "old"
    # the crashed attempt left its version directory behind either way
    assert _versions(tmp_path) == ["base-v000001", "base-v000002"]

    # a reader handle never collects; the next locked publish + GC does
    _snap(tmp_path)
    assert len(_versions(tmp_path)) == 2
    snap.chaos = lambda label: None
    _publish(snap, "next", covered=9)
    snap.gc()
    want = 3 if flipped else 2
    assert snap.info() == (want, 9)
    assert _served(snap) == "next"
    assert _versions(tmp_path) == [f"base-v{want:06d}"]
    assert not os.path.exists(snap.pointer + ".tmp")


def test_custom_labels_fire_at_staged_and_flipped(tmp_path):
    seen = []

    def chaos(label):
        seen.append((label, read_served()))

    snap = VersionedSnapshot(
        str(tmp_path), os.path.join(str(tmp_path), "CURRENT"), "v",
        chaos=chaos, labels=("staged-all", "post-flip"),
    )

    def read_served():
        return snap.info()[0]

    _publish(snap, "a")
    assert seen == [("staged-all", -1), ("post-flip", 0)]


@pytest.mark.parametrize(
    "prefix,first,value,want",
    [
        ("base-v", 1, "1:12", (1, 12)),              # decontam / span
        ("base-v", 0, "base-v000002 7", (2, 7)),     # commit log
        ("v", 0, "v000003", (3, -1)),                # IVF / BM25 stats
    ],
)
def test_reads_every_older_pointer_form(tmp_path, prefix, first, value, want):
    snap = _snap(tmp_path, prefix=prefix, first=first)
    with open(snap.pointer, "w") as f:
        f.write(value + "\n")
    assert snap.info() == want
    assert snap.current() == os.path.join(
        str(tmp_path), f"{prefix}{want[0]:06d}"
    )
    # the next publish continues the numbering
    with snap.publish(20) as stage:
        _write(stage, "x")
    assert snap.info() == (want[0] + 1, 20)


def test_gc_collects_older_stage_leftovers_and_keeps_other_entries(tmp_path):
    snap = _snap(tmp_path)
    with open(snap.pointer, "w") as f:
        f.write("1:4")
    _write(snap.path(1), "served")
    # an older layout staged under a dotted name, then renamed in
    _write(os.path.join(str(tmp_path), ".base-v000002.stage"), "torn")
    _write(snap.path(2), "unreferenced")
    os.makedirs(os.path.join(str(tmp_path), "deltas"))
    with open(os.path.join(str(tmp_path), "delta.upto"), "w") as f:
        f.write("4")
    with open(snap.pointer + ".tmp", "w") as f:
        f.write("base-v00")

    assert _served(snap) == "served"
    snap.gc()
    assert sorted(os.listdir(str(tmp_path))) == [
        "BASE", "base-v000001", "delta.upto", "deltas",
    ]
    assert _served(snap) == "served"


def test_listing_is_base_plus_tail_past_coverage(tmp_path):
    tail_dir = tmp_path / "deltas"
    tail_dir.mkdir()
    for stamp in (2, 5, 9):
        (tail_dir / f"part-{stamp:04d}").mkdir()
    (tail_dir / ".leg-owner").write_text("x")
    snap = _snap(tmp_path / "root")
    assert snap.listing(str(tail_dir), _TAIL_RE) == (
        None,
        -1,
        [(s, str(tail_dir / f"part-{s:04d}")) for s in (2, 5, 9)],
    )
    _publish(snap, "folded", covered=5)
    assert snap.listing(str(tail_dir), _TAIL_RE) == (
        snap.path(1), 5, [(9, str(tail_dir / "part-0009"))]
    )
