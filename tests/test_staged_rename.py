"""The crash-commit toolkit of ``streaming/commitlog.py`` without Spark:
the staged-rename commit (every crash window, the fsync order and
``place``), the exclusive flock behind both single-writer contracts, the
double-opt-in SIGKILL hook and the worker stall gate. The body writes
plain files, so each case runs in milliseconds; the lanes' SIGKILL
end-to-end suites stay the process-death proof."""

from __future__ import annotations

import os
import signal

import pytest

from responsive_pub_spark.streaming import commitlog
from responsive_pub_spark.streaming.commitlog import (
    chaos_kill_hook,
    chaos_stall,
    exclusive_flock,
    maintenance_lock,
    staged_rename,
)
from responsive_pub_spark.streaming.handoff import StampedTopic

class _Crash(Exception):
    pass


def _write(stage, files):
    os.makedirs(os.path.join(stage, "sub"), exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(stage, name), "w") as f:
            f.write(text)


def _read(target):
    out = {}
    for root, _dirs, files in os.walk(target):
        for n in files:
            p = os.path.join(root, n)
            with open(p) as f:
                out[os.path.relpath(p, target)] = f.read()
    return out


def _paths(tmp_path):
    return str(tmp_path / "total-7.parquet"), str(tmp_path / "total-7.parquet.tmp")


def test_commit_places_the_staged_entry(tmp_path):
    target, stage = _paths(tmp_path)
    with staged_rename(target, stage) as s:
        assert s == stage and not os.path.exists(stage)
        _write(s, {"part-0": "a", "sub/part-1": "b"})
    assert _read(target) == {"part-0": "a", os.path.join("sub", "part-1"): "b"}
    assert not os.path.exists(stage)


@pytest.mark.parametrize("window", ["mid-write", "staged"])
def test_crash_before_the_rename_leaves_no_target_and_rerun_commits(
    tmp_path, window
):
    """A raise in the body (mid-write) or in the hook (staged) renames
    nothing; the rerun clears the torn stage, so none of its files reach
    the committed entry."""
    target, stage = _paths(tmp_path)

    def chaos(label):
        assert label == "mid-marker"
        if window == "staged":
            raise _Crash(label)

    with pytest.raises(_Crash):
        with staged_rename(target, stage, chaos, "mid-marker") as s:
            _write(s, {"part-0": "torn", "part-stale": "x"})
            if window == "mid-write":
                raise _Crash(window)
    assert not os.path.exists(target)
    assert os.path.exists(os.path.join(stage, "part-stale"))

    with staged_rename(target, stage, lambda label: None, "mid-marker") as s:
        _write(s, {"part-0": "good"})
    assert _read(target) == {"part-0": "good"}
    assert not os.path.exists(stage)


def test_hook_fires_once_with_its_label_after_the_stage_is_complete(tmp_path):
    target, stage = _paths(tmp_path)
    seen = []

    def chaos(label):
        seen.append((label, _read(stage), os.path.exists(target)))

    with staged_rename(target, stage, chaos, "handoff-staged") as s:
        _write(s, {"part-0": "a"})
    assert seen == [("handoff-staged", {"part-0": "a"}, False)]


def test_stage_is_fsynced_before_the_rename_and_parent_after(
    tmp_path, monkeypatch
):
    events = []
    real_fsync, real_rename = os.fsync, os.rename

    def fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return real_fsync(fd)

    def rename(src, dst):
        events.append(("rename", os.path.realpath(src)))
        return real_rename(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "rename", rename)
    target, stage = _paths(tmp_path)
    with staged_rename(target, stage) as s:
        _write(s, {"part-0": "a", "sub/part-1": "b"})

    renames = [i for i, e in enumerate(events) if e[0] == "rename"]
    assert len(renames) == 1
    (at,) = renames
    before = {p for kind, p in events[:at] if kind == "fsync"}
    after = {p for kind, p in events[at + 1:] if kind == "fsync"}
    real_stage = os.path.realpath(stage)
    staged = {
        os.path.join(real_stage, p)
        for p in ("", "sub", "part-0", os.path.join("sub", "part-1"))
    }
    assert {p.rstrip("/") for p in staged} <= before
    assert os.path.realpath(str(tmp_path)) in after


def test_place_runs_the_rename(tmp_path):
    target, stage = _paths(tmp_path)
    seen = []

    def place(rename):
        seen.append(os.path.exists(target))
        rename()
        seen.append(os.path.exists(target))

    with staged_rename(target, stage, place=place) as s:
        _write(s, {"part-0": "a"})
    assert seen == [False, True]
    assert _read(target) == {"part-0": "a"}


def test_place_through_a_topic_locks_only_the_rename(tmp_path, monkeypatch):
    """The handoff's placement: the staged write runs outside the
    destination topic's single-writer lock, the rename inside it (a
    concurrent ingest fails there), and the lock is free afterwards."""
    topic = StampedTopic(str(tmp_path / "dest"))
    target = os.path.join(topic.docs_dir, "part-handoff-1.parquet")
    real_rename = os.rename
    locked = []

    def rename(src, dst):
        with pytest.raises(RuntimeError, match="single-writer"):
            topic.append(lambda: None)
        locked.append(dst)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    stage = str(tmp_path / ".handoff-stage-1")
    with staged_rename(target, stage, place=topic.append) as s:
        _write(s, {"part-0": "a"})
        topic.append(lambda: None)
    assert locked == [target]
    assert os.listdir(topic.docs_dir) == ["part-handoff-1.parquet"]
    topic.append(lambda: None)


def test_second_flock_holder_raises_its_callers_message(tmp_path):
    lock = str(tmp_path / "x.lock")
    with exclusive_flock(lock, "first holder"):
        with pytest.raises(RuntimeError, match="^second holder$"):
            with exclusive_flock(lock, "second holder"):
                pass
        with pytest.raises(RuntimeError, match="single-maintainer"):
            with maintenance_lock(lock, "test maintenance"):
                pass
    with exclusive_flock(lock, "free again"):
        pass

    topic = StampedTopic(str(tmp_path / "topic"))

    def nested_ingest():
        with pytest.raises(RuntimeError, match="single-writer"):
            topic.append(lambda: None)

    topic.append(nested_ingest)
    topic.append(lambda: None)


def test_flock_is_released_when_the_body_raises(tmp_path):
    lock = str(tmp_path / "x.lock")
    with pytest.raises(_Crash):
        with exclusive_flock(lock, "held"):
            raise _Crash()
    with exclusive_flock(lock, "free again"):
        pass


@pytest.mark.parametrize(
    "enable,armed,kills",
    [
        (None, None, False),
        ("1", None, False),
        (None, "mid-marker", False),
        ("0", "mid-marker", False),
        ("1", "post-delta", False),
        ("1", "mid-marker", True),
    ],
)
def test_kill_hook_needs_both_env_vars(monkeypatch, enable, armed, kills):
    calls = []
    monkeypatch.setattr(os, "kill", lambda pid, sig: calls.append((pid, sig)))
    for var, val in (
        ("SPARK_GRAFT_CHAOS_ENABLE", enable),
        ("SPARK_GRAFT_TEST_KILL", armed),
    ):
        if val is None:
            monkeypatch.delenv(var, raising=False)
        else:
            monkeypatch.setenv(var, val)
    chaos_kill_hook("SPARK_GRAFT_TEST_KILL")("mid-marker")
    assert calls == ([(os.getpid(), signal.SIGKILL)] if kills else [])


@pytest.mark.parametrize(
    "enable,armed,stalls",
    [("1", True, True), ("0", True, False), ("1", False, False)],
)
def test_stall_gate_needs_enable_and_the_armed_flag(
    tmp_path, monkeypatch, enable, armed, stalls
):
    sleeps = []
    monkeypatch.setattr(commitlog.time, "sleep", sleeps.append)
    monkeypatch.setenv("SPARK_GRAFT_CHAOS_ENABLE", enable)
    monkeypatch.setenv("SPARK_GRAFT_CHAOS_STALL", str(tmp_path))
    if armed:
        (tmp_path / "armed").write_text("")
    chaos_stall()
    assert (tmp_path / "inflight").exists() == stalls
    assert sleeps == ([300] if stalls else [])



class _Frame:
    """The slice of a DataFrame that KV compaction and a handoff ship use:
    every transform returns the frame, and the write leaves one file."""

    schema = None

    def withColumn(self, *_a):  # noqa: N802 - the DataFrame method name
        return self

    def repartition(self, *_a):
        return self

    @property
    def write(self):
        return self

    def mode(self, _mode):
        return self

    def parquet(self, path):
        _write(path, {"part-0": "rows"})


class _Spark:
    """``spark.read[.schema(...)].parquet(...)`` returning a :class:`_Frame`."""

    @property
    def read(self):
        return self

    def schema(self, _ddl):
        return self

    def parquet(self, *_paths):
        return _Frame()


def test_compaction_collects_a_crashed_compactions_stage(tmp_path, monkeypatch):
    """A compaction that crashed before its rename left its stage under
    its own fold name; the next compaction folds more deltas, so it
    stages under another name and must collect the old stage itself."""
    from responsive_pub_spark.streaming import kv_sink

    monkeypatch.setattr(kv_sink, "F", type("F", (), {"lit": staticmethod(lambda v: v)}))
    monkeypatch.setattr(
        kv_sink.KeyValueTableSink, "_latest", lambda self, spark, files: _Frame()
    )
    table = tmp_path / "kv"
    sink = kv_sink.KeyValueTableSink(str(table), ["k"], ["v"])
    for b in (1, 2, 3):
        _write(sink._delta_dir(b), {"part-0": f"delta {b}"})
    crashed = str(table / f"delta-{2:020d}.g1.parquet.compacting")
    _write(crashed, {"part-0": "torn fold"})

    sink.compact(_Spark())
    assert sorted(os.listdir(table)) == [f"delta-{3:020d}.g1.parquet"]


def _ship(tmp_path, stamps):
    from responsive_pub_spark.streaming import handoff

    class _Source:
        def stamped_files(self):
            return [(s, str(tmp_path / f"src-{s}")) for s in stamps]

    return handoff.ship(
        _Spark(), _Source(), "x STRING", str(tmp_path / "marker"),
        str(tmp_path / "legs" / "dest"), lambda rows: rows,
    )


def test_handoff_collects_a_crashed_ships_stage(tmp_path):
    """A ship that crashed before its rename left ``.handoff-stage-S``;
    once new source files move S, the next ship stages under another name
    and must collect the old stage itself (other entries stay)."""
    legs = tmp_path / "legs"
    crashed = str(legs / f".handoff-stage-{3:020d}")
    _write(crashed, {"part-0": "torn wave"})
    _write(str(legs / "other"), {"part-0": "not a stage"})

    got = _ship(tmp_path, [3, 5])
    assert got["upto"] == 5
    assert sorted(os.listdir(legs)) == ["dest", "other"]
    assert _read(got["shipped"]) == {"part-0": "rows"}
    assert commitlog.read_pointer(str(tmp_path / "marker")) == "5"


def test_a_second_ship_of_one_leg_raises(tmp_path):
    dest = tmp_path / "legs" / "dest"
    os.makedirs(dest)
    with exclusive_flock(str(dest / ".leg-lock"), "held"):
        with pytest.raises(RuntimeError, match="concurrent handoff ship"):
            _ship(tmp_path, [5])
