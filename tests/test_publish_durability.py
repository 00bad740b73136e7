"""Data durable before the commit point, for every publish that names a
directory: each test records which paths ``os.fsync`` saw before the
pointer ``os.replace`` or the commit ``os.rename``, and asserts that
every file and directory of the published data was among them. Without
that order a power loss can keep the new name over torn contents (the
``commitlog.fsync_tree`` contract)."""

from __future__ import annotations

import os

import pytest

from responsive_pub_spark.streaming.ann_stream import VECS_SCHEMA, IvfIncremental
from responsive_pub_spark.streaming.bm25_stream import Bm25Streaming
from responsive_pub_spark.streaming.commitlog import DeltaCommitLog
from responsive_pub_spark.streaming.kv_sink import KeyValueTableSink
from responsive_pub_spark.streaming.pack_ids_stream import PackIdsStreaming


class _Order:
    """Records, at every ``os.replace``/``os.rename``, the set of paths
    fsynced so far."""

    def __init__(self, monkeypatch):
        self.synced: "set[str]" = set()
        self.commits: "list[tuple[str, str, frozenset]]" = []
        real_fsync, real_replace, real_rename = os.fsync, os.replace, os.rename

        def fsync(fd):
            self.synced.add(os.readlink(f"/proc/self/fd/{fd}"))
            return real_fsync(fd)

        def commit(real):
            def op(src, dst, *a, **kw):
                self.commits.append(
                    (os.path.realpath(src), os.path.realpath(dst),
                     frozenset(self.synced))
                )
                return real(src, dst, *a, **kw)

            return op

        monkeypatch.setattr(os, "fsync", fsync)
        monkeypatch.setattr(os, "replace", commit(real_replace))
        monkeypatch.setattr(os, "rename", commit(real_rename))

    def _last(self, dst: str):
        dst = os.path.realpath(dst)
        hits = [c for c in self.commits if c[1] == dst]
        assert hits, f"no commit onto {dst}"
        return hits[-1]

    def _unsynced(self, data_dir: str, then: str, synced) -> "list[str]":
        data_dir = os.path.realpath(data_dir)
        out = []
        for root, _dirs, files in os.walk(data_dir):
            for p in [root] + [os.path.join(root, f) for f in files]:
                if then + p[len(data_dir):] not in synced:
                    out.append(p)
        return out

    def assert_flipped_durably(self, pointer: str, version_dir: str) -> None:
        """Every entry of ``version_dir`` was fsynced before the pointer
        flip that published it."""
        _, _, synced = self._last(pointer)
        missing = self._unsynced(
            version_dir, os.path.realpath(version_dir), synced
        )
        assert not missing, f"flipped before fsync of {missing[:5]}"

    def assert_renamed_durably(self, dst: str) -> None:
        """Every entry now under ``dst`` was fsynced, under its staged
        name, before the rename that committed it."""
        src, _, synced = self._last(dst)
        missing = self._unsynced(dst, src, synced)
        assert not missing, f"renamed before fsync of {missing[:5]}"


@pytest.fixture
def order(monkeypatch):
    return _Order(monkeypatch)


def _only_version(root: str, prefix: str) -> str:
    names = [n for n in os.listdir(root) if n.startswith(prefix)]
    assert len(names) == 1, names
    return os.path.join(root, names[0])


def test_commit_log_compaction_fsyncs_base_before_flip(spark, tmp_path, order):
    log = DeltaCommitLog(
        spark, str(tmp_path / "log"), "k BIGINT", "total BIGINT"
    )
    for b in range(2):
        log.write_delta(b, spark.createDataFrame([(b,)], "k BIGINT"))
        log.commit_marker(b, spark.createDataFrame([(b,)], "total BIGINT"))
    assert log.compact() == 2
    order.assert_flipped_durably(
        log.pointer, _only_version(log.log_dir, "base-v")
    )


def _vecs(spark, lane, lo, n):
    rows = [
        (i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
        for i in range(lo, lo + n)
    ]
    spark.createDataFrame(rows, VECS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(lane.vecs_dir)


def test_ivf_every_publish_fsyncs_version_before_flip(spark, tmp_path, order):
    cent = spark.createDataFrame(
        [(c, [float((c + d) % 3) - 1.0 for d in range(8)]) for c in range(3)],
        "cid BIGINT, centv ARRAY<DOUBLE>",
    )
    lane = IvfIncremental(spark, str(tmp_path), centroids=cent)
    index = os.path.join(str(tmp_path), "index")
    order.assert_flipped_durably(lane.pointer, _only_version(index, "v"))

    _vecs(spark, lane, 0, 24)
    lane.advance()
    assert lane.compact() == 24
    order.assert_flipped_durably(lane.pointer, _only_version(index, "v"))

    assert lane.maybe_retrain(min_flagged=0, n_centroids=2, iters=1)
    order.assert_flipped_durably(lane.pointer, _only_version(index, "v"))


def test_bm25_stats_fsyncs_version_before_flip(spark, tmp_path, order):
    lane = Bm25Streaming(spark, str(tmp_path))
    lane.ingest(
        spark.createDataFrame(
            [(1, "alpha beta beta"), (2, "gamma alpha")],
            "doc_id BIGINT, text STRING",
        )
    )
    lane.advance()
    order.assert_flipped_durably(
        lane.stats_pointer, _only_version(lane.stats_root, "v")
    )


def test_kv_sink_delta_and_compaction_fsync_before_rename(
    spark, tmp_path, order
):
    sink = KeyValueTableSink(str(tmp_path / "kv"), ["k"], ["v"])
    for b in range(2):
        sink(spark.createDataFrame([(1, b)], "k BIGINT, v BIGINT"), b)
        order.assert_renamed_durably(sink._delta_dir(b))
    sink.compact(spark)
    (fold,) = sink._deltas()
    assert ".g1." in fold
    order.assert_renamed_durably(fold)


def test_pack_ids_freeze_fsyncs_tokenizer_before_rename(
    spark, tmp_path, order
):
    docs = spark.createDataFrame(
        [(i, "en", "alpha beta gamma beta") for i in range(4)],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    lane = PackIdsStreaming(spark, str(tmp_path), fit_docs=docs, k=2)
    order.assert_renamed_durably(lane.tok_dir)
