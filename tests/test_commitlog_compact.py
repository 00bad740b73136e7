"""Compaction + ingest-discipline tests for the shared delta+marker
commit log (``streaming/commitlog.py``) under both exporter lanes.

Contracts under test (r11 VERDICT tasks 1/8 + ADVICE):

- ``compact()`` folds the committed tail into a versioned base segment
  behind an atomic pointer flip: assignments are ROW-IDENTICAL before
  and after, carried totals survive, the tail empties, and the log's
  file count PLATEAUS instead of growing one delta+marker per
  micro-batch forever.
- ingest continues correctly across a compaction (the carried total is
  served from the base segment once the tail markers are gone).
- a torn marker (crash mid-commit, before the atomic rename) is
  INVISIBLE: the ``.tmp`` staging dir is never counted as committed and
  is GC'd; previously a bare Spark output dir could be counted while
  half-written, silently zeroing the carried totals (pack) or wedging
  the lane (shard).
- ``ingest()`` is single-writer: a second concurrent writer fails
  LOUDLY (flock) instead of silently interleaving mtime stamps.
- a part file left unstamped by a crash mid-ingest is folded back into
  the stamp sequence at construction (sorted last — the position it
  held), so it can never tie with a later wave's stamp.
"""

from __future__ import annotations

import fcntl
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from responsive_pub_spark.functions import text as T
from responsive_pub_spark.functions.hashing import P
from responsive_pub_spark.operators.pipeline_ops import _shard_coeffs
from responsive_pub_spark.streaming.pack_stream import PackStreaming
from responsive_pub_spark.streaming.shard_stream import ShardStreaming

BUDGET = 97


def _wave(spark, which: int, n: int = 40):
    rows = [
        (
            which * 1000 + i,
            " ".join(f"w{which}x{i}y{j}" for j in range(1 + (i * 7) % 13)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def _log_file_count(lane) -> int:
    return len(os.listdir(lane.log.log_dir))


def test_shard_compact_preserves_log_and_bounds_files(spark, tmp_path):
    lane = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    for w in range(3):
        lane.ingest(_wave(spark, w))
        lane.advance()
    before = {tuple(r) for r in lane.assignments().collect()}
    total_before = lane.total_tokens()
    files_before = _log_file_count(lane)
    assert len(lane.log.tail_ids()) == 3

    assert lane.compact() == 3
    assert {tuple(r) for r in lane.assignments().collect()} == before
    assert lane.total_tokens() == total_before
    assert lane.log.tail_ids() == []
    ver, upto = lane.log.base.info()
    assert ver >= 0 and upto == 2
    # compacted deltas/markers GC'd: base dir + pointer only
    assert _log_file_count(lane) <= 2

    # nothing to fold -> no-op, no new version
    assert lane.compact() == 0
    assert lane.log.base.info() == (ver, upto)

    # ingest continues FROM the base segment's carried total
    lane.ingest(_wave(spark, 3))
    lane.advance()
    a, b = _shard_coeffs(lane.seed)
    bpe = (
        f"size(regexp_extract_all(text, "
        f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    )
    union = None
    for w in range(4):
        part = _wave(spark, w).withColumn("wave", F.lit(w))
        union = part if union is None else union.unionByName(part)
    win = Window.orderBy("wave", "h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        tuple(r)
        for r in union.select(
            "wave",
            "doc_id",
            F.expr(bpe).cast("bigint").alias("n_tokens"),
            F.expr(f"({a} * (doc_id % {P}) + {b}) % {P}").alias("h"),
        )
        .withColumn("cum", F.sum("n_tokens").over(win))
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"(cum - n_tokens) DIV {BUDGET}").alias("shard_id"),
            ((F.col("cum") - F.col("n_tokens")) % BUDGET)
            .cast("bigint")
            .alias("shard_offset"),
        )
        .collect()
    }
    assert {tuple(r) for r in lane.assignments().collect()} == want

    # second compaction folds the new tail onto the existing base; the
    # log's file count PLATEAUS at base+pointer regardless of history
    assert lane.compact() == 1
    assert {tuple(r) for r in lane.assignments().collect()} == want
    assert _log_file_count(lane) <= 2

    # a cold restart serves the compacted log unchanged
    lane2 = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    assert {tuple(r) for r in lane2.assignments().collect()} == want


def _pack_wave(spark, which: int, n: int = 40):
    rows = [
        (
            which * 1000 + i,
            ["en", "de", "fr"][i % 3],
            " ".join(f"w{which}x{i}y{j}" for j in range(1 + (i * 5) % 11)),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, text STRING"
    )


def test_pack_compact_preserves_log_and_totals(spark, tmp_path):
    lane = PackStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    for w in range(3):
        lane.ingest(_pack_wave(spark, w))
        lane.advance()
    before = {tuple(r) for r in lane.assignments().collect()}
    totals_before = {
        (r.lang, r.post_total) for r in lane.totals().collect()
    }

    assert lane.compact() == 3
    assert {tuple(r) for r in lane.assignments().collect()} == before
    assert {
        (r.lang, r.post_total) for r in lane.totals().collect()
    } == totals_before
    assert lane.log.tail_ids() == []
    assert _log_file_count(lane) <= 2

    # the per-lang carried totals keep feeding the packer from the base
    lane.ingest(_pack_wave(spark, 3))
    lane.advance()
    bpe = (
        f"size(regexp_extract_all(text, "
        f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    )
    union = None
    for w in range(4):
        part = _pack_wave(spark, w).withColumn("wave", F.lit(w))
        union = part if union is None else union.unionByName(part)
    win = (
        Window.partitionBy("lang")
        .orderBy("wave", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        tuple(r)
        for r in union.select(
            "wave",
            "doc_id",
            "lang",
            F.expr(bpe).cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(win))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(cum - n_tokens) DIV {BUDGET}").alias("seq_id"),
            ((F.col("cum") - F.col("n_tokens")) % BUDGET)
            .cast("bigint")
            .alias("seq_offset"),
        )
        .collect()
    }
    assert {tuple(r) for r in lane.assignments().collect()} == want


def test_torn_marker_tmp_is_not_committed_and_gcs(spark, tmp_path):
    """A marker ``.tmp`` staging dir (SIGKILL mid-commit, before the
    atomic rename) is never counted as committed — the batch replays —
    and construction GC's the leftover."""
    lane = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    lane.ingest(_wave(spark, 0))
    lane.advance()
    once = {tuple(r) for r in lane.assignments().collect()}

    # simulate the torn commit: delta written + marker staged, no rename
    rows = spark.createDataFrame(
        [(99999, 7, 0, 0)],
        "doc_id BIGINT, n_tokens BIGINT, shard_id BIGINT, shard_offset BIGINT",
    )
    lane.log.write_delta(1, rows)
    tmp = lane.log.marker_path(1) + ".tmp"
    spark.createDataFrame(
        [(1, 123)], "batch_id BIGINT, post_total BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)

    assert not lane.log.is_committed(1)
    assert {tuple(r) for r in lane.assignments().collect()} == once
    assert lane.total_tokens() == sum(r[1] for r in once)

    # a fresh instance is a READER — it must NOT GC (r13: construction
    # GC could delete a maintainer's staged base mid-compact); the torn
    # staging leftover is invisible to every read path and the torn
    # batch replays through _apply and commits normally (its own
    # commit_marker clears the leftover)
    lane2 = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    assert os.path.exists(tmp)  # readers leave orphans alone
    lane2._apply(_wave(spark, 1).limit(5), 1)
    assert lane2.log.is_committed(1)
    assert not os.path.exists(tmp)  # the replayed commit reclaimed it
    after = {tuple(r) for r in lane2.assignments().collect()}
    assert len(after) == len(once) + 5

    # the torn leftover class IS collected by the next locked
    # maintenance call
    spark.createDataFrame(
        [(9, 9)], "batch_id BIGINT, post_total BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(
        lane2.log.marker_path(9) + ".tmp"
    )
    lane2.log.gc()
    assert not os.path.exists(lane2.log.marker_path(9) + ".tmp")


def test_reader_construction_never_deletes_staged_base(spark, tmp_path):
    """r13 VERDICT task 1: a maintainer has the next base segment staged
    (pointer not yet flipped) when a READER constructs a log handle over
    the same directory — the reader must leave the stage alone; the
    maintainer's subsequent flip + GC must then serve the identical
    log. Previously construction-time gc() deleted the staged dir and
    the flip destroyed the log."""
    lane = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    for w in range(2):
        lane.ingest(_wave(spark, w))
        lane.advance()
    before = {tuple(r) for r in lane.assignments().collect()}

    # freeze the compaction right after staging (chaos hook raises —
    # the in-process stand-in for a maintainer paused pre-flip)
    class _Freeze(Exception):
        pass

    def freeze(label):
        if label == "compact-staged-all":
            raise _Freeze()

    lane.log.chaos = freeze
    with pytest.raises(_Freeze):
        lane.compact()
    lane.log.chaos = lambda label: None
    staged = os.path.join(lane.log.log_dir, "base-v000000")
    assert os.path.isdir(staged)

    # a READER constructs over the same workdir: stage must survive
    reader = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    assert os.path.isdir(staged)
    assert {tuple(r) for r in reader.assignments().collect()} == before

    # the maintainer resumes: compaction completes over the intact log
    assert lane.compact() == 2
    assert {tuple(r) for r in lane.assignments().collect()} == before


def test_concurrent_maintenance_fails_loudly(spark, tmp_path):
    """r13 VERDICT task 1: compact()/gc() are single-maintainer BY
    MECHANISM — with the maintenance flock held (another process looks
    identical to flock), both fail loudly instead of interleaving
    writes into the same staged version."""
    lane = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    lane.ingest(_wave(spark, 0))
    lane.advance()
    fd = os.open(lane.log.maint_lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(RuntimeError, match="single-maintainer"):
            lane.compact()
        with pytest.raises(RuntimeError, match="single-maintainer"):
            lane.log.gc()
    finally:
        os.close(fd)
    # after release, maintenance proceeds
    assert lane.compact() == 1
    assert lane.log.tail_ids() == []


def test_concurrent_ingest_fails_loudly(spark, tmp_path):
    lane = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    # a second writer holds the lock (another process would look the same
    # to flock; a separate fd models it)
    fd = os.open(lane._lock_path, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(RuntimeError, match="single-writer"):
            lane.ingest(_wave(spark, 0))
    finally:
        os.close(fd)
    # after release, ingest proceeds
    lane.ingest(_wave(spark, 0))
    lane.advance()
    assert lane.assignments().count() == 40


def test_crash_leftover_part_file_restamps_in_order(spark, tmp_path):
    """A wave whose parquet append landed but whose stamping loop never
    ran (crash mid-ingest) keeps its real — large — mtime. Construction
    folds it back into the sequence LAST (it was the newest write), so a
    later wave can never tie or sort before it."""
    lane = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    lane.ingest(_wave(spark, 0))

    # crash mid-ingest: parquet lands, stamping loop never runs
    _wave(spark, 1).coalesce(1).write.mode("append").parquet(lane.docs_dir)
    parts = sorted(
        lane._part_files(),
        key=lambda n: os.path.getmtime(os.path.join(lane.docs_dir, n)),
    )
    assert os.path.getmtime(
        os.path.join(lane.docs_dir, parts[-1])
    ) > 1_500_000_000  # unstamped leftover

    # restart: the leftover is folded in as wave 2; a NEW wave stamps
    # strictly after it
    lane2 = ShardStreaming(spark, str(tmp_path), budget=BUDGET, n_buckets=8)
    assert lane2._pipe_n == 2
    stamps = sorted(
        os.path.getmtime(os.path.join(lane2.docs_dir, n))
        for n in lane2._part_files()
    )
    assert stamps == [1_000_000_010, 1_000_000_020]
    lane2.ingest(_wave(spark, 2))
    stamps = sorted(
        os.path.getmtime(os.path.join(lane2.docs_dir, n))
        for n in lane2._part_files()
    )
    assert stamps == [1_000_000_010, 1_000_000_020, 1_000_000_030]
    # and the lane drains all three waves in that order, batch-parity
    lane2.advance()
    assert lane2.assignments().count() == 120


# measured >60s per-module (r15 tier audit, OPTIMIZATION_r15.md): slow
# tier, deselected under the driver default run; round-close runs the
# full tier with -m "slow or not slow"
import pytest as _pytest_tier  # noqa: E402

pytestmark = _pytest_tier.mark.slow
