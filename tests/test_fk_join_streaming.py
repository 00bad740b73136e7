"""Streaming FK join end-to-end: incremental left/right updates across
micro-batches with checkpoint restarts, asserting the streaming changelog
equals the batch replay — the ResponsiveForeignKeyJoinIntegrationTest.java:
199-238 contract (join results correct across restart, right-side updates
fan out to subscribers registered in EARLIER batches). The streaming
topology is the reference's own two-stage wiring with an intermediate
subscription topic (internal topics observed at :251-256)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from responsive_pub_spark.operators import fk_join

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow

LEFT_SCHEMA = "user STRING, team STRING, name STRING, ts DOUBLE"
RIGHT_SCHEMA = "team STRING, org STRING, ts DOUBLE"

# (left rows, right rows) per micro-batch
BATCH_1 = (
    [("u1", "blue", "alice", 1.0), ("u2", "blue", "bob", 2.0)],
    [("blue", "acme", 0.0), ("red", "globex", 0.0)],
)
BATCH_2 = (  # FK move + right update fanning out to a PRIOR subscriber
    [("u2", "red", "bob2", 5.0)],
    [("blue", "acme-v2", 10.0)],
)
BATCH_3 = (  # left tombstone + right tombstone, after two restarts
    [("u1", None, None, 12.0)],
    [("red", None, 13.0)],
)


def _key(rows):
    from collections import Counter

    return Counter(
        (r.left_key, r.left_payload, r.right_payload, r.ts_sec) for r in rows
    )


def test_streaming_fk_changelog_matches_batch_replay(spark, tmp_path):
    wd = str(tmp_path / "fkstream")
    js = fk_join.FkJoinStreaming(
        spark, wd, LEFT_SCHEMA, RIGHT_SCHEMA,
        left_key="user", fk="team", right_key="team",
        left_payload="name", right_payload="org", ts_col="ts",
    )
    for lrows, rrows in (BATCH_1, BATCH_2, BATCH_3):
        if lrows:
            spark.createDataFrame(lrows, LEFT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(js.left_dir)
        if rrows:
            spark.createDataFrame(rrows, RIGHT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(js.right_dir)
        # each advance() cold-starts both queries from their checkpoints —
        # the restart path runs on every micro-batch
        js.advance()
    emitted = js.changelog().collect()

    all_left = [r for b in (BATCH_1, BATCH_2, BATCH_3) for r in b[0]]
    all_right = [r for b in (BATCH_1, BATCH_2, BATCH_3) for r in b[1]]
    batch_chg = fk_join.fk_join_changelog(
        spark.createDataFrame(all_left, LEFT_SCHEMA),
        spark.createDataFrame(all_right, RIGHT_SCHEMA),
        left_key="user", fk="team", right_key="team",
        left_payload=F.col("name"), right_payload=F.col("org"), ts_col="ts",
    ).collect()

    assert _key(emitted) == _key(batch_chg)

    # cross-batch fan-out: the batch-2 right update reached u1 (subscribed
    # in batch 1, across a checkpoint restart) but not u2 (moved to red
    # earlier in batch 2)
    fanout = [(r.left_key, r.right_payload) for r in emitted if r.ts_sec == 10]
    assert ("u1", "acme-v2") in fanout
    assert ("u2", "acme-v2") not in fanout

    # snapshot compaction agrees
    snap = {
        r.left_key: (r.left_payload, r.right_payload)
        for r in fk_join.fk_join_snapshot(
            js.changelog(), inner=False
        ).collect()
    }
    assert snap == {"u1": (None, None), "u2": ("bob2", None)}


def test_single_query_streaming_raises_with_pointer(spark):
    df = spark.createDataFrame([], LEFT_SCHEMA)
    with pytest.raises(ValueError, match="FkJoinStreaming"):
        fk_join.fk_join_changelog(
            df, df, left_key="user", fk="team", right_key="team",
            left_payload=F.col("name"), right_payload=F.col("name"),
            streaming=True,
        )
