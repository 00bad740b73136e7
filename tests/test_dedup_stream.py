"""Streaming near-dup dedup: replay parity with the batch greedy twin
across checkpointed restarts, transitive chaining through dropped docs,
and retention (watermark/TTL) eviction.

The reference positions the FACT store for streaming dedup
(api/stores/ResponsiveStores.java:79-96); evidence pattern mirrors
test_fk_join_streaming.py — a fresh lane object per chunk of input, each
advance a cold start from the checkpoints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from responsive_pub_spark.operators import dedup
from responsive_pub_spark.sources.readers import read_table
from responsive_pub_spark.streaming.dedup_stream import (
    DOCS_SCHEMA,
    NearDupStreaming,
)

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


def _feed(spark, lane, rows):
    spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(lane.docs_dir)


def test_streaming_replay_matches_batch_greedy_across_restarts(spark, sf_dir, tmp_path):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = [
        (int(r.doc_id), r.text, float(r.doc_id))
        for r in docs.orderBy("doc_id").collect()
    ]
    wd = str(tmp_path / "neardup")

    # three chunks, a FRESH lane object per chunk: state and topic offsets
    # must survive the object (and query) lifecycle via the checkpoints
    cuts = [len(rows) // 3, 2 * len(rows) // 3, len(rows)]
    lo = 0
    for hi in cuts:
        lane = NearDupStreaming(spark, wd)
        _feed(spark, lane, rows[lo:hi])
        lane.advance()
        lo = hi

    lane = NearDupStreaming(spark, wd)
    got = {
        (r.doc_id, r.is_duplicate) for r in lane.verdicts().collect()
    }
    want = {
        (r.doc_id, r.is_duplicate)
        for r in dedup.greedy_keep(docs).collect()
    }
    assert got == want
    # sanity: the fixture plants near-dups — the test must not pass vacuously
    assert sum(1 for _, d in want if d) >= 5

    # drop changelog only names verified pairs: every drop's jaccard
    # clears the threshold and doc_a precedes doc_b in arrival order
    for r in lane.drops().collect():
        assert r.jaccard >= dedup.MINHASH_JACCARD_THRESHOLD
        assert r.doc_a < r.doc_b


def _chain_corpus():
    """A -> B -> C chain: B near-dups A, C near-dups B, but C vs A falls
    below the threshold — distinguishes direct-edge from path semantics."""
    # words found by deterministic search against the pinned hash
    # constants: jac(A,B)=jac(B,C)=0.854 >= 0.8 with band collisions,
    # jac(A,C)=0.727 < 0.8 with NO shared band — the premise assert
    # below re-verifies via the batch operator
    base = [f"tok{i:02d}" for i in range(40)]
    a = list(base)
    b = list(base)
    b[5] = "zz000"
    c = list(b)
    c[20] = "beta070"
    return [
        (1, " ".join(a), 1.0),
        (2, " ".join(b), 2.0),
        (3, " ".join(c), 3.0),
    ]


def test_dropped_docs_still_dedup_their_own_near_dups(spark, tmp_path):
    rows = _chain_corpus()
    docs = spark.createDataFrame(rows, DOCS_SCHEMA).select("doc_id", "text")

    # premise (batch): exactly the chain edges verify — no (1, 3) pair
    pairs = {
        (r.doc_a, r.doc_b) for r in dedup.minhash_pairs(docs).collect()
    }
    assert pairs == {(1, 2), (2, 3)}, f"fixture premise broke: {pairs}"

    lane = NearDupStreaming(spark, str(tmp_path / "chain"))
    _feed(spark, lane, rows)
    lane.advance()
    got = {r.doc_id: r.is_duplicate for r in lane.verdicts().collect()}
    # doc 2 drops against doc 1; doc 3 drops against the DROPPED doc 2 —
    # bucket membership is independent of verdicts, exactly like batch
    # candidate generation
    assert got == {1: False, 2: True, 3: True}


def test_retention_evicts_members_past_the_dup_horizon(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(25))
    rows1 = [(10, base, 0.0)]
    rows2 = [(20, base, 1000.0)]   # exact dup but 1000s later
    rows3 = [(30, base, 1004.0)]   # within horizon of doc 20
    lane = NearDupStreaming(spark, str(tmp_path / "ttl"), retention=10.0)
    _feed(spark, lane, rows1)
    lane.advance()
    _feed(spark, lane, rows2)
    lane.advance()
    _feed(spark, lane, rows3)
    lane.advance()
    got = {r.doc_id: r.is_duplicate for r in lane.verdicts().collect()}
    # doc 20 arrives past the horizon -> doc 10 evicted, 20 KEPT;
    # doc 30 arrives 4s after 20 -> dropped against 20
    assert got == {10: False, 20: False, 30: True}
    drops = {(r.doc_a, r.doc_b) for r in lane.drops().collect()}
    assert drops == {(20, 30)}


def test_unbounded_retention_keeps_the_full_horizon(spark, tmp_path):
    base = " ".join(f"w{i}" for i in range(25))
    lane = NearDupStreaming(spark, str(tmp_path / "nottl"))
    _feed(spark, lane, [(10, base, 0.0)])
    lane.advance()
    _feed(spark, lane, [(20, base, 1000.0)])
    lane.advance()
    got = {r.doc_id: r.is_duplicate for r in lane.verdicts().collect()}
    assert got == {10: False, 20: True}


def test_probe_depth_one_matches_unbounded_on_dup_cluster_corpus(spark, sf_dir, tmp_path):
    """probe_depth=1 (the reference-shaped first-arrival-representative
    scheme — linear candidate volume) produces the same verdicts as the
    exact greedy twin on a dup-cluster-shaped corpus: the fixture's
    planted near-dups all verify against their bucket representative."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = [
        (int(r.doc_id), r.text, float(r.doc_id))
        for r in docs.orderBy("doc_id").collect()
    ]
    lane = NearDupStreaming(spark, str(tmp_path / "rep"), probe_depth=1)
    _feed(spark, lane, rows)
    lane.advance()
    got = {(r.doc_id, r.is_duplicate) for r in lane.verdicts().collect()}
    want = {
        (r.doc_id, r.is_duplicate)
        for r in dedup.greedy_keep(docs).collect()
    }
    assert got == want


# -- bucket-processor unit tests (fake state handle, no streaming query) ----
class _FakeState:
    def __init__(self, blob=None):
        self.exists = blob is not None
        self.get = (blob,) if blob is not None else None
        self.updated = None
        self.removed = False

    def update(self, tup):
        self.updated = tup[0]

    def remove(self):
        self.removed = True


def _pairs(out_pdf):
    return list(zip(out_pdf["doc_a"].tolist(), out_pdf["doc_b"].tolist()))


def test_bucket_fn_orders_across_arrow_chunks():
    """A group spanning multiple Arrow chunks must be sorted as ONE
    sequence: the earlier-ts doc is doc_a even when it arrives in the
    LATER chunk (the per-chunk-sort regression)."""
    import pandas as pd

    from responsive_pub_spark.streaming.dedup_stream import _make_bucket_fn

    run = _make_bucket_fn(retention=None, probe_depth=None)
    chunk1 = pd.DataFrame({"doc_id": [9], "ts": [9.0]})
    chunk2 = pd.DataFrame({"doc_id": [5], "ts": [5.0]})
    st = _FakeState()
    (out,) = run((0, 0), iter([chunk1, chunk2]), st)
    # global order is ts: 5 first, 9 second -> pair (5, 9), never (9, 5)
    assert _pairs(out) == [(5, 9)]
    assert st.updated is not None and not st.removed


def test_bucket_fn_eviction_is_reachable():
    """A late straggler older than (bucket max_ts - retention) ages out
    immediately — including itself — so a bucket whose members ALL aged
    out removes its state entry entirely."""
    import pickle

    import pandas as pd

    from responsive_pub_spark.streaming.dedup_stream import _make_bucket_fn

    run = _make_bucket_fn(retention=10.0, probe_depth=None)
    # prior state: one member at ts=50, bucket max_ts=100 (member already
    # outside the horizon but kept because its bucket was never touched)
    blob = pickle.dumps(([(1, 50.0)], 100.0))
    st = _FakeState(blob)
    (out,) = run((0, 0), iter([pd.DataFrame({"doc_id": [2], "ts": [5.0]})]), st)
    # the stale member was pruned before probing -> no candidate pairs;
    # the straggler itself is outside the horizon -> bucket evicts
    assert _pairs(out) == []
    assert st.removed and st.updated is None


def test_bucket_fn_probe_depth_caps_candidates():
    import pandas as pd

    from responsive_pub_spark.streaming.dedup_stream import _make_bucket_fn

    run = _make_bucket_fn(retention=None, probe_depth=1)
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "ts": [1.0, 2.0, 3.0, 4.0]}
    )
    st = _FakeState()
    (out,) = run((0, 0), iter([pdf]), st)
    # every arrival probes ONLY the first member: linear candidate volume
    assert _pairs(out) == [(1, 2), (1, 3), (1, 4)]


def test_continuous_mode_reaps_untouched_buckets(spark, tmp_path):
    """r9 VERDICT task 5: prune-on-access can never evict a bucket that is
    never touched again — on a continuous runner those leak forever. With
    continuous=True the bucket stage watermarks the signature stream and
    arms an event-time timer at (last touch + retention): doc 10's buckets
    share no vocabulary with anything later, so nothing ever touches them
    again, yet their state entries must be GONE once the watermark passes
    the horizon."""
    import pickle

    txt_a = " ".join(f"alpha{i}" for i in range(25))
    txt_b = " ".join(f"beta{i}" for i in range(25))
    txt_c = " ".join(f"gamma{i}" for i in range(25))
    wd = str(tmp_path / "cont")
    lane = NearDupStreaming(spark, wd, retention=10.0, continuous=True)
    _feed(spark, lane, [(10, txt_a, 0.0)])
    lane.advance()          # watermark after this batch: max(0 - 10, 0) = 0
    _feed(spark, lane, [(20, txt_b, 1000.0)])
    lane.advance()          # watermark advances to 990s
    _feed(spark, lane, [(30, txt_c, 2000.0)])
    lane.advance()          # batch runs at wm=990 > doc-10 timers (10s): reap

    def live_doc_ids():
        state = spark.read.format("statestore").load(lane.ck_cand)
        ids = set()
        for r in state.select("value").collect():
            members, _max_ts = pickle.loads(bytes(r.value.groupState.blob))
            ids.update(m[0] for m in members)
        return ids

    # after the drain the no-data finishing batch runs at watermark
    # 2000-10=1990s: doc 10 (timer 10s) AND doc 20 (timer 1010s) are both
    # past their horizon and reaped; doc 30 (timer 2010s) survives
    live = live_doc_ids()
    assert live == {30}, live

    # semantics: all three docs are distinct texts -> all kept
    got = {r.doc_id: r.is_duplicate for r in lane.verdicts().collect()}
    assert got == {10: False, 20: False, 30: False}

    # a dup of the reaped doc is a FIRST arrival again (state was reaped,
    # exactly the retention contract the prune-on-access path already has)
    _feed(spark, lane, [(40, txt_a, 2001.0)])
    lane.advance()
    got = {r.doc_id: r.is_duplicate for r in lane.verdicts().collect()}
    assert got[40] is False


def test_continuous_mode_requires_retention(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="retention"):
        NearDupStreaming(spark, str(tmp_path / "x"), continuous=True)
