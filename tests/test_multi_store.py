"""Named state stores per processor — the KS ``context.getStateStore(name)``
surface (a processor may attach several stores; each is an independent
PartitionedOperations keyspace). Covered: batch/streaming equivalence,
state continuity across availableNow restarts (every advance() is a cold
start), per-store IQ, and the multi-store blob's delta-passthrough
(an untouched store's bytes round-trip without re-pickling)."""

from __future__ import annotations

import pytest

from responsive_pub_spark.streaming import iq, state
from responsive_pub_spark.streaming.runtime import TopologyTestDriver

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


def _make_two_store():
    class TwoStore(state.Processor):
        """Counts per key in the default store; per-event-type counts in a
        named 'by_type' store; emits both."""

        def process(self, ctx, rec):
            n = (ctx.store.get("n") or 0) + 1
            ctx.store.put("n", n)
            by_type = ctx.get_store("by_type")
            t = str(rec["event_type"])
            tn = (by_type.get(t) or 0) + 1
            by_type.put(t, tn)
            ctx.forward(
                user_id=int(rec["user_id"]), total=n, type_name=t, type_cnt=tn
            )

    return TwoStore


SCHEMA_IN = "user_id LONG, event_type STRING, event_id LONG, ts DOUBLE"
SCHEMA_OUT = "user_id BIGINT, total BIGINT, type_name STRING, type_cnt BIGINT"

ROWS = [
    {"user_id": 1, "event_type": "click", "event_id": 1, "ts": 1.0},
    {"user_id": 1, "event_type": "view", "event_id": 2, "ts": 2.0},
    {"user_id": 1, "event_type": "click", "event_id": 3, "ts": 3.0},
    {"user_id": 2, "event_type": "view", "event_id": 4, "ts": 4.0},
]
EXPECTED = [
    (1, 1, "click", 1),
    (1, 2, "view", 1),
    (1, 3, "click", 2),
    (2, 1, "view", 1),
]


def test_batch_multi_store(spark):
    df = spark.createDataFrame([tuple(r.values()) for r in ROWS], SCHEMA_IN)
    out = state.process(
        df, ["user_id"], _make_two_store(), SCHEMA_OUT,
        ts_col="ts", order_by=("event_id",),
    )
    got = sorted((r.user_id, r.total, r.type_name, r.type_cnt) for r in out.collect())
    assert got == sorted(EXPECTED)


def test_streaming_multi_store_restarts_and_iq(spark, tmp_path):
    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], _make_two_store(), SCHEMA_OUT,
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(spark, SCHEMA_IN, build, str(tmp_path / "t"))
    # each row its own micro-batch == its own cold start from the checkpoint:
    # BOTH stores must survive every restart
    got = []
    for r in ROWS:
        drv.pipe([r])
        got += [
            (o.user_id, o.total, o.type_name, o.type_cnt) for o in drv.advance()
        ]
    assert sorted(got) == sorted(EXPECTED)

    # per-store IQ over the final checkpoint
    default = iq.query_processor_state(spark, drv.checkpoint, ["user_id"]).collect()
    assert sorted((r.user_id, r.store_key, r.store_value) for r in default) == [
        (1, "'n'", "3"), (2, "'n'", "1")
    ]
    by_type = iq.query_processor_state(
        spark, drv.checkpoint, ["user_id"], store_name="by_type"
    ).collect()
    assert sorted((r.user_id, r.store_key, r.store_value) for r in by_type) == [
        (1, "'click'", "2"), (1, "'view'", "1"), (2, "'view'", "1")
    ]
    # unknown store name: no rows, not an error
    assert (
        iq.query_processor_state(
            spark, drv.checkpoint, ["user_id"], store_name="nope"
        ).count()
        == 0
    )
    drv.close()


def test_untouched_named_store_blob_passes_through(monkeypatch):
    """Multi-store delta property at the blob level: a batch of the
    GroupState lane that only touches the default store re-emits the
    named store's restored blob byte-for-byte, without decoding it (no
    unpickle/re-pickle of the untouched store)."""
    import pandas as pd

    from responsive_pub_spark.streaming.segstore import SegmentedKeyValueStore

    big = SegmentedKeyValueStore()
    for i in range(50_000):
        big.put(i, i, ts=0.0)
    big.compact()
    big_blob = big.to_blob()
    primary = SegmentedKeyValueStore().to_blob()

    class _State:
        exists = True

        def __init__(self, blob):
            self.get = (blob,)

        def update(self, value):
            self.get = value

    class _DefaultOnly(state.Processor):
        def process(self, ctx, rec):
            ctx.store.put("n", (ctx.store.get("n") or 0) + 1)

    decoded = []
    from_blob = SegmentedKeyValueStore.from_blob.__func__

    def counting_from_blob(cls, blob, *a):
        decoded.append(blob)
        return from_blob(cls, blob, *a)

    monkeypatch.setattr(
        SegmentedKeyValueStore, "from_blob", classmethod(counting_from_blob)
    )
    fn = state._group_state_fn(
        state._bucket_body(["k"], ["o"], _DefaultOnly, "ts", (), None),
        "k STRING",
    )
    gs = _State(state._pack_bucket({
        ("a",): state._pack_store_blobs(
            primary, _ctx_with_blobs({"big": big_blob})
        ),
    }))
    list(fn((0,), iter([pd.DataFrame({"k": ["a"], "ts": [1.0]})]), gs))
    assert decoded == [primary]  # only the default store was restored
    payload = state._unpack_bucket(gs.get[0])[("a",)]
    assert state._open_store_blob(payload, "big") == big_blob
    monkeypatch.undo()

    # and once touched, it restores lazily and round-trips
    ctx = _ctx_with_blobs({"big": big_blob})
    st = ctx.get_store("big")
    assert st.get(42) == 42
    assert "big" not in ctx._extra_blobs  # blob consumed by the restore


def _ctx_with_blobs(blobs: dict) -> "state.ProcessorContext":
    from responsive_pub_spark.streaming.segstore import SegmentedKeyValueStore

    ctx = state.ProcessorContext(("k",), SegmentedKeyValueStore())
    ctx._extra_blobs = dict(blobs)
    return ctx


def test_get_store_default_is_primary():
    ctx = state.ProcessorContext(("k",), state.KeyValueStore())
    assert ctx.get_store("default") is ctx.store
    s1 = ctx.get_store("other")
    assert s1 is ctx.get_store("other") and s1 is not ctx.store
    # stream time propagates to named stores as records advance
    ctx._advance(42.0)
    assert s1.stream_time == 42.0


def _make_one_shot():
    class OneShot(state.Processor):
        """KS Cancellable pattern: a punctuator that fires once then
        cancels itself."""

        def init(self, ctx):
            self.handle = ctx.schedule(10.0, self._fire, state.STREAM_TIME)

        def _fire(self, ctx, ts):
            ctx.forward(user_id=int(ctx.key[0]), fired_at=float(ts))
            self.handle.cancel()

        def process(self, ctx, rec):
            pass

    return OneShot


def test_cancellable_one_shot_punctuator_batch(spark):
    df = spark.createDataFrame(
        [(1, float(t)) for t in (1, 11, 25, 47)], "user_id LONG, ts DOUBLE"
    )
    out = state.process(
        df, ["user_id"], _make_one_shot(), "user_id BIGINT, fired_at DOUBLE",
        ts_col="ts",
    ).collect()
    # fires exactly once (at the first 10s boundary), then stays cancelled
    assert [(r.user_id, r.fired_at) for r in out] == [(1, 10.0)]


def test_cancellable_cancellation_survives_streaming_restarts(spark, tmp_path):
    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], _make_one_shot(),
            "user_id BIGINT, fired_at DOUBLE", ts_col="ts",
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, ts DOUBLE", build, str(tmp_path / "t")
    )
    drv.pipe([{"user_id": 1, "ts": 1.0}, {"user_id": 1, "ts": 11.0}])
    out1 = [(r.user_id, r.fired_at) for r in drv.advance()]
    assert out1 == [(1, 10.0)]  # fired once in batch 0
    # batches 1-2 are cold restarts crossing MANY more 10s boundaries: the
    # cancellation must have persisted in the checkpointed fire list
    for ts in (95.0, 250.0):
        drv.pipe([{"user_id": 1, "ts": ts}])
        assert drv.advance() == []
    drv.close()
