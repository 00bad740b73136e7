"""The two pieces every PAPI lane shares, without Spark: the per-key body
``state._run_key`` (init, restored timer fires, replay, wall-clock fire
in streaming only, close) and the named-store blob codec the GroupState
lane writes and ``iq`` reads."""

from __future__ import annotations

import pickle

import pandas as pd

from responsive_pub_spark.streaming import state
from responsive_pub_spark.streaming.segstore import SegmentedKeyValueStore

INF = float("inf")


class _Timers(state.Processor):
    """A 10 s STREAM_TIME punctuator and an every-batch WALL_CLOCK one;
    both forward their fire time."""

    def init(self, ctx):
        self.stream = ctx.schedule(10.0, self._tick, state.STREAM_TIME)
        self.wall = ctx.schedule(0, self._wall, state.WALL_CLOCK)

    def _tick(self, ctx, ts):
        ctx.forward(kind="stream", at=ts)

    def _wall(self, ctx, now):
        ctx.forward(kind="wall", at=now)

    def process(self, ctx, rec):
        ctx.forward(kind="rec", at=rec["ts"])


def _frame(*ts: float) -> pd.DataFrame:
    return pd.DataFrame({"ts": [float(t) for t in ts]})


def _run(frames, proc=None, **kw):
    proc = proc or _Timers()
    ctx = state.ProcessorContext(("k",), state.KeyValueStore())
    fires = state._run_key(proc, ctx, frames, "ts", (), **kw)
    return [(r["kind"], r["at"]) for r in ctx.emitted()], fires


def test_batch_body_never_fires_wall_clock():
    got, fires = _run([_frame(5, 25)])
    assert got == [
        ("rec", 5.0), ("stream", 10.0), ("stream", 20.0), ("rec", 25.0)
    ]
    assert fires[0] == [30.0]


def test_streaming_body_fires_wall_clock_once_after_replay():
    got, _fires = _run([_frame(5), _frame(25)], now=1234.5)
    assert got == [
        ("rec", 5.0), ("stream", 10.0), ("stream", 20.0), ("rec", 25.0),
        ("wall", 1234.5),
    ]


def test_restored_fire_times_are_honoured():
    # restored next fire 30: the record at 5 does not re-arm the timer at
    # 10, and the record at 35 fires at 30 only
    got, fires = _run([_frame(5, 35)], fires=([30.0], []))
    assert got == [("rec", 5.0), ("stream", 30.0), ("rec", 35.0)]
    assert fires[0] == [40.0]


def test_cancelled_timers_stay_cancelled():
    # a cancelled fire time restores as cancelled
    got, fires = _run([_frame(5, 1e6)], fires=([INF], [INF]), now=99.0)
    assert got == [("rec", 5.0), ("rec", 1e6)]
    assert fires == ([INF], [INF])

    class _CancelBoth(_Timers):
        def init(self, ctx):
            super().init(ctx)
            self.stream.cancel()
            self.wall.cancel()

    got, fires = _run([_frame(5, 25)], proc=_CancelBoth(), now=99.0)
    assert got == [("rec", 5.0), ("rec", 25.0)]
    assert fires == ([INF], [INF])


def _ctx_with_named_store():
    ctx = state.ProcessorContext(("k",), SegmentedKeyValueStore())
    ctx.store.put("n", 1)
    ctx.get_store("named").put("x", 2)
    return ctx


def test_codec_round_trips_default_and_named_stores():
    ctx = _ctx_with_named_store()
    primary = ctx.store.to_blob()
    raw = state._pack_store_blobs(primary, ctx)
    assert state._open_store_blob(raw, "default") == primary
    named, _f, _w = SegmentedKeyValueStore.from_blob(
        state._open_store_blob(raw, "named")
    )
    assert named.get("x") == 2
    assert state._unpack_store_blobs(raw) == (
        primary, {"named": state._open_store_blob(raw, "named")}
    )


def test_codec_single_store_blob_serves_only_default():
    ctx = state.ProcessorContext(("k",), SegmentedKeyValueStore())
    ctx.store.put("n", 1)
    primary = ctx.store.to_blob()
    raw = state._pack_store_blobs(primary, ctx)
    assert raw is primary  # no named store: the primary blob alone
    assert state._open_store_blob(raw, "default") is primary
    assert state._open_store_blob(raw, "named") is None


def test_codec_unknown_store_name_gives_none():
    ctx = _ctx_with_named_store()
    raw = state._pack_store_blobs(ctx.store.to_blob(), ctx)
    assert state._open_store_blob(raw, "nope") is None


def test_codec_passes_untouched_restored_blob_through(monkeypatch):
    untouched = b"bytes the codec must not decode"
    ctx = _ctx_with_named_store()
    ctx._extra_blobs = {"old": untouched}
    primary = ctx.store.to_blob()
    packed = []
    real_dumps = pickle.dumps

    def spy(obj, *a, **k):
        packed.append(obj)
        return real_dumps(obj, *a, **k)

    monkeypatch.setattr(state.pickle, "dumps", spy)
    raw = state._pack_store_blobs(primary, ctx)
    monkeypatch.undo()
    assert packed[-1][1]["old"] is untouched  # identity: not re-pickled
    assert state._open_store_blob(raw, "old") == untouched
