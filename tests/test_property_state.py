"""Property-based tests (hypothesis): the KV store against a dict+sort
model, and the session processor against an independent gap-island model —
randomized analogs of the reference's store unit tests
(CommitBufferTest / SizeTrackingBufferTest style)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

import pytest

from responsive_pub_spark.operators.windows_papi import SessionAggregateProcessor
from responsive_pub_spark.streaming.segstore import SegmentedKeyValueStore
from responsive_pub_spark.streaming.state import (
    KeyValueStore,
    ProcessorContext,
)

keys = st.text(alphabet="abcde", min_size=1, max_size=3)
ops = st.lists(
    st.one_of(
        st.tuples(st.just("put"), keys, st.integers(0, 100)),
        st.tuples(st.just("delete"), keys, st.none()),
        st.tuples(st.just("put_if_absent"), keys, st.integers(0, 100)),
        # segstore-only: a micro-batch boundary (flush + lazy restore)
        st.tuples(st.just("flush"), keys, st.none()),
    ),
    max_size=60,
)


@pytest.mark.parametrize("store_cls", [KeyValueStore, SegmentedKeyValueStore])
@settings(max_examples=200, deadline=None)
@given(op_seq=ops)
def test_kv_store_matches_dict_model(store_cls, op_seq):
    store, model = store_cls(), {}
    for op, k, v in op_seq:
        if op == "put":
            store.put(k, v)
            model[k] = v
        elif op == "delete":
            assert store.delete(k) == model.pop(k, None)
        elif op == "flush":
            if store_cls is SegmentedKeyValueStore:
                store, _, _ = SegmentedKeyValueStore.from_blob(store.to_blob())
        else:
            prior = store.put_if_absent(k, v)
            assert prior == model.get(k)
            model.setdefault(k, v)
    assert dict(store.all()) == model
    assert [k for k, _ in store.all()] == sorted(model)
    if store_cls is KeyValueStore:
        assert store.approximate_num_entries() == len(model)
    else:
        # approximate by contract: layered overwrites may overcount until
        # compaction; never undercounts live entries
        assert store.approximate_num_entries() >= len(model)
        store.compact()
        assert store.approximate_num_entries() == len(model)
    if model:
        lo, hi = min(model), max(model)
        assert dict(store.range(lo, hi)) == model


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 500), min_size=1, max_size=40),
    st.integers(1, 50),
)
def test_session_processor_matches_island_model(ts_list, gap):
    """Final sessions from ts-ordered replay == gap-island partition of the
    sorted timestamps (sessions split where consecutive gap > `gap`)."""
    ts_sorted = sorted(ts_list)
    # independent island model
    islands, cur = [], [ts_sorted[0]]
    for t in ts_sorted[1:]:
        if t - cur[-1] > gap:
            islands.append(cur)
            cur = [t]
        else:
            cur.append(t)
    islands.append(cur)
    expected = {
        (float(i[0]), float(i[-1])): len(i) for i in islands
    }

    proc = SessionAggregateProcessor(
        gap=gap, init=0, agg=lambda a, v: a + 1, merger=lambda a, b: a + b
    )
    ctx = ProcessorContext(("k",), KeyValueStore())
    proc.init(ctx)
    for t in ts_sorted:
        ctx._advance(float(t))
        proc.process(ctx, {"v": 1})
    # final = last emission per (start, end) that is not a tombstone, and
    # whose (start,end) was never replaced later
    final: dict = {}
    for r in ctx.emitted():
        k = (r["session_start"], r["session_end"])
        if r["agg"] is None:
            final.pop(k, None)
        else:
            final[k] = r["agg"]
    assert final == expected


class _FakeMapState:
    """In-process stand-in for pyspark's TWS MapState handle (same method
    surface the adapter uses): lets the TwsMapStateStore adapter run under
    hypothesis without a streaming query."""

    def __init__(self):
        self._m: dict = {}

    def updateValue(self, key, value):
        self._m[key[0]] = tuple(value)

    def getValue(self, key):
        return self._m.get(key[0])

    def containsKey(self, key):
        return key[0] in self._m

    def removeKey(self, key):
        self._m.pop(key[0], None)

    def iterator(self):
        return (((k,), v) for k, v in self._m.items())

    def keys(self):
        return (((k,),) for k in self._m)


@settings(max_examples=200, deadline=None)
@given(op_seq=ops)
def test_tws_map_store_matches_dict_model(op_seq):
    """The adapter carries a write-back batch cache (r5): reads/writes are
    absorbed in-process and ``flush()`` commits touched entries to the
    backing MapState — a "flush" op here is a MICRO-BATCH BOUNDARY: flush,
    then reopen a FRESH adapter over the same backing map (exactly what
    the next batch's handleInputRows does) and the committed state must
    equal the model."""
    from responsive_pub_spark.streaming.state import TwsMapStateStore

    ms = _FakeMapState()
    store, model = TwsMapStateStore(ms), {}
    for op, k, v in op_seq:
        if op == "put":
            store.put(k, v)
            model[k] = v
        elif op == "delete":
            assert store.delete(k) == model.pop(k, None)
        elif op == "flush":
            store.flush()
            store = TwsMapStateStore(ms)  # next micro-batch's adapter
            assert dict(store.all()) == model
        else:
            prior = store.put_if_absent(k, v)
            assert prior == model.get(k)
            model.setdefault(k, v)
    assert dict(store.all()) == model
    assert [k for k, _ in store.all()] == sorted(model)
    assert store.approximate_num_entries() == len(model)
    if model:
        lo, hi = min(model), max(model)
        assert dict(store.range(lo, hi)) == model
        assert list(store.reverse_all()) == list(reversed(list(store.all())))
        some = sorted(model)[0]
        assert dict(store.prefix(some)) == {
            k: v for k, v in model.items() if k.startswith(some)
        }
    # end-of-batch commit: the backing map holds exactly the model
    store.flush()
    committed = {
        __import__("pickle").loads(kb): __import__("pickle").loads(vb)
        for kb, (vb, _ts) in ms._m.items()
    }
    assert committed == model


# ---------------------------------------------------------------------------
# VersionedKeyValueStore vs a brute-force version-list model
# ---------------------------------------------------------------------------

vkeys = st.text(alphabet="xy", min_size=1, max_size=2)
vts = st.integers(0, 50)
vops = st.lists(
    st.one_of(
        st.tuples(st.just("put"), vkeys, vts, st.integers(0, 9)),
        st.tuples(st.just("delete"), vkeys, vts, st.none()),
        st.tuples(st.just("asof"), vkeys, vts, st.none()),
        st.tuples(st.just("get"), vkeys, st.none(), st.none()),
        # checkpoint boundary: dump + load must be observationally identity
        st.tuples(st.just("reload"), vkeys, st.none(), st.none()),
    ),
    max_size=60,
)


def _model_asof(hist: dict, k, ts):
    """Brute-force as-of over a {key: {ts: value}} model (None=tombstone)."""
    versions = sorted(hist.get(k, {}).items())
    versions = [(t, v) for t, v in versions if t <= ts]
    if not versions:
        return None
    t, v = versions[-1]
    if v is None:
        return None
    later = sorted(t2 for t2 in hist.get(k, {}) if t2 > t)
    return (v, t, later[0] if later else None)


@settings(max_examples=200, deadline=None)
@given(op_seq=vops)
def test_versioned_store_matches_model(op_seq):
    from responsive_pub_spark.streaming.state import VersionedKeyValueStore

    store, hist = VersionedKeyValueStore(), {}
    for op, k, ts, v in op_seq:
        if op == "put":
            store.put(k, v, ts)
            hist.setdefault(k, {})[ts] = v
        elif op == "delete":
            expect_prev = _model_asof(hist, k, ts)
            got = store.delete(k, ts)
            assert got == (None if expect_prev is None else expect_prev[0])
            hist.setdefault(k, {})[ts] = None
        elif op == "asof":
            assert store.get_asof(k, ts) == _model_asof(hist, k, ts)
        elif op == "get":
            versions = sorted(hist.get(k, {}).items())
            expect = versions[-1][1] if versions else None
            assert store.get(k) == expect
        else:  # reload
            store = VersionedKeyValueStore.load(store.dump())
    # final full-surface sweep
    for k in hist:
        for ts in range(0, 51, 7):
            assert store.get_asof(k, ts) == _model_asof(hist, k, ts)


@given(
    entries=st.lists(
        st.tuples(st.text(alphabet="abcdef", min_size=1, max_size=2),
                  st.integers(0, 15)),
        max_size=40,
    ),
    key_from=st.text(alphabet="abcdef", min_size=1, max_size=2),
    key_to=st.text(alphabet="abcdef", min_size=1, max_size=2),
    t_from=st.integers(0, 15),
    t_to=st.integers(0, 15),
)
@settings(max_examples=200, deadline=None)
def test_window_store_key_range_matches_bruteforce_model(
    entries, key_from, key_to, t_from, t_to
):
    """fetch(keyFrom, keyTo, tFrom, tTo) (RemoteWindowOperations.java:333)
    against the brute-force filter-everything model: same entries, same
    (key, window_start) order, all bounds inclusive — including empty and
    inverted ranges."""
    from responsive_pub_spark.streaming.state import WindowStore

    ws = WindowStore(KeyValueStore())
    for k, s in entries:
        ws.put(k, float(s), f"{k}@{s}")  # duplicate puts overwrite, like KS
    got = list(ws.fetch_key_range(key_from, key_to, float(t_from), float(t_to)))
    model = sorted(
        ((k, s), v)
        for (k, s), v in ws.all()
        if key_from <= k <= key_to and t_from <= s <= t_to
    )
    assert got == model
    assert list(
        ws.backward_fetch_key_range(key_from, key_to, float(t_from), float(t_to))
    ) == list(reversed(model))


# ---------------------------------------------------------------------------
# _replay vs the pandas replay it replaced (sort_values + itertuples)
# ---------------------------------------------------------------------------


def _pandas_replay(pdf, ts_col, order_by, arrival_col):
    """The replay order and records as pandas gives them: a stable
    mergesort with missing values last, then itertuples."""
    import numpy as np

    cols = list(pdf.columns)
    if arrival_col is not None:
        order = [arrival_col]
    else:
        order = [ts_col, *[c for c in order_by if c != ts_col]]
    pdf = pdf.sort_values(order, kind="mergesort")
    if str(pdf[ts_col].dtype).startswith("datetime64"):
        ts_vals = pdf[ts_col].astype("datetime64[ns]").astype("int64").to_numpy() / 1e9
    else:
        ts_vals = pdf[ts_col].astype("float64").to_numpy()
    return [
        (float(t), dict(zip(cols, row)))
        for t, row in zip(np.asarray(ts_vals), pdf.itertuples(index=False, name=None))
    ]


def _same(a, b) -> bool:
    """Equal value of the same type; NaN/NaT equal themselves."""
    if type(a) is not type(b):
        return False
    if a is None:
        return True
    eq = a == b
    return bool(eq) or (a != a and b != b)


_nan = float("nan")
_ts_kinds = ("float64", "int64", "datetime64[us]", "datetime64[ns]")


@st.composite
def _replay_frames(draw):
    import numpy as np
    import pandas as pd

    n = draw(st.integers(1, 7))
    col = lambda elems: draw(st.lists(elems, min_size=n, max_size=n))  # noqa: E731
    kind = draw(st.sampled_from(_ts_kinds))
    if kind == "float64":
        ts = np.array(col(st.sampled_from([0.0, -0.0, 1.5, 2.0, 1e12 + 0.5, _nan])))
    elif kind == "int64":
        ts = np.array(col(st.integers(-3, 3)), dtype="int64")
    else:  # a few seconds apart, sub-second digits that round in /1e9
        ts = np.array(
            col(st.sampled_from([0, 1_000_001, 1_000_001, 1_700_000_000_123_457])),
            dtype="datetime64[us]",
        ).astype(kind)
    pdf = pd.DataFrame({
        "ts": ts,
        # ties on purpose: small alphabets, and None and NaN in the keys
        "a": col(st.sampled_from(["x", "y", "xy", None, _nan])),
        "b": np.array(col(st.sampled_from([0.0, 1.0, -2.5, _nan])), dtype="float64"),
        "c": col(st.integers(0, 2)),
        "arrival": col(st.integers(0, 3)),
        "payload": [f"p{i}" for i in range(n)],
    })
    if draw(st.booleans()):  # numeric-only frames too: ints stay ints
        pdf = pdf.drop(columns=["a", "payload"])
    if draw(st.booleans()):
        pdf["headers"] = col(st.one_of(
            st.none(),
            st.lists(st.fixed_dictionaries({
                "key": st.sampled_from(["h1", "h2"]),
                "value": st.binary(max_size=2),
            }), max_size=2),
        ))
    order_by = draw(st.lists(
        st.sampled_from([c for c in ("a", "b", "c", "ts") if c in pdf]), unique=True
    ))
    arrival = draw(st.sampled_from([None, "arrival"]))
    return pdf, order_by, arrival


@settings(max_examples=400, deadline=None)
@given(case=_replay_frames())
def test_replay_feeds_records_exactly_like_pandas_sort_and_itertuples(case):
    """``_replay`` walks plain row lists instead of sorting and iterating
    a DataFrame: the processor must still see the same records, in the
    same order, with the same values AND types, the same stream time, and
    the same ``ctx.headers`` — for 1-row and multi-row groups, ties, None
    and NaN in the order columns, float/int/datetime64[us|ns] time and
    arrival order."""
    from responsive_pub_spark.streaming.state import Processor, _replay

    pdf, order_by, arrival = case

    class _Record(Processor):
        def __init__(self):
            self.seen = []

        def process(self, ctx, rec):
            self.seen.append((ctx.timestamp, rec, ctx.headers))

    proc = _Record()
    ctx = ProcessorContext(("k",), KeyValueStore())
    _replay(proc, ctx, pdf.copy(), "ts", order_by, arrival)
    want = _pandas_replay(pdf, "ts", order_by, arrival)

    assert len(proc.seen) == len(want)
    for (ts, rec, headers), (want_ts, want_rec) in zip(proc.seen, want):
        assert _same(ts, want_ts), (ts, want_ts)
        assert list(rec) == list(want_rec)
        for c in want_rec:
            assert _same(rec[c], want_rec[c]), (c, rec[c], want_rec[c])
        if "headers" in want_rec:
            assert headers is rec["headers"]


def test_replay_keeps_the_missing_order_column_error():
    """A misspelled order column fails for a 1-row group too, not only
    when a group is big enough to need sorting."""
    import pandas as pd

    from responsive_pub_spark.streaming.state import Processor, _replay

    ctx = ProcessorContext(("k",), KeyValueStore())
    with pytest.raises(KeyError, match="nope"):
        _replay(Processor(), ctx, pd.DataFrame({"ts": [1.0]}), "ts", ["nope"])


def test_streaming_lane_shares_one_empty_output_frame():
    """Buckets whose keys forward nothing get the lane's one schema-typed
    empty frame, built once per closure instead of once per bucket."""
    import pandas as pd

    from responsive_pub_spark.streaming import state as st_mod

    class _State:
        exists, blob = False, None

        def update(self, value):
            self.blob = value[0]

    class _Silent(st_mod.Processor):
        def process(self, ctx, rec):
            pass

    fn = st_mod._group_state_fn(
        st_mod._bucket_body(["k"], ["o"], _Silent, "ts", (), None),
        "k STRING, n BIGINT",
    )
    frame = pd.DataFrame({"k": ["a"], "ts": [1.0]})
    out1 = list(fn((0,), iter([frame]), _State()))
    out2 = list(fn((1,), iter([frame]), _State()))
    assert len(out1) == len(out2) == 1
    assert out1[0] is out2[0]
    assert list(out1[0].columns) == ["k", "n"] and out1[0].empty
