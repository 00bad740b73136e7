"""Keyed/range/prefix interactive queries over a live checkpointed
processor store — the StoreQueryIntegrationTest.java:145 surface (point and
range queries against the store, not a dump-everything client scan)."""

from __future__ import annotations

import pytest

from responsive_pub_spark.streaming import iq, state
from responsive_pub_spark.streaming.runtime import TopologyTestDriver

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


@pytest.fixture
def workdir(tmp_path):
    return str(tmp_path / "topology")


def _make_multi_store():
    class MultiKey(state.Processor):
        """Writes several store keys per group key: a counter at ('n',) and
        per-10s-bucket sums at ('w', bucket) — the WindowedKey-style layout
        range/prefix scans exist for."""

        def process(self, ctx, rec):
            ctx.store.put(("n",), (ctx.store.get(("n",)) or 0) + 1)
            b = ("w", float(int(ctx.timestamp // 10) * 10))
            ctx.store.put(b, (ctx.store.get(b) or 0) + int(rec["event_id"]))
            ctx.forward(user_id=int(rec["user_id"]), event_id=int(rec["event_id"]))

    return MultiKey


def _drive(spark, workdir):
    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], _make_multi_store(),
            "user_id BIGINT, event_id BIGINT",
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", build, workdir
    )
    drv.pipe(
        [
            {"user_id": 1, "event_id": 10, "ts": 5.0},
            {"user_id": 1, "event_id": 20, "ts": 15.0},
            {"user_id": 1, "event_id": 30, "ts": 25.0},
            {"user_id": 2, "event_id": 40, "ts": 5.0},
        ]
    )
    drv.advance()
    return drv


def test_point_range_prefix_queries(spark, workdir):
    drv = _drive(spark, workdir)
    ck = drv.checkpoint

    # point get: one group key, one store key — one blob unpickled
    pt = iq.query_processor_state(
        spark, ck, ["user_id"], group_keys=[1], store_key=("n",)
    ).collect()
    assert [(r.user_id, r.store_key, r.store_value) for r in pt] == [
        (1, "('n',)", "3")
    ]

    # range scan over the sorted ('w', bucket) keyspace — inclusive bounds
    rg = iq.query_processor_state(
        spark, ck, ["user_id"], group_keys=[1],
        store_key_from=("w", 0.0), store_key_to=("w", 10.0),
    ).collect()
    assert sorted((r.store_key, r.store_value) for r in rg) == [
        ("('w', 0.0)", "10"), ("('w', 10.0)", "20")
    ]

    # prefix scan: every window bucket of key 1, no counter row
    pf = iq.query_processor_state(
        spark, ck, ["user_id"], group_keys=[1], store_key_prefix=("w",)
    ).collect()
    assert sorted((r.store_key, r.store_value) for r in pf) == [
        ("('w', 0.0)", "10"), ("('w', 10.0)", "20"), ("('w', 20.0)", "30")
    ]

    # group-key pruning: key-2 blobs never reach the decode path
    assert all(r.user_id == 1 for r in pt + rg + pf)
    other = iq.query_processor_state(
        spark, ck, ["user_id"], group_keys=[2], store_key_prefix=("w",)
    ).collect()
    assert [(r.user_id, r.store_value) for r in other] == [(2, "40")]

    # full-scan view still works (store.all() across keys)
    allrows = iq.query_processor_state(spark, ck, ["user_id"]).collect()
    assert len(allrows) == 4 + 2  # key1: n + 3 buckets; key2: n + 1 bucket
    drv.close()


def test_window_store_fetch_iq(spark, workdir):
    """Windowed-store IQ parity (r4 VERDICT missing #5): a checkpointed
    WindowStore composition serves the KS ``fetch(key, from, to)`` /
    ``fetchAll`` surface FIRST-CLASS via iq.query_window_store — keyed
    fetch prunes with the sorted tuple-prefix scan, the time bound filters
    window_start, and group-key pruning keeps foreign blobs unshipped."""

    def make_windowed():
        class WindowedSum(state.Processor):
            """10s tumbling per-key sums through the WindowStore surface
            (RemoteWindowOperations put:290/fetch:315)."""

            def init(self, ctx):
                self.ws = state.WindowStore(ctx.store)

            def process(self, ctx, rec):
                start = float(int(ctx.timestamp // 10) * 10)
                cur = self.ws.fetch("s", start) or 0
                self.ws.put("s", start, cur + int(rec["event_id"]))
                ctx.forward(
                    user_id=int(rec["user_id"]), event_id=int(rec["event_id"])
                )

        return WindowedSum

    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], make_windowed(),
            "user_id BIGINT, event_id BIGINT",
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", build, workdir
    )
    drv.pipe(
        [
            {"user_id": 1, "event_id": 10, "ts": 5.0},
            {"user_id": 1, "event_id": 20, "ts": 15.0},
            {"user_id": 1, "event_id": 30, "ts": 25.0},
            {"user_id": 2, "event_id": 40, "ts": 5.0},
        ]
    )
    drv.advance()
    ck = drv.checkpoint

    # fetch(key='s', from=10, to=15): user 1's middle window only (KS
    # fetch bounds are INCLUSIVE on both ends — to=20 would include the
    # window starting at 20)
    got = iq.query_window_store(
        spark, ck, ["user_id"], window_key="s", ts_from=10.0, ts_to=15.0,
        group_keys=[1],
    ).collect()
    assert [(r.user_id, r.window_start, r.store_value) for r in got] == [
        (1, 10.0, "20")
    ]

    # fetch(key, from, to) across the full span: all of user 1's windows
    got = iq.query_window_store(
        spark, ck, ["user_id"], window_key="s", group_keys=[1]
    ).collect()
    assert {(r.window_start, r.store_value) for r in got} == {
        (0.0, "10"), (10.0, "20"), (20.0, "30")
    }

    # fetchAll(from, to): every key's windows in the bound
    got = iq.query_window_store(
        spark, ck, ["user_id"], ts_from=0.0, ts_to=5.0
    ).collect()
    assert {(r.user_id, r.window_start, r.store_value) for r in got} == {
        (1, 0.0, "10"), (2, 0.0, "40")
    }
    drv.close()


def test_window_store_key_range_fetch_iq(spark, workdir):
    """Key-range windowed fetch over a checkpointed composition —
    ``fetch(keyFrom, keyTo, tFrom, tTo)``
    (internal/stores/RemoteWindowOperations.java:333) served by
    iq.query_window_store(window_key_from=, window_key_to=): one sorted
    tuple-range scan bounded on the major (store-key) component, with the
    time bound filtering window_start; store keys outside the range never
    surface even when their windows are in the time bound."""

    def make_bucketed():
        class BucketedCount(state.Processor):
            """10s tumbling counts bucketed under per-parity store keys
            ('even'/'odd' by event_id) — multiple store keys per group so
            a key-range scan has something to prune."""

            def init(self, ctx):
                self.ws = state.WindowStore(ctx.store)

            def process(self, ctx, rec):
                start = float(int(ctx.timestamp // 10) * 10)
                bucket = "even" if int(rec["event_id"]) % 2 == 0 else "odd"
                cur = self.ws.fetch(bucket, start) or 0
                self.ws.put(bucket, start, cur + 1)
                ctx.forward(
                    user_id=int(rec["user_id"]), event_id=int(rec["event_id"])
                )

        return BucketedCount

    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], make_bucketed(),
            "user_id BIGINT, event_id BIGINT",
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", build, workdir
    )
    drv.pipe(
        [
            {"user_id": 1, "event_id": 2, "ts": 5.0},
            {"user_id": 1, "event_id": 3, "ts": 6.0},
            {"user_id": 1, "event_id": 4, "ts": 15.0},
            {"user_id": 2, "event_id": 5, "ts": 5.0},
        ]
    )
    drv.advance()
    ck = drv.checkpoint

    # fetch(keyFrom='even', keyTo='odd', tFrom=0, tTo=20): both buckets,
    # all windows, both users
    got = iq.query_window_store(
        spark, ck, ["user_id"],
        window_key_from="even", window_key_to="odd",
        ts_from=0.0, ts_to=20.0,
    ).collect()
    assert {(r.user_id, r.window_key, r.window_start, r.store_value) for r in got} == {
        (1, "'even'", 0.0, "1"), (1, "'even'", 10.0, "1"),
        (1, "'odd'", 0.0, "1"), (2, "'odd'", 0.0, "1"),
    }

    # key range that EXCLUDES 'odd' ('even'..'every'): only even buckets
    got = iq.query_window_store(
        spark, ck, ["user_id"],
        window_key_from="even", window_key_to="every",
    ).collect()
    assert {(r.user_id, r.window_key, r.window_start) for r in got} == {
        (1, "'even'", 0.0), (1, "'even'", 10.0),
    }

    # time bound prunes within the key range (inclusive both ends)
    got = iq.query_window_store(
        spark, ck, ["user_id"],
        window_key_from="even", window_key_to="odd",
        ts_from=10.0, ts_to=10.0, group_keys=[1],
    ).collect()
    assert [(r.user_id, r.window_key, r.window_start) for r in got] == [
        (1, "'even'", 10.0)
    ]

    # half-open misuse is a loud error, not a silent full scan
    import pytest as _pytest

    with _pytest.raises(Exception, match="key-range"):
        iq.query_window_store(
            spark, ck, ["user_id"], window_key_from="even"
        ).collect()
    drv.close()


def test_session_store_find_sessions_iq(spark, workdir):
    """SessionStore IQ parity: findSessions(key, earliestEnd, latestStart)
    over a checkpointed composition — the KS merge-scan overlap bound
    (session_end >= earliestEnd AND session_start <= latestStart) served
    against the (key, start, end) SessionKey layout."""

    def make_sessions():
        class SessionWriter(state.Processor):
            """Gap-10 sessionizer through the SessionStore surface:
            extend-or-open per record (find overlapping, merge)."""

            def init(self, ctx):
                self.ss = state.SessionStore(ctx.store)

            def process(self, ctx, rec):
                t = float(ctx.timestamp)
                hits = list(self.ss.find_sessions("s", t - 10.0, t + 10.0))
                if hits:
                    (k_, ss_, se_), cnt = hits[0]
                    self.ss.delete("s", ss_, se_)
                    self.ss.put("s", min(ss_, t), max(se_, t), cnt + 1)
                else:
                    self.ss.put("s", t, t, 1)
                ctx.forward(
                    user_id=int(rec["user_id"]), event_id=int(rec["event_id"])
                )

        return SessionWriter

    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], make_sessions(),
            "user_id BIGINT, event_id BIGINT",
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", build, workdir
    )
    drv.pipe(
        [
            {"user_id": 1, "event_id": 1, "ts": 0.0},
            {"user_id": 1, "event_id": 2, "ts": 5.0},   # merges with ts=0
            {"user_id": 1, "event_id": 3, "ts": 40.0},  # new session
            {"user_id": 2, "event_id": 4, "ts": 100.0},
        ]
    )
    drv.advance()
    ck = drv.checkpoint

    # fetch(key): all of user 1's sessions
    got = iq.query_session_store(
        spark, ck, ["user_id"], session_key="s", group_keys=[1]
    ).collect()
    assert {(r.session_start, r.session_end, r.store_value) for r in got} == {
        (0.0, 5.0, "2"), (40.0, 40.0, "1")
    }

    # findSessions overlap bound: sessions alive in [3, 30] — only the
    # first (ends at 5 >= 3, starts at 0 <= 30; the 40-session starts late)
    got = iq.query_session_store(
        spark, ck, ["user_id"], session_key="s",
        earliest_end=3.0, latest_start=30.0, group_keys=[1],
    ).collect()
    assert [(r.session_start, r.session_end) for r in got] == [(0.0, 5.0)]

    # fetchAll: every key's sessions
    got = iq.query_session_store(spark, ck, ["user_id"]).collect()
    assert {(r.user_id, r.session_start) for r in got} == {
        (1, 0.0), (1, 40.0), (2, 100.0)
    }
    drv.close()
