"""Streaming semantics tests via TopologyTestDriver — the analog of the
reference's ResponsiveTopologyTestDriver unit tests plus its restart/EOS
integration tests (SURVEY.md §5): incremental input, watermark (grace) late
drops, and state continuity across checkpointed restarts."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from responsive_pub_spark.streaming import state
from responsive_pub_spark.streaming.runtime import TopologyTestDriver

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


@pytest.fixture
def workdir(tmp_path):
    return str(tmp_path)


def test_stateless_filter_incremental(spark, workdir):
    drv = TopologyTestDriver(
        spark,
        "user_id LONG, v LONG",
        lambda sdf: sdf.filter(F.col("v") % 2 == 0),
        workdir,
    )
    drv.pipe([{"user_id": 1, "v": 1}, {"user_id": 1, "v": 2}])
    out1 = drv.advance()
    assert [(r.user_id, r.v) for r in out1] == [(1, 2)]
    drv.pipe([{"user_id": 2, "v": 4}])
    out2 = drv.advance()  # only the NEW record — earlier files not reprocessed
    assert [(r.user_id, r.v) for r in out2] == [(2, 4)]
    drv.close()


def test_windowed_count_grace_drops_late(spark, workdir):
    """Late records older than the watermark are dropped — KS grace
    semantics (ResponsiveWindowStoreIntegrationTest.java:290-293 vectors:
    in-grace records count, beyond-grace records dropped)."""

    def build(sdf):
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count("*").alias("cnt"))
        )
        return agg.select(
            "user_id",
            F.unix_timestamp("window.start").alias("ws"),
            "cnt",
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, ts TIMESTAMP", build, workdir, output_mode="append"
    )
    from datetime import datetime as dt

    def t(x):
        return dt.fromisoformat(x)

    # batch 0: two on-time events in hour-0, one event far ahead (advances
    # event time to 02:30 -> watermark 02:20 from the NEXT batch on)
    drv.pipe(
        [
            {"user_id": 1, "ts": t("2024-01-01 00:05:00")},
            {"user_id": 1, "ts": t("2024-01-01 00:30:00")},
            {"user_id": 1, "ts": t("2024-01-01 02:30:00")},
        ]
    )
    # batch 1: eviction watermark is now 02:20 -> hour-0 emits here (cnt=2).
    # NOTE Spark filters late rows with the PREVIOUS trigger's watermark
    # (watermarkForLateEvents) and evicts with the current one, so the
    # late-drop horizon takes effect one micro-batch after the event-time
    # advance — a documented delta vs KS grace, which drops immediately.
    drv.pipe([{"user_id": 1, "ts": t("2024-01-01 02:35:00")}])
    # batch 2: a record 2h older than the watermark — DROPPED, and must NOT
    # resurrect the already-evicted hour-0 window as a spurious new row
    drv.pipe([{"user_id": 1, "ts": t("2024-01-01 00:10:00")}])
    rows = drv.advance()
    hour0 = [(r.ws, r.cnt) for r in rows if r.ws == 1704067200]
    # exactly one emission for hour-0, with exactly the 2 on-time events
    assert hour0 == [(1704067200, 2)], rows
    drv.close()


def test_suppress_until_window_closes_analog(spark, workdir, tmp_path):
    """KS ``suppress(untilWindowCloses)`` maps to Spark's APPEND output
    mode on a watermarked windowed agg: eager (UPDATE mode) re-emits a
    window's running count every batch it changes; suppressed (APPEND)
    emits EXACTLY ONE final row per window, after the watermark closes it.
    Same topology, two output modes — the suppression point is the sink
    contract, which is where KS puts it too."""

    def build(sdf):
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count("*").alias("cnt"))
        )
        return agg.select(
            "user_id", F.unix_timestamp("window.start").alias("ws"), "cnt"
        )

    from datetime import datetime as dt

    def t(x):
        return dt.fromisoformat(x)

    batches = [
        [{"user_id": 1, "ts": t("2024-01-01 00:05:00")}],
        [{"user_id": 1, "ts": t("2024-01-01 00:30:00")}],
        # advances the watermark far past hour-0 -> closes it
        [{"user_id": 1, "ts": t("2024-01-01 05:00:00")}],
        [{"user_id": 1, "ts": t("2024-01-01 05:10:00")}],
    ]
    HOUR0 = 1704067200

    def run(mode, wd):
        drv = TopologyTestDriver(
            spark, "user_id LONG, ts TIMESTAMP", build, wd, output_mode=mode
        )
        per_batch = []
        for rows in batches:
            drv.pipe(rows)
            per_batch.append(
                [(r.ws, r.cnt) for r in drv.advance() if r.ws == HOUR0]
            )
        drv.close()
        return per_batch

    eager = run("update", str(tmp_path / "eager"))
    suppressed = run("append", str(tmp_path / "suppressed"))

    # eager: hour-0 re-emitted with the running count each batch it changed
    assert eager[0] == [(HOUR0, 1)] and eager[1] == [(HOUR0, 2)]
    # suppressed: silent while open, exactly one FINAL row once closed
    assert suppressed[0] == [] and suppressed[1] == []
    assert [r for pb in suppressed for r in pb] == [(HOUR0, 2)]


def _make_counter():
    """Processor class built inside a function: cloudpickle serializes it by
    VALUE, so executor workers don't need to import this test module."""

    class Counter(state.Processor):
        def process(self, ctx, rec):
            n = (ctx.store.get("n") or 0) + 1
            ctx.store.put("n", n)
            ctx.forward(
                user_id=int(rec["user_id"]), event_id=int(rec["event_id"]), cnt=n
            )

    return Counter


def _build_counter(sdf):
    return state.process_streaming(
        sdf,
        ["user_id"],
        _make_counter(),
        "user_id BIGINT, event_id BIGINT, cnt BIGINT",
        ts_col="ts",
        order_by=("event_id",),
    )


def test_papi_state_survives_restart_exactly_once(spark, workdir):
    """Each advance() is a NEW streaming query restored from the checkpoint
    (restore-free recovery, SURVEY.md §3.2): per-key counts must continue,
    and no input may be double-counted — the EOS restart assertion of
    ResponsiveKeyValueStoreEosIntegrationTest."""
    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", _build_counter, workdir
    )
    drv.pipe(
        [
            {"user_id": 1, "event_id": 1, "ts": 1.0},
            {"user_id": 1, "event_id": 2, "ts": 2.0},
            {"user_id": 2, "event_id": 3, "ts": 2.5},
        ]
    )
    out1 = {(r.user_id, r.event_id): r.cnt for r in drv.advance()}
    assert out1 == {(1, 1): 1, (1, 2): 2, (2, 3): 1}

    # "crash": the query object is gone; a fresh one restores from checkpoint
    drv.pipe(
        [
            {"user_id": 1, "event_id": 4, "ts": 3.0},
            {"user_id": 2, "event_id": 5, "ts": 3.5},
        ]
    )
    out2 = {(r.user_id, r.event_id): r.cnt for r in drv.advance()}
    # counts CONTINUE from checkpointed state: exactly-once, no replay
    assert out2 == {(1, 4): 3, (2, 5): 2}

    # advance with no new input: nothing is re-emitted
    assert drv.advance() == []
    drv.close()


def test_papi_streaming_matches_batch(spark, workdir):
    """A/B: the same processor over the same records, batch replay vs
    incremental streaming with restarts, must agree — the regression-harness
    contract (ResultsComparatorService analog)."""
    batches = [
        [
            {"user_id": 1, "event_id": 1, "ts": 10.0},
            {"user_id": 2, "event_id": 2, "ts": 11.0},
        ],
        [
            {"user_id": 1, "event_id": 3, "ts": 12.0},
            {"user_id": 1, "event_id": 4, "ts": 13.0},
        ],
    ]
    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", _build_counter, workdir
    )
    for b in batches:
        drv.pipe(b)
        drv.advance()
    streaming_out = {(r.user_id, r.event_id): r.cnt for r in drv.all_output()}
    drv.close()

    batch_df = spark.createDataFrame(
        [r for b in batches for r in b], "user_id LONG, event_id LONG, ts DOUBLE"
    )
    batch_out = state.process(
        batch_df,
        ["user_id"],
        _make_counter(),
        "user_id BIGINT, event_id BIGINT, cnt BIGINT",
        ts_col="ts",
        order_by=("event_id",),
    )
    expected = {(r.user_id, r.event_id): r.cnt for r in batch_out.collect()}
    assert streaming_out == expected


def test_interactive_query_reads_live_store(spark, workdir):
    """IQ (SURVEY.md §2.9): query a running topology's store contents from
    the checkpoint — the StoreQueryIntegrationTest analog (range query over
    a store, :145), served by the statestore reader without stopping
    anything."""
    from responsive_pub_spark.streaming import iq

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", _build_counter, workdir
    )
    drv.pipe(
        [
            {"user_id": 1, "event_id": 1, "ts": 1.0},
            {"user_id": 1, "event_id": 2, "ts": 2.0},
            {"user_id": 2, "event_id": 3, "ts": 3.0},
        ]
    )
    drv.advance()
    st = iq.query_processor_state(spark, drv.checkpoint, ["user_id"])
    rows = {(r.user_id, r.store_key): r.store_value for r in st.collect()}
    assert rows == {(1, "'n'"): "2", (2, "'n'"): "1"}
    drv.close()


def _make_checksum():
    """AccumulatingChecksum analog (e2e-test/.../AccumulatingChecksum.java:
    20-48): per-key rolling digest over (event_id, value) proving order +
    completeness through restarts."""

    class Checksum(state.Processor):
        def process(self, ctx, rec):
            c = ctx.store.get("c") or 0
            c = (c * 31 + int(rec["event_id"])) % 1_000_000_007
            ctx.store.put("c", c)
            ctx.forward(user_id=int(rec["user_id"]), checksum=c)

    return Checksum


def test_checksum_chain_through_restarts(spark, workdir):
    """Chaos-harness contract (E2ETestDriver): the per-key checksum chain
    after N restarts equals the single-pass batch checksum — any dropped,
    duplicated, or reordered record would diverge."""

    def build(sdf):
        return state.process_streaming(
            sdf,
            ["user_id"],
            _make_checksum(),
            "user_id BIGINT, checksum BIGINT",
            ts_col="ts",
            order_by=("event_id",),
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", build, workdir
    )
    rows = [
        {"user_id": u, "event_id": u * 100 + i, "ts": float(i)}
        for u in (1, 2) for i in range(9)
    ]
    # feed in 3 chunks with a restart between each
    for chunk in (rows[0:6], rows[6:12], rows[12:18]):
        drv.pipe(chunk)
        drv.advance()
    final = {}
    for r in drv.all_output():
        final[r.user_id] = r.checksum  # last per key wins
    drv.close()

    batch = state.process(
        spark.createDataFrame(rows, "user_id LONG, event_id LONG, ts DOUBLE"),
        ["user_id"],
        _make_checksum(),
        "user_id BIGINT, checksum BIGINT",
        ts_col="ts",
        order_by=("event_id",),
    )
    expected = {}
    for r in batch.orderBy("user_id").collect():
        expected[r.user_id] = r.checksum
    assert final == expected


def test_session_window_streaming_merge_and_close(spark, workdir):
    """Session windows in streaming append mode: events within the gap merge
    into one session (start=first event, end=last event + gap); the session
    emits once the watermark passes its end
    (ResponsiveSessionStoreIntegrationTest session-merge semantics)."""

    def build(sdf):
        agg = (
            sdf.withWatermark("ts", "5 minutes")
            .groupBy(F.session_window("ts", "10 minutes"), "user_id")
            .agg(F.count("*").alias("cnt"))
        )
        return agg.select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("ss"),
            F.unix_timestamp("session_window.end").alias("se"),
            "cnt",
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, ts TIMESTAMP", build, workdir, output_mode="append"
    )
    from datetime import datetime as dt

    base = 1704067200  # 2024-01-01 00:00:00 UTC
    drv.pipe(
        [
            {"user_id": 1, "ts": dt.fromisoformat("2024-01-01 00:00:00")},
            {"user_id": 1, "ts": dt.fromisoformat("2024-01-01 00:05:00")},  # merges
            {"user_id": 1, "ts": dt.fromisoformat("2024-01-01 01:00:00")},  # new session
        ]
    )
    drv.pipe([{"user_id": 1, "ts": dt.fromisoformat("2024-01-01 02:00:00")}])
    rows = drv.advance()
    sessions = {(r.ss, r.se): r.cnt for r in rows}
    # first session: [00:00, 00:05+gap) with BOTH events merged
    assert sessions[(base, base + 5 * 60 + 10 * 60)] == 2
    # the 01:00 singleton also closed (watermark 01:55 > 01:10)
    assert sessions[(base + 3600, base + 3600 + 10 * 60)] == 1
    # the 02:00 session is still OPEN: not emitted
    assert (base + 7200, base + 7200 + 10 * 60) not in sessions
    drv.close()


def test_fact_store_dedup_streaming_across_restarts(spark, workdir):
    """FACT-store dedup in streaming: put_if_absent keeps the FIRST value
    per key across micro-batches AND restarts
    (ResponsiveStores.java:79-96 write-once facts; the dedup use case the
    FACT store exists for). Re-sends of a key emit nothing."""

    def make():
        class FactDedup(state.Processor):
            def process(self, ctx, rec):
                prior = ctx.store.put_if_absent(rec["k"], rec["event_id"])
                if prior is None:  # first sighting only
                    ctx.forward(k=rec["k"], event_id=int(rec["event_id"]))

        return FactDedup

    def build(sdf):
        return state.process_streaming(
            sdf, ["k"], make(), "k STRING, event_id BIGINT", ts_col="ts"
        )

    drv = TopologyTestDriver(
        spark, "k STRING, event_id LONG, ts DOUBLE", build, workdir
    )
    drv.pipe([
        {"k": "a", "event_id": 1, "ts": 1.0},
        {"k": "a", "event_id": 2, "ts": 2.0},  # duplicate key: suppressed
        {"k": "b", "event_id": 3, "ts": 3.0},
    ])
    out1 = [(r.k, r.event_id) for r in drv.advance()]
    assert sorted(out1) == [("a", 1), ("b", 3)]
    # restart; duplicates of already-seen keys still suppressed
    drv.pipe([
        {"k": "a", "event_id": 4, "ts": 4.0},
        {"k": "c", "event_id": 5, "ts": 5.0},
    ])
    out2 = [(r.k, r.event_id) for r in drv.advance()]
    assert sorted(out2) == [("c", 5)]
    drv.close()


def test_wall_clock_punctuator_fires_at_batch_boundary(spark, workdir):
    """Wall-clock punctuators fire at micro-batch boundaries in streaming
    (the commit-aligned approximation of KS WALL_CLOCK_TIME punctuation,
    documented delta); interval<=0 means every batch."""

    def make():
        class Snap(state.Processor):
            def init(self, ctx):
                ctx.schedule(0.0, self._snap, state.WALL_CLOCK)

            def _snap(self, ctx, now):
                ctx.forward(k=str(ctx.key[0]), kind="snapshot",
                            n=int(ctx.store.get("n") or 0))

            def process(self, ctx, rec):
                ctx.store.put("n", (ctx.store.get("n") or 0) + 1)

        return Snap

    def build(sdf):
        return state.process_streaming(
            sdf, ["k"], make(), "k STRING, kind STRING, n BIGINT", ts_col="ts"
        )

    drv = TopologyTestDriver(spark, "k STRING, ts DOUBLE", build, workdir)
    drv.pipe([{"k": "a", "ts": 1.0}, {"k": "a", "ts": 2.0}])
    out1 = [(r.k, r.n) for r in drv.advance()]
    assert out1 == [("a", 2)]  # one snapshot at the batch boundary
    drv.pipe([{"k": "a", "ts": 3.0}])
    out2 = [(r.k, r.n) for r in drv.advance()]
    assert out2 == [("a", 3)]  # state carried; fired again this batch
    drv.close()


def test_wall_clock_punctuator_coalescing(spark, workdir):
    """r2 VERDICT task 4 — pin the commit-aligned wall-clock contract:

    (a) interval LARGER than the batch period: the timer arms on its first
        batch and fires only once per boundary where it is due — a
        never-due (huge-interval) timer fires zero times across the run;
    (b) interval SMALLER than the batch period (1 ms here, thousands of
        intervals elapse between advances): missed intervals COALESCE to
        exactly ONE fire per batch — the KS WALL_CLOCK_TIME contract
        (punctuate fires once even if several intervals passed), NOT
        once-per-missed-interval catch-up."""

    def make():
        class Two(state.Processor):
            def init(self, ctx):
                ctx.schedule(0.001, self._fast, state.WALL_CLOCK)
                ctx.schedule(1e9, self._never, state.WALL_CLOCK)

            def _fast(self, ctx, now):
                ctx.forward(k=str(ctx.key[0]), kind="fast")

            def _never(self, ctx, now):
                ctx.forward(k=str(ctx.key[0]), kind="never")

            def process(self, ctx, rec):
                pass

        return Two

    def build(sdf):
        return state.process_streaming(
            sdf, ["k"], make(), "k STRING, kind STRING", ts_col="ts"
        )

    drv = TopologyTestDriver(spark, "k STRING, ts DOUBLE", build, workdir)
    drv.pipe([{"k": "a", "ts": 1.0}])
    out1 = [r.kind for r in drv.advance()]
    assert out1 == []  # first batch only ARMS both timers
    for batch in (2, 3):
        drv.pipe([{"k": "a", "ts": float(batch)}])
        out = [r.kind for r in drv.advance()]
        # 1 ms timer: thousands of intervals elapsed since the last batch,
        # exactly one coalesced fire; 1e9 s timer: never due, never fires
        assert out == ["fast"], out
    drv.close()


def test_stream_stream_join_duplicates_and_cross_batch(spark, workdir):
    """Streaming stream-stream windowed join (ResponsiveStores.streamStreamJoin):
    duplicate left events each match (STREAM-store retainDuplicates,
    DuplicateKeyBuffer.java:28-59), and a left event buffered in batch 1
    joins a right event arriving in batch 2 (symmetric state, watermark
    retention)."""

    def build(sdf):
        clicks = (
            sdf.filter(F.col("kind") == "c")
            .select("k", F.col("ts").alias("l_ts"), F.col("v").alias("l_v"))
            .withWatermark("l_ts", "10 seconds")
        )
        buys = (
            sdf.filter(F.col("kind") == "b")
            .select(F.col("k").alias("rk"), F.col("ts").alias("r_ts"),
                    F.col("v").alias("r_v"))
            .withWatermark("r_ts", "10 seconds")
        )
        j = clicks.join(
            buys,
            F.expr("k = rk AND r_ts BETWEEN l_ts AND l_ts + interval 5 seconds"),
        )
        return j.select(
            "k",
            F.unix_timestamp("l_ts").alias("lt"),
            F.unix_timestamp("r_ts").alias("rt"),
            "l_v",
            "r_v",
        )

    drv = TopologyTestDriver(
        spark, "k LONG, kind STRING, ts TIMESTAMP, v LONG", build, workdir,
        output_mode="append",
    )
    from datetime import datetime as dt

    def t(s):
        return dt.fromisoformat(f"2024-01-01 00:{s}")

    # batch 1: two DUPLICATE clicks (same key+ts) + one in-window buy
    drv.pipe(
        [
            {"k": 1, "kind": "c", "ts": t("00:00"), "v": 1},
            {"k": 1, "kind": "c", "ts": t("00:00"), "v": 1},
            {"k": 1, "kind": "b", "ts": t("00:03"), "v": 10},
        ]
    )
    out1 = drv.advance()
    # both duplicate clicks matched the buy -> two pairs
    assert len(out1) == 2
    assert {(r.l_v, r.r_v) for r in out1} == {(1, 10)}
    # batch 2: a buy arriving later still joins the batch-1 click (in window)
    drv.pipe([{"k": 1, "kind": "b", "ts": t("00:04"), "v": 20}])
    out2 = drv.advance()
    assert len(out2) == 2 and {r.r_v for r in out2} == {20}
    # batch 3: out-of-window buy -> no match
    drv.pipe([{"k": 1, "kind": "b", "ts": t("00:30"), "v": 30}])
    assert drv.advance() == []
    drv.close()


def test_suppress_api_surface(spark, tmp_path):
    """The first-class suppress(untilWindowCloses) API (r4): the windowed
    builder tags its output, output_mode_for() resolves the sink mode, and
    the emission behavior is final-only — one row per window after the
    watermark closes it."""
    from datetime import datetime as dt

    from responsive_pub_spark.api import KStream, output_mode_for
    from responsive_pub_spark.windows import TimeWindows

    def t(x):
        return dt.fromisoformat(x)

    def build(sdf):
        s = KStream(sdf, key=["user_id"], ts_col="ts")
        win = (
            s.group_by_key()
            .windowed_by(TimeWindows.of_size_and_grace("1 hour", "10 minutes"))
            .suppress_until_window_closes()
        )
        out = win.count()
        assert output_mode_for(out) == "append"
        return out.select(
            "user_id", F.col("window_start").alias("ws"), F.col("cnt")
        )

    # no grace -> suppression must refuse (nothing would ever close)
    import pytest as _pytest

    dummy = spark.createDataFrame([], "user_id LONG, ts TIMESTAMP")
    with _pytest.raises(ValueError, match="grace"):
        KStream(dummy, key=["user_id"], ts_col="ts").group_by_key().windowed_by(
            TimeWindows.of_size_with_no_grace("1 hour")
        ).suppress_until_window_closes()

    HOUR0 = 1704067200
    drv = TopologyTestDriver(
        spark, "user_id LONG, ts TIMESTAMP", build, str(tmp_path / "supapi"),
        output_mode="append",
    )
    per_batch = []
    for rows in [
        [{"user_id": 1, "ts": t("2024-01-01 00:05:00")}],
        [{"user_id": 1, "ts": t("2024-01-01 00:30:00")}],
        [{"user_id": 1, "ts": t("2024-01-01 05:00:00")}],
        [{"user_id": 1, "ts": t("2024-01-01 05:10:00")}],
    ]:
        drv.pipe(rows)
        per_batch.append([(r.ws, r.cnt) for r in drv.advance() if r.ws == HOUR0])
    drv.close()
    assert per_batch[0] == [] and per_batch[1] == []
    assert [r for pb in per_batch for r in pb] == [(HOUR0, 2)]


def test_process_streaming_partitioned_task_model(spark, tmp_path):
    """Streaming task model: the partition-shared store persists across
    micro-batch restarts — a key arriving in batch 2 sees keys registered
    by OTHER keys in batch 1 (per-key state cannot), and the result equals
    the batch replay through process_partitioned. Both twins hand the
    processor the same record keys: the partition tag is not one."""
    from responsive_pub_spark.streaming import state
    from responsive_pub_spark.streaming.runtime import TopologyTestDriver

    class SeenBefore(state.Processor):
        def process(self, ctx, rec):
            others = sum(
                1
                for (_tag, uid), _v in ctx.store.prefix_tuple(("u",))
                if uid != int(rec["k"])
            )
            ctx.store.put(("u", int(rec["k"])), 1)
            ctx.forward(k=int(rec["k"]), others=others)

    class RecKeys(state.Processor):
        def process(self, ctx, rec):
            ctx.forward(k=int(rec["k"]), keys=",".join(sorted(rec)))

    lane = dict(key=["k"], num_partitions=2, ts_col="ts", order_by=("k",),
                partitioner=F.expr("k % 2"))

    def streamed(factory, schema, name):
        drv = TopologyTestDriver(
            spark,
            "k LONG, ts DOUBLE",
            lambda sdf: state.process_streaming_partitioned(
                sdf, processor_factory=factory, output_schema=schema, **lane
            ),
            str(tmp_path / name),
        )
        drv.pipe([{"k": 0, "ts": 1.0}, {"k": 1, "ts": 1.5}])
        out = [tuple(r) for r in drv.advance()]
        drv.pipe([{"k": 2, "ts": 2.0}, {"k": 3, "ts": 2.5}, {"k": 4, "ts": 3.0}])
        out += [tuple(r) for r in drv.advance()]
        drv.close()
        return set(out)

    def batched(factory, schema):
        return {
            tuple(r)
            for r in state.process_partitioned(
                spark.createDataFrame(
                    [(0, 1.0), (1, 1.5), (2, 2.0), (3, 2.5), (4, 3.0)],
                    "k LONG, ts DOUBLE",
                ),
                processor_factory=factory,
                output_schema=schema,
                **lane,
            ).collect()
        }

    seen = "k LONG, others BIGINT"
    out = streamed(SeenBefore, seen, "taskstream")
    assert out == {(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)}
    assert out == batched(SeenBefore, seen)

    keys = "k LONG, keys STRING"
    assert streamed(RecKeys, keys, "reckeys") == {(k, "k,ts") for k in range(5)}
    assert batched(RecKeys, keys) == {(k, "k,ts") for k in range(5)}


def test_kstream_deduplicate(spark, tmp_path):
    """KStream.deduplicate: streaming keeps the FIRST arrival per id with
    bounded state (dropDuplicatesWithinWatermark) — a duplicate arriving
    in a later batch inside the watermark window is suppressed; the batch
    twin keeps the first occurrence by event time."""
    from responsive_pub_spark.api import KStream
    from responsive_pub_spark.streaming.runtime import TopologyTestDriver
    from datetime import datetime as dt

    def t(x):
        return dt.fromisoformat(x)

    def build(sdf):
        s = KStream(sdf, key=["k"], ts_col="ts")
        return s.deduplicate(id_cols=["k", "txn"], within="30 minutes").df

    drv = TopologyTestDriver(
        spark, "k LONG, txn LONG, ts TIMESTAMP", build, str(tmp_path / "dedup")
    )
    drv.pipe([
        {"k": 1, "txn": 100, "ts": t("2024-01-01 00:01:00")},
        {"k": 1, "txn": 100, "ts": t("2024-01-01 00:02:00")},  # same-batch dup
        {"k": 1, "txn": 101, "ts": t("2024-01-01 00:03:00")},
    ])
    out = [(r.k, r.txn) for r in drv.advance()]
    drv.pipe([
        {"k": 1, "txn": 100, "ts": t("2024-01-01 00:10:00")},  # cross-batch dup
        {"k": 2, "txn": 100, "ts": t("2024-01-01 00:11:00")},  # new id
    ])
    out += [(r.k, r.txn) for r in drv.advance()]
    drv.close()
    assert sorted(out) == [(1, 100), (1, 101), (2, 100)]

    # batch twin: first occurrence by ts wins
    bdf = spark.createDataFrame(
        [
            (1, 100, 2.0, "late"),
            (1, 100, 1.0, "first"),
            (1, 101, 3.0, "only"),
        ],
        "k LONG, txn LONG, ts DOUBLE, tag STRING",
    )
    got = {
        (r.k, r.txn, r.tag)
        for r in KStream(bdf, key=["k"], ts_col="ts")
        .deduplicate(id_cols=["k", "txn"])
        .df.collect()
    }
    assert got == {(1, 100, "first"), (1, 101, "only")}


def test_cms_sketch_streaming_equals_batch(spark, workdir):
    """Sketches are plain keyed aggregations, so they run incrementally
    under Structured Streaming with NO operator changes: the (d, bucket)
    counter table after N micro-batches equals the batch sketch over the
    union of the batches — the mergeability property that makes a sketch a
    sketch."""
    from responsive_pub_spark.functions.hashing import poly_hash_sql
    from responsive_pub_spark.operators.sketches import _cms_buckets

    def build(sdf):
        return (
            sdf.select(
                F.posexplode(
                    F.expr(_cms_buckets(poly_hash_sql("event_type"), "spark"))
                ).alias("d", "bucket")
            )
            .groupBy("d", "bucket")
            .agg(F.count("*").alias("cnt"))
        )

    drv = TopologyTestDriver(
        spark, "event_type STRING", build, workdir, output_mode="complete"
    )
    batch1 = [{"event_type": t} for t in ("click", "view", "click")]
    batch2 = [{"event_type": t} for t in ("error", "click", "view")]
    drv.pipe(batch1)
    drv.advance()
    drv.pipe(batch2)
    streamed = {(r.d, r.bucket): r.cnt for r in drv.advance()}
    drv.close()

    both = spark.createDataFrame(batch1 + batch2, "event_type STRING")
    batch = {
        (r.d, r.bucket): r.cnt
        for r in build(both).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_hist_quantile_sketch_streaming_equals_batch(spark, workdir):
    """The histogram quantile sketch's state (per-group bucket counts) is
    a plain keyed count, so it accumulates incrementally under Structured
    Streaming and merges associatively — counters after N micro-batches
    equal the batch histogram over the union."""

    def build(sdf):
        bucket = "least(127, greatest(0, CAST(floor(v / 10.0) AS BIGINT)))"
        return (
            sdf.selectExpr("g", f"{bucket} AS bucket")
            .groupBy("g", "bucket")
            .agg(F.count("*").alias("cnt"))
        )

    drv = TopologyTestDriver(
        spark, "g STRING, v DOUBLE", build, workdir, output_mode="complete"
    )
    b1 = [{"g": "a", "v": float(x)} for x in (5, 15, 15, 900, 42)]
    b2 = [{"g": "a", "v": float(x)} for x in (7, 1300, 15)] + [
        {"g": "b", "v": 3.0}
    ]
    drv.pipe(b1)
    drv.advance()
    drv.pipe(b2)
    streamed = {(r.g, r.bucket): r.cnt for r in drv.advance()}
    drv.close()
    both = spark.createDataFrame(b1 + b2, "g STRING, v DOUBLE")
    batch = {(r.g, r.bucket): r.cnt for r in build(both).collect()}
    assert streamed == batch and len(batch) > 0


def test_hll_register_table_streaming_equals_batch(spark, workdir):
    """HLL's state is a keyed MAX per (group, register) — associative and
    idempotent, so it accumulates incrementally under Structured Streaming
    with no operator changes: register maxima after N micro-batches equal
    the batch sketch over the union (and identical registers give the
    identical estimate, since the estimator is a pure function of them)."""
    from responsive_pub_spark.functions.hashing import poly_hash_sql
    from responsive_pub_spark.operators.sketches import _hll_reg_rho

    reg, rho = _hll_reg_rho(poly_hash_sql("item"), "spark")

    def build(sdf):
        return (
            sdf.select(
                "g", F.expr(reg).alias("reg"), F.expr(rho).alias("rho")
            )
            .groupBy("g", "reg")
            .agg(F.max("rho").alias("m_j"))
        )

    drv = TopologyTestDriver(
        spark, "g STRING, item STRING", build, workdir, output_mode="complete"
    )
    b1 = [{"g": "a", "item": f"u{i}"} for i in range(40)]
    b2 = [{"g": "a", "item": f"u{i}"} for i in range(20, 60)] + [
        {"g": "b", "item": "solo"}
    ]
    drv.pipe(b1)
    drv.advance()
    drv.pipe(b2)
    streamed = {(r.g, r.reg): r.m_j for r in drv.advance()}
    drv.close()

    both = spark.createDataFrame(
        [tuple(r.values()) for r in b1 + b2], "g STRING, item STRING"
    )
    batch = {(r.g, r.reg): r.m_j for r in build(both).collect()}
    assert streamed == batch and len(batch) > 0


def test_trending_counts_streaming_equals_batch(spark, workdir):
    """trending_decay's state — the (group, item, day) count table — is a
    plain keyed count, so it accumulates incrementally under Structured
    Streaming; the decay scoring is a pure function of that table plus
    the anchor day, so micro-batched counts == batch counts implies
    identical trending output."""

    def build(sdf):
        return (
            sdf.selectExpr(
                "g", "item", "CAST(ts_day AS BIGINT) AS day"
            )
            .groupBy("g", "item", "day")
            .agg(F.count("*").alias("cnt"))
        )

    drv = TopologyTestDriver(
        spark, "g STRING, item STRING, ts_day LONG", build, workdir,
        output_mode="complete",
    )
    b1 = [{"g": "a", "item": f"i{j % 3}", "ts_day": 19700 + j % 4} for j in range(30)]
    b2 = [{"g": "a", "item": f"i{j % 5}", "ts_day": 19702} for j in range(20)]
    drv.pipe(b1)
    drv.advance()
    drv.pipe(b2)
    streamed = {(r.g, r.item, r.day): r.cnt for r in drv.advance()}
    drv.close()

    both = spark.createDataFrame(
        [tuple(r.values()) for r in b1 + b2], "g STRING, item STRING, ts_day LONG"
    )
    batch = {(r.g, r.item, r.day): r.cnt for r in build(both).collect()}
    assert streamed == batch and len(batch) > 0


def test_ktable_regroup_streaming_retraction(spark, workdir):
    """STREAMING KGroupedTable re-agg retraction (r4 VERDICT task 6): a key
    whose group changes mid-stream must RETRACT from the old group
    (get-before-put subtract-then-add, PartitionedOperations.java:364-371)
    — and a group whose last member leaves drops out of the table entirely
    (the retraction tombstone). Each advance() is a cold restart from the
    checkpoints, so retraction state survives restarts too."""
    from responsive_pub_spark.streaming.regroup import RegroupStreaming

    schema = "user_id BIGINT, event_id BIGINT, grp STRING, val BIGINT, ts DOUBLE"
    rg = RegroupStreaming(
        spark, workdir, schema, key_col="user_id", order_by=("event_id",)
    )

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(rg.input_dir)

    def snap():
        return {r.grp: (r.n, r.total) for r in rg.snapshot().collect()}

    put([(1, 1, "a", 10, 1.0), (2, 2, "a", 20, 2.0)])
    rg.advance()
    assert snap() == {"a": (2, 30)}

    # user 1 moves a -> b: group a's aggregate must come DOWN (old value
    # subtracted), not just group b's go up
    put([(1, 3, "b", 15, 3.0)])
    rg.advance()
    assert snap() == {"a": (1, 20), "b": (1, 15)}

    # user 2 also leaves a -> a reaches n=0 and disappears (tombstone)
    put([(2, 4, "b", 5, 4.0)])
    rg.advance()
    assert snap() == {"b": (2, 20)}

    # batch equivalence: latest-per-key regroup over the full changelog
    from responsive_pub_spark.api import KStream

    all_rows = spark.createDataFrame(
        [(1, 1, "a", 10, 1.0), (2, 2, "a", 20, 2.0),
         (1, 3, "b", 15, 3.0), (2, 4, "b", 5, 4.0)],
        schema,
    )
    t = KStream(all_rows, key=["user_id"]).to_table(tiebreak=["event_id"])
    batch = {
        r.grp: (r.n, r.total)
        for r in t.group_by("grp")
        .aggregate(F.count("*").alias("n"), F.sum("val").alias("total"))
        .df.collect()
    }
    assert batch == snap()


def test_mid_batch_fault_injection_exactly_once(spark, workdir, tmp_path):
    """E2E chaos contract (STJoinExample.java:81-88 injected failures +
    AccumulatingChecksum): a processor THROWS partway through a micro-batch
    — after some records of the batch already updated state and forwarded
    — the query dies, and a restart from the checkpoint replays the batch
    from scratch. The committed output must contain each record's effect
    EXACTLY once: the per-key checksum chain equals the single-pass batch
    chain, and no record's emission appears twice."""
    import os

    marker = str(tmp_path / "fault_injected")
    poison_id = 205  # mid-batch, mid-key-group: records 200-204 precede it

    def make_proc():
        class PoisonChecksum(state.Processor):
            def process(self, ctx, rec):
                if int(rec["event_id"]) == poison_id and not os.path.exists(
                    marker
                ):
                    open(marker, "x").close()
                    raise RuntimeError("injected mid-batch fault (chaos e2e)")
                c = ctx.store.get("c") or 0
                c = (c * 31 + int(rec["event_id"])) % 1_000_000_007
                ctx.store.put("c", c)
                ctx.forward(user_id=int(rec["user_id"]), checksum=c)

        return PoisonChecksum

    def build(sdf):
        return state.process_streaming(
            sdf,
            ["user_id"],
            make_proc(),
            "user_id BIGINT, checksum BIGINT",
            ts_col="ts",
            order_by=("event_id",),
        )

    drv = TopologyTestDriver(
        spark, "user_id LONG, event_id LONG, ts DOUBLE", build, workdir
    )
    rows = [
        {"user_id": u, "event_id": u * 100 + i, "ts": float(i)}
        for u in (1, 2) for i in range(9)
    ]
    # chunk 1 commits cleanly; chunk 2 contains the poison record
    chunk1 = [r for r in rows if r["event_id"] % 100 < 3]
    chunk2 = [r for r in rows if r["event_id"] % 100 >= 3]
    drv.pipe(chunk1)
    out1 = drv.advance()
    assert len(out1) == len(chunk1)

    drv.pipe(chunk2)
    with pytest.raises(Exception, match="injected mid-batch fault"):
        drv.advance()
    assert os.path.exists(marker)  # the fault DID fire mid-batch

    # restart from checkpoint: the failed batch replays from scratch
    out2 = drv.advance()
    emissions = drv.all_output()
    drv.close()

    # exactly-once: one emission per input record, none duplicated
    assert len(out2) == len(chunk2)
    assert len(emissions) == len(rows)

    # chain equality with the single-pass batch replay — a dropped,
    # duplicated, or double-counted record would diverge the digest
    batch = state.process(
        spark.createDataFrame(rows, "user_id LONG, event_id LONG, ts DOUBLE"),
        ["user_id"],
        _make_checksum(),
        "user_id BIGINT, checksum BIGINT",
        ts_col="ts",
        order_by=("event_id",),
    )
    expected = {r.user_id: r.checksum for r in batch.collect()}
    final = {}
    for r in emissions:
        final[r.user_id] = r.checksum
    assert final == expected


def test_ktable_regroup_streaming_randomized_equivalence(spark, tmp_path):
    """Randomized retraction referee: random per-key group-hopping update
    sequences, split into random micro-batches (per-key ts order held
    across batches — changelog arrival order), must compact to exactly the
    batch regroup over the final snapshot. Catches double-counting, missed
    retractions, and tombstone bugs the crafted cases might not."""
    import random

    from responsive_pub_spark.api import KStream
    from responsive_pub_spark.streaming.regroup import RegroupStreaming

    schema = "user_id BIGINT, event_id BIGINT, grp STRING, val BIGINT, ts DOUBLE"
    for seed in (11, 23):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for user in range(8):
            for step in range(rng.randint(1, 6)):
                eid += 1
                rows.append(
                    (user, eid, rng.choice("abc"), rng.randint(-5, 50),
                     float(eid))
                )
        # random temporal batch splits (ts-ordered rows -> per-key order
        # holds across batches)
        cuts = sorted(rng.sample(range(1, len(rows)), 2))
        batches = [rows[: cuts[0]], rows[cuts[0]: cuts[1]], rows[cuts[1]:]]

        rg = RegroupStreaming(
            spark, str(tmp_path / f"rg{seed}"), schema,
            key_col="user_id", order_by=("event_id",),
        )
        for b in batches:
            if not b:
                continue
            spark.createDataFrame(b, schema).coalesce(1).write.mode(
                "append"
            ).parquet(rg.input_dir)
            rg.advance()
        streamed = {r.grp: (r.n, r.total) for r in rg.snapshot().collect()}

        t = KStream(
            spark.createDataFrame(rows, schema), key=["user_id"]
        ).to_table(tiebreak=["event_id"])
        batch = {
            r.grp: (r.n, r.total)
            for r in t.group_by("grp")
            .aggregate(F.count("*").alias("n"), F.sum("val").alias("total"))
            .df.collect()
        }
        assert streamed == batch, (seed, streamed, batch)


def test_regroup_vectorized_equals_processor(spark, tmp_path):
    """Engine referee (r6 VERDICT task 5): the vectorized regroup stages
    (whole-batch shift/cumsum seeded from checkpointed heads) must emit the
    EXACT changelog of the per-record processor engine — every retraction
    delta and every per-delta re-agg emission, across micro-batch
    boundaries and cold restarts, not just the compacted snapshot."""
    import random

    from responsive_pub_spark.streaming.regroup import RegroupStreaming

    schema = "user_id BIGINT, event_id BIGINT, grp STRING, val BIGINT, ts DOUBLE"
    rng = random.Random(7)
    rows, eid = [], 0
    for user in range(6):
        for _ in range(rng.randint(2, 5)):
            eid += 1
            rows.append((user, eid, rng.choice("abc"), rng.randint(-5, 50), float(eid)))
    cut = len(rows) // 2
    batches = [rows[:cut], rows[cut:]]

    def drive(engine):
        rg = RegroupStreaming(
            spark, str(tmp_path / f"rg_{engine}"), schema,
            key_col="user_id", order_by=("event_id",), engine=engine,
        )
        for b in batches:
            spark.createDataFrame(b, schema).coalesce(1).write.mode(
                "append"
            ).parquet(rg.input_dir)
            rg.advance()
        chg = sorted(
            (r.grp, r.emit_seq, r.n, r.total)
            for r in rg.changelog().collect()
        )
        retr = sorted(
            map(tuple, spark.read.parquet(rg.retract_topic).collect())
        )
        return chg, retr

    vec = drive("vectorized")
    proc = drive("processor")
    assert vec[1] == proc[1]  # retraction topic identical
    assert vec[0] == proc[0]  # re-agg changelog identical


def test_suppress_until_time_limit_streaming_parity(spark, tmp_path):
    """suppress(untilTimeLimit) analog: streaming (watermarked window
    max_by, APPEND) and batch (row_number pick) agree on every CLOSED
    interval — at most one update per key per interval, latest wins,
    stamped with the interval close."""
    from datetime import datetime as dt

    from responsive_pub_spark.api import KStream, output_mode_for

    def t(x):
        return dt.fromisoformat(x)

    def build(sdf):
        return KStream(sdf, key=["user_id"]).suppress_until_time_limit(
            3600, tiebreak="event_id"
        )

    batches = [
        [
            {"user_id": 1, "event_id": 1, "v": "a", "ts": t("2024-01-01 00:10:00")},
            {"user_id": 1, "event_id": 2, "v": "b", "ts": t("2024-01-01 00:20:00")},
            {"user_id": 2, "event_id": 3, "v": "c", "ts": t("2024-01-01 00:40:00")},
        ],
        # same-ts tie inside hour 0 for user 2: event_id breaks it
        [
            {"user_id": 2, "event_id": 5, "v": "e", "ts": t("2024-01-01 00:40:00")},
        ],
        # watermark far past hour 0 -> closes it
        [
            {"user_id": 1, "event_id": 9, "v": "z", "ts": t("2024-01-01 05:00:00")},
        ],
    ]
    schema = "user_id LONG, event_id LONG, v STRING, ts TIMESTAMP"

    # the builder's declared sink mode must be APPEND (emit-final)
    probe = build(
        spark.createDataFrame([], schema)
        .sparkSession.readStream.format("rate")
        .load()
        .selectExpr(
            "CAST(value AS LONG) user_id",
            "CAST(value AS LONG) event_id",
            "'x' v",
            "timestamp ts",
        )
    )
    assert output_mode_for(probe) == "append"

    drv = TopologyTestDriver(
        spark, schema, build, str(tmp_path / "stl"), output_mode="append"
    )
    got = []
    for rows in batches:
        drv.pipe(rows)
        got.extend(
            (r.user_id, r.emit_ts, r.event_id, r.v) for r in drv.advance()
        )
    drv.close()

    HOUR0_END = 1704070800  # 2024-01-01 01:00:00 UTC
    closed = {g for g in got if g[1] == HOUR0_END}
    # latest wins; the user-2 same-ts tie resolves to the higher event_id
    assert closed == {(1, HOUR0_END, 2, "b"), (2, HOUR0_END, 5, "e")}

    # batch twin agrees on the closed interval
    all_rows = [r for b in batches for r in b]
    batch = build(spark.createDataFrame(all_rows, schema))
    batch_closed = {
        (r.user_id, r.emit_ts, r.event_id, r.v)
        for r in batch.collect()
        if r.emit_ts == HOUR0_END
    }
    assert batch_closed == closed


def test_bm25_streaming_stats_equal_batch_and_survive_restart(
    spark, sf_dir, workdir
):
    """r10 VERDICT task 8 (stretch): incrementally-maintained BM25
    statistics — postings tokenized once at ingest, df via a stateful
    streaming agg into a KV table, corpus scalars via a 1-row
    complete-mode agg — feed the identical integer scoring expression as
    textops.bm25_topk. After any sequence of ingest waves the streaming
    topk() must row-equal the batch computation over the union, the
    maintained df table must equal the batch df table, and a cold
    restart must serve identical results from the checkpoints."""
    from responsive_pub_spark.operators import textops
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.bm25_stream import Bm25Streaming

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    third = len(rows) // 3
    waves = [rows[:third], rows[third : 2 * third], rows[2 * third :]]

    lane = Bm25Streaming(spark, workdir)
    for wave in waves:
        lane.ingest(
            spark.createDataFrame(
                [(int(r.doc_id), r.text) for r in wave],
                "doc_id BIGINT, text STRING",
            )
        )
        lane.advance()

    batch = {tuple(r) for r in textops.bm25_topk(docs).collect()}
    streamed = {tuple(r) for r in lane.topk().collect()}
    assert streamed == batch and len(batch) > 0

    # maintained df table == batch document frequencies
    arr = "filter(split(text, '\\\\s+'), x -> x != '')"
    batch_df = {
        (r.w, r.df)
        for r in docs.select(
            "doc_id", F.explode(F.expr(f"array_distinct({arr})")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("df"))
        .collect()
    }
    assert {(r.w, r.df) for r in lane.term_df().collect()} == batch_df

    # cold restart: a fresh instance serves identical results from the
    # maintained state, with no new input
    lane2 = Bm25Streaming(spark, workdir)
    assert {tuple(r) for r in lane2.topk().collect()} == batch


def test_envelope_audit_streaming_equals_batch_and_survives_restart(
    spark, sf_dir, workdir
):
    """Incrementally-maintained envelope inventory (the streaming twin
    of timeseries.json_envelope_audit): after any sequence of ingest
    waves — including one with adversarial payloads (mixed types,
    malformed, NULL, nested) — audit() must row-equal the batch audit
    over the union, and a cold restart must serve identical results
    from the maintained state."""
    from responsive_pub_spark.operators.timeseries import json_envelope_audit
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.envelope_stream import (
        EnvelopeAuditStreaming,
    )

    ev = read_table(spark, sf_dir, "events").select("event_type", "props")
    rows = ev.collect()
    half = len(rows) // 2
    extra = [
        ("drifted", '{"k": "now-a-string", "fresh": [1, 2]}'),
        ("drifted", '{"k": 5, "fresh": null}'),
        ("drifted", "not json"),
        ("drifted", None),
    ]
    waves = [
        [(r.event_type, r.props) for r in rows[:half]],
        [(r.event_type, r.props) for r in rows[half:]] + extra,
    ]

    lane = EnvelopeAuditStreaming(spark, workdir)
    union = None
    for wave in waves:
        wdf = spark.createDataFrame(wave, "event_type STRING, props STRING")
        union = wdf if union is None else union.unionByName(wdf)
        lane.ingest(wdf)
        lane.advance()

    batch = {tuple(r) for r in json_envelope_audit(union).collect()}
    streamed = {tuple(r) for r in lane.audit().collect()}
    assert streamed == batch and len(batch) > 0
    # the drifted key's type histogram split across waves correctly
    by = {(r[0], r[1]): r for r in streamed}
    assert by[("drifted", "k")][4] == 1 and by[("drifted", "k")][5] == 1
    assert by[("drifted", "fresh")][2:] == (2, 1, 0, 0, 0, 1)

    # cold restart serves the same inventory with no new input
    lane2 = EnvelopeAuditStreaming(spark, workdir)
    assert {tuple(r) for r in lane2.audit().collect()} == batch


def test_mixture_streaming_masses_equal_batch_and_survive_restart(
    spark, sf_dir, workdir
):
    """Incrementally-maintained mixture statistics (the Bm25Streaming
    posture applied to the data-mixing stage): after any sequence of
    ingest waves the maintained per-lang token masses must equal the
    batch aggregation over the union, resample() through the masses=
    injection must row-equal the batch mixture_resample_tokens, and a
    cold restart must serve identical decisions from the checkpoint."""
    from responsive_pub_spark.functions import text as T
    from responsive_pub_spark.operators import pipeline_ops
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.mixture_stream import MixtureStreaming

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    rows = docs.orderBy("doc_id").collect()
    third = len(rows) // 3
    waves = [rows[:third], rows[third : 2 * third], rows[2 * third :]]

    lane = MixtureStreaming(spark, workdir)
    for wave in waves:
        lane.ingest(
            spark.createDataFrame(
                [(int(r.doc_id), r.lang, r.text) for r in wave],
                "doc_id BIGINT, lang STRING, text STRING",
            )
        )
        lane.advance()

    bpe = (
        f"size(regexp_extract_all(text, "
        f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    )
    batch_masses = {
        (r.lang, r.n_d)
        for r in docs.select(
            "lang", F.expr(bpe).cast("bigint").alias("n_tokens")
        )
        .groupBy("lang")
        .agg(F.sum("n_tokens").cast("bigint").alias("n_d"))
        .collect()
    }
    assert {
        (r.lang, r.n_d) for r in lane.masses().collect()
    } == batch_masses

    batch = {
        tuple(r) for r in pipeline_ops.mixture_resample_tokens(docs).collect()
    }
    streamed = {tuple(r) for r in lane.resample(docs).collect()}
    assert streamed == batch and len(batch) > 0

    # cold restart serves identical decisions with no new input
    lane2 = MixtureStreaming(spark, workdir)
    assert {tuple(r) for r in lane2.resample(docs).collect()} == batch


def test_decontam_streaming_report_equals_batch_and_is_retroactive(
    spark, sf_dir, workdir
):
    """Incrementally-maintained decontamination fingerprints: with the
    fixture's eval_mod split ingested as the two topics across waves,
    report() must row-equal the batch decontaminate over the union; a
    LATE benchmark wave must retro-actively surface contamination in
    already-ingested corpus docs without re-shingling anything; and a
    cold restart serves the identical report."""
    from responsive_pub_spark.operators import pipeline_ops
    from responsive_pub_spark.operators.pipeline_ops import EVAL_MOD
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.decontam_stream import (
        DecontamStreaming,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_rows = docs.filter(f"doc_id % {EVAL_MOD} != 0").orderBy(
        "doc_id"
    ).collect()
    eval_rows = docs.filter(f"doc_id % {EVAL_MOD} = 0").orderBy(
        "doc_id"
    ).collect()
    half_c = len(corpus_rows) // 2
    half_e = len(eval_rows) // 2

    lane = DecontamStreaming(spark, workdir)

    def _df(rows):
        return spark.createDataFrame(
            [(int(r.doc_id), r.text) for r in rows],
            "doc_id BIGINT, text STRING",
        )

    # wave 1: half the corpus, half the benchmarks
    lane.ingest_corpus(_df(corpus_rows[:half_c]))
    lane.ingest_evals(_df(eval_rows[:half_e]))
    lane.advance()
    partial = {int(r.doc_id) for r in lane.report().collect()}

    # wave 2a: rest of the corpus
    lane.ingest_corpus(_df(corpus_rows[half_c:]))
    lane.advance()

    # wave 2b: a LATE benchmark wave — retroactive over everything
    lane.ingest_evals(_df(eval_rows[half_e:]))
    lane.advance()

    batch = {tuple(r) for r in pipeline_ops.decontaminate(docs).collect()}
    streamed = {tuple(r) for r in lane.report().collect()}
    assert streamed == batch and len(batch) > 0
    # the late benchmarks grew the flagged set retroactively
    assert partial <= {r[0] for r in streamed}

    # cold restart serves the identical report
    lane2 = DecontamStreaming(spark, workdir)
    assert {tuple(r) for r in lane2.report().collect()} == batch


def test_maintained_lanes_compact_preserve_served_state(
    spark, sf_dir, tmp_path
):
    """Every maintained-statistics lane owns a bounded-metadata story:
    compacting the KV delta log must leave the served state
    row-identical and shrink the delta count to one."""
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.bm25_stream import Bm25Streaming
    from responsive_pub_spark.streaming.envelope_stream import (
        EnvelopeAuditStreaming,
    )
    from responsive_pub_spark.streaming.mixture_stream import MixtureStreaming

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    rows = docs.orderBy("doc_id").limit(60).collect()
    half = len(rows) // 2

    # mixture lane
    mx = MixtureStreaming(spark, str(tmp_path / "mx"))
    for wave in (rows[:half], rows[half:]):
        mx.ingest(
            spark.createDataFrame(
                [(int(r.doc_id), r.lang, r.text) for r in wave],
                "doc_id BIGINT, lang STRING, text STRING",
            )
        )
        mx.advance()
    before = {tuple(r) for r in mx.masses().collect()}
    assert len(mx.sink._deltas()) == 2
    mx.compact()
    assert len(mx.sink._deltas()) == 1
    assert {tuple(r) for r in mx.masses().collect()} == before

    # envelope lane
    ev = read_table(spark, sf_dir, "events").select("event_type", "props")
    erows = ev.limit(60).collect()
    en = EnvelopeAuditStreaming(spark, str(tmp_path / "en"))
    for wave in (erows[:30], erows[30:]):
        en.ingest(
            spark.createDataFrame(
                [(r.event_type, r.props) for r in wave],
                "event_type STRING, props STRING",
            )
        )
        en.advance()
    before = {tuple(r) for r in en.audit().collect()}
    en.compact()
    assert len(en.sink._deltas()) == 1
    assert {tuple(r) for r in en.audit().collect()} == before

    # bm25 lane (df table)
    bm = Bm25Streaming(spark, str(tmp_path / "bm"))
    for wave in (rows[:half], rows[half:]):
        bm.ingest(
            spark.createDataFrame(
                [(int(r.doc_id), r.text) for r in wave],
                "doc_id BIGINT, text STRING",
            )
        )
        bm.advance()
    topk_before = {tuple(r) for r in bm.topk().collect()}
    df_before = {tuple(r) for r in bm.term_df().collect()}
    bm.compact()
    assert len(bm.df_sink._deltas()) == 1
    assert {tuple(r) for r in bm.term_df().collect()} == df_before
    assert {tuple(r) for r in bm.topk().collect()} == topk_before


def test_span_streaming_report_and_strip_equal_batch_across_restart(
    spark, sf_dir, workdir
):
    """Incrementally-maintained duplicated-span fingerprints (r13
    verdict task 8): with the fixture corpus ingested as two waves,
    report() and strip() must row-equal the batch dup_span_report /
    strip_dup_spans over the union (the maintained gram table is the
    batch op's gram table, written once per doc); a second wave must
    retroactively RAISE the dup_bp of a wave-1 doc it duplicates; and a
    cold restart serves identical results."""
    from responsive_pub_spark.operators import pipeline_ops
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.span_stream import SpanDedupStreaming

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    half = len(rows) // 2
    # wave 2 carries exact copies of 5 wave-1 docs under shifted ids —
    # the retroactive case: wave-1 originals become duplicated spans
    copies = [(int(r.doc_id) + 10**6, r.text) for r in rows[:5]]
    w1 = [(int(r.doc_id), r.text) for r in rows[:half]]
    w2 = [(int(r.doc_id), r.text) for r in rows[half:]] + copies

    lane = SpanDedupStreaming(spark, workdir)
    sch = "doc_id BIGINT, text STRING"
    lane.ingest(spark.createDataFrame(w1, sch))
    lane.advance()
    rep1 = {r.doc_id: r.dup_bp for r in lane.report().collect()}

    lane.ingest(spark.createDataFrame(w2, sch))
    lane.advance()

    union = spark.createDataFrame(w1 + w2, sch)
    batch_rep = {
        tuple(r) for r in pipeline_ops.dup_span_report(union).collect()
    }
    streamed_rep = {tuple(r) for r in lane.report().collect()}
    assert streamed_rep == batch_rep and len(batch_rep) == len(w1 + w2)

    # retroactivity: every copied wave-1 original is now fully duplicated
    rep2 = {r[0]: r[3] for r in streamed_rep}
    for d, _t in w1[:5]:
        assert rep2[d] >= rep1[d]
    full_dup = [d for d, _ in copies]
    assert all(rep2[d] == 10000 for d in full_dup if rep2[d] is not None)

    # strip parity: the canonical-first strip decision over the
    # maintained fingerprints equals the batch op on the union
    batch_strip = {
        tuple(r) for r in pipeline_ops.strip_dup_spans(union).collect()
    }
    streamed_strip = {tuple(r) for r in lane.strip().collect()}
    assert streamed_strip == batch_strip

    # cold restart serves identical results
    lane2 = SpanDedupStreaming(spark, workdir)
    assert {tuple(r) for r in lane2.report().collect()} == batch_rep
    assert {tuple(r) for r in lane2.strip().collect()} == batch_strip


def test_span_stripped_sink_is_incremental_lastwins_and_batch_equal(
    spark, tmp_path
):
    """The materialized strip sink (r14, r13 verdict task-7 stretch):
    after every advance, stripped() — the maintained last-writer-wins
    delta table — row-equals both strip() and the batch strip_dup_spans
    over the union; a steady-state wave's delta handoff reads only NEW
    base files; and the RETROACTIVE canonical flip (a later wave's copy
    with a LOWER doc_id steals canonicality) re-emits the old doc with
    its changed text, which last-wins shadows. Cold-restart stable."""
    from responsive_pub_spark.operators import pipeline_ops
    from responsive_pub_spark.streaming.span_stream import SpanDedupStreaming

    sch = "doc_id BIGINT, text STRING"
    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w tokens
    w1 = [
        (10, span + " tail one two three"),
        (11, "one two three four five six seven eight nine ten"),
    ]
    # wave 2: doc 20 duplicates doc 10's span with a HIGHER id (doc 10
    # stays canonical); doc 5 duplicates doc 11's full text with a
    # LOWER id — doc 11's occurrences LOSE canonicality retroactively
    w2 = [
        (20, span + " other trailing words here"),
        (5, "one two three four five six seven eight nine ten"),
    ]

    wd = str(tmp_path / "span-strip-sink")
    lane = SpanDedupStreaming(spark, wd)
    lane.ingest(spark.createDataFrame(w1, sch))
    lane.advance()
    u1 = spark.createDataFrame(w1, sch)
    want1 = {tuple(r) for r in pipeline_ops.strip_dup_spans(u1).collect()}
    assert {tuple(r) for r in lane.stripped().collect()} == want1
    assert {tuple(r) for r in lane.strip().collect()} == want1
    kept11_before = {r[0]: r[3] for r in want1}[11]
    w1_base = {p for _s, p in lane._base_topic.stamped_files()}

    lane.ingest(spark.createDataFrame(w2, sch))
    lane.advance()
    # files-read gate: the wave-2 delta's handoff wave read no wave-1
    # base file (the gram-context lookup into the maintained postings
    # is the documented honest cost; the WAVE itself is new-files-only)
    assert lane.last_strip_reads
    assert not (set(lane.last_strip_reads) & w1_base)

    u12 = spark.createDataFrame(w1 + w2, sch)
    want2 = {tuple(r) for r in pipeline_ops.strip_dup_spans(u12).collect()}
    got2 = {tuple(r) for r in lane.stripped().collect()}
    assert got2 == want2
    assert {tuple(r) for r in lane.strip().collect()} == want2

    by_id = {r[0]: r[3] for r in got2}
    # higher-id copy: doc 10 keeps its text, doc 20's span is stripped
    assert span in by_id[10] and span not in by_id[20]
    # lower-id copy stole canonicality: doc 11's text CHANGED
    # retroactively (last-wins serves the re-emitted row), doc 5 keeps
    assert by_id[11] != kept11_before and by_id[11] == ""
    assert by_id[5] == w2[1][1]

    # the delta table genuinely re-emitted doc 11 (two rows, newest wins)
    from pyspark.sql import functions as F

    raw = (
        spark.read.schema(
            "doc_id BIGINT, n_tokens BIGINT, kept_tokens BIGINT, "
            "kept_text STRING"
        )
        .option("recursiveFileLookup", "true")
        .parquet(lane.strip_deltas)
    )
    assert raw.filter(F.col("doc_id") == 11).count() == 2

    # cold restart: identical maintained read
    lane2 = SpanDedupStreaming(spark, wd)
    assert {tuple(r) for r in lane2.stripped().collect()} == want2
