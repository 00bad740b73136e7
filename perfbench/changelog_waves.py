"""``changelog_waves``: an open-loop changelog into the streaming FK join,
with interactive-query (IQ) reads beside the writes.

A generator thread writes waves of ``orders`` changelog records (inserts,
value updates, foreign-key moves and tombstones over a bounded key space)
into ``FkJoinStreaming``'s left topic on a fixed schedule that does not slow
when the engine does. Each record carries its creation time. The consumer
calls ``advance()`` on a fixed trigger interval, like a processing-time
trigger, and after every advance runs an IQ point lookup against the stage-1
subscription store (reading its own writes). Advancing as soon as waves were
pending made the number of advances per run, and with it latency, swing
with small changes in machine speed. A wave's latency is the time from its
creation to the return of the ``advance()`` that committed it, so a stall
also delays every wave queued behind it.

Customer updates for the right topic are chosen by the generator but written
by the consumer just before an advance, with an event time later than every
left record written so far. That keeps event-time order equal to processing
order across the two topics, which the changelog snapshot relies on.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tracing import dir_mb, median, query_walls, tail

CUSTOMERS = 1500  # the sf0.01 customer table
ORDER_KEYS = 1500  # bounded live key space of the left changelog
WAVE_ROWS = 20
WAVE_INTERVAL_S = 0.25
TRIGGER_S = 9.0  # advance cadence; a warm advance plus a lookup took 5-9 s
CUSTOMER_UPDATE_EVERY = 4  # waves; each carries CUSTOMER_UPDATE_ROWS names
CUSTOMER_UPDATE_ROWS = 20
IQ_KEYS = 5
DRAIN_LIMIT_S = 90  # a phase that cannot commit its waves by then has failed

LEFT_SCHEMA = "o_orderkey BIGINT, o_custkey BIGINT, payload STRING, ts DOUBLE, created DOUBLE"
RIGHT_SCHEMA = "c_custkey BIGINT, c_name STRING, ts DOUBLE"


class ChangelogModel:
    """The live rows the changelog describes, and the seeded source of every
    record. Event time is a counter one second per record, so each record of
    a key has its own ``ts_sec`` in the join changelog."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.live: dict[int, tuple[int, str]] = {}
        self.names = {c: f"Customer#{c:09d}" for c in range(CUSTOMERS)}
        self.seq = 0
        self.updates = 0

    def _ts(self, n: int) -> np.ndarray:
        ts = np.arange(self.seq, self.seq + n, dtype=np.float64)
        self.seq += n
        return ts

    def initial(self) -> tuple[pa.Table, pa.Table]:
        cust = pa.table(
            {
                "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
                "c_name": [self.names[c] for c in range(CUSTOMERS)],
                "ts": self._ts(CUSTOMERS),
            }
        )
        keys = np.arange(ORDER_KEYS, dtype=np.int64)
        fks = self.rng.integers(0, CUSTOMERS, ORDER_KEYS)
        ts = self._ts(ORDER_KEYS)
        payloads = [f"o{k}@{int(t)}" for k, t in zip(keys, ts)]
        self.live = {int(k): (int(f), p) for k, f, p in zip(keys, fks, payloads)}
        orders = pa.table(
            {
                "o_orderkey": keys,
                "o_custkey": fks.astype(np.int64),
                "payload": payloads,
                "ts": ts,
                "created": np.zeros(ORDER_KEYS),
            }
        )
        return cust, orders

    def wave(self) -> tuple[list, list, list, np.ndarray]:
        """One wave of distinct keys: an insert for a dead key; for a live
        key a value update (50%), a foreign-key move (30%) or a tombstone
        (20%)."""
        keys = self.rng.choice(ORDER_KEYS, WAVE_ROWS, replace=False)
        ops = self.rng.random(WAVE_ROWS)
        fks_new = self.rng.integers(0, CUSTOMERS, WAVE_ROWS)
        ts = self._ts(WAVE_ROWS)
        out_k, out_f, out_p = [], [], []
        for k, op, nf, t in zip(keys.tolist(), ops, fks_new.tolist(), ts):
            payload = f"o{k}@{int(t)}"
            if k not in self.live:
                self.live[k] = (nf, payload)
            elif op < 0.5:
                nf = self.live[k][0]
                self.live[k] = (nf, payload)
            elif op < 0.8:
                self.live[k] = (nf, payload)
            else:
                del self.live[k]
                nf, payload = None, None
            out_k.append(k)
            out_f.append(nf)
            out_p.append(payload)
        return out_k, out_f, out_p, ts

    def customer_update(self) -> list[int]:
        return self.rng.choice(CUSTOMERS, CUSTOMER_UPDATE_ROWS, replace=False).tolist()

    def rename(self, custkeys: list[int]) -> pa.Table:
        self.updates += 1
        for c in custkeys:
            self.names[c] = f"Customer#{c:09d}-u{self.updates}"
        return pa.table(
            {
                "c_custkey": pa.array(custkeys, pa.int64()),
                "c_name": [self.names[c] for c in custkeys],
                "ts": self._ts(len(custkeys)),
            }
        )


def _write(table: pa.Table, tmp_dir: str, topic_dir: str, name: str) -> None:
    """Atomic publish: the file source never lists a half-written file."""
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(topic_dir, name))


def _wave_table(keys: list, fks: list, payloads: list, ts: np.ndarray,
                created: float) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(fks, pa.int64()),
            "payload": pa.array(payloads, pa.string()),
            "ts": ts,
            "created": np.full(len(keys), created),
        }
    )


def _processed_files(ckpt: str) -> set[str]:
    """Files a streaming file source has committed, from its checkpoint log."""
    log = os.path.join(ckpt, "sources", "0")
    out = set()
    for name in os.listdir(log) if os.path.isdir(log) else ():
        if name.startswith("."):
            continue  # checksum files
        try:
            with open(os.path.join(log, name)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:
            continue  # compacted away while we listed
        out.update(os.path.basename(json.loads(x)["path"]) for x in lines if x)
    return out


class Generator(threading.Thread):
    """Writes ``n`` waves, wave ``i`` due at ``t0 + i * interval``; never
    waits for the consumer. Appends ``(name, created)`` per wave and queues
    the customer updates the consumer must publish."""

    def __init__(self, model: ChangelogModel, lock: threading.Lock, left_dir: str,
                 staging: str, first: int, n: int):
        super().__init__(daemon=True)
        self.model, self.lock = model, lock
        self.left_dir, self.staging = left_dir, staging
        self.first, self.n = first, n
        self.waves: list[tuple[str, float]] = []
        self.lag: list[float] = []
        self.pending_customers: list[list[int]] = []
        self.t0 = 0.0
        self.error: BaseException | None = None

    def run(self):
        try:
            for i in range(self.n):
                due = self.t0 + i * WAVE_INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                w = self.first + i
                with self.lock:
                    k, f, p, ts = self.model.wave()
                    created = time.time()
                    self.lag.append(created - due)
                    name = f"w{w:06d}.parquet"
                    _write(_wave_table(k, f, p, ts, created), self.staging, self.left_dir, name)
                    if (w + 1) % CUSTOMER_UPDATE_EVERY == 0:
                        self.pending_customers.append(self.model.customer_update())
                    self.waves.append((name, created))
        except BaseException as e:  # surfaced by the consumer
            self.error = e


class ChangelogWaves:
    def __init__(self, run):
        self.run = run
        self.model = ChangelogModel(run.seed)
        self.lock = threading.Lock()
        self.workdir = run.path("fkjoin")
        self.staging = run.path("staging")
        self.wave_count = 0
        self.rng_iq = np.random.default_rng(run.seed + 1)
        self.customer_files = 0

    def _join(self):
        from responsive_pub_spark.operators.fk_join import FkJoinStreaming

        return FkJoinStreaming(
            self.run.spark, self.workdir, LEFT_SCHEMA, RIGHT_SCHEMA,
            left_key="o_orderkey", fk="o_custkey", right_key="c_custkey",
            left_payload="payload", right_payload="c_name", ts_col="ts",
        )

    def stage(self, workdir: str) -> int:
        """Publish the customers and the initial orders into fresh topics."""
        model = ChangelogModel(self.run.seed)
        cust, orders = model.initial()
        for d in ("left", "right", "staging"):
            os.makedirs(os.path.join(workdir, d), exist_ok=True)
        staging = os.path.join(workdir, "staging")
        _write(cust, staging, os.path.join(workdir, "right"), "c000000.parquet")
        _write(orders, staging, os.path.join(workdir, "left"), "w000000-init.parquet")
        return cust.num_rows + orders.num_rows

    def setup(self) -> None:
        import shutil

        run = self.run
        build_s = run.build_session()
        stage_s = []
        for rep in range(3):
            wd = self.workdir if rep == 0 else run.path(f"stage-rep{rep}")
            t0 = time.perf_counter()
            with run.tracer.span("sources.stage"):
                rows = self.stage(wd)
            stage_s.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(wd)
        self.model.initial()  # same seed: the model now matches the topics
        os.makedirs(self.staging, exist_ok=True)
        self.join = self._join()
        t0 = time.perf_counter()
        with run.tracer.span("fk_join.advance"):
            self.join.advance()  # initial load: the customer table and the first orders
        load_s = time.perf_counter() - t0
        run.attempted += 1
        run.layer["sources.stage_s"] = median(stage_s)
        run.layer["sources.rows_staged"] = rows
        run.e2e["setup_s"] = build_s + median(stage_s) + load_s

    def warm_up(self) -> None:
        """One wave, one customer update, an advance and a lookup, untimed:
        the first advance after the initial load ran 1-2 s slower than those
        after it."""
        self.wave_count += 1
        with self.lock:
            k, f, p, ts = self.model.wave()
            _write(_wave_table(k, f, p, ts, time.time()), self.staging,
                   self.join.left_dir, f"w{self.wave_count:06d}.parquet")
            self.customer_files += 1
            _write(self.model.rename(self.model.customer_update()), self.staging,
                   self.join.right_dir, f"c{self.customer_files:06d}.parquet")
        self.join.advance()
        self.run.attempted += 1
        self._iq([], [])

    def _publish_customers(self, gen: Generator) -> None:
        with self.lock:
            while gen.pending_customers:
                table = self.model.rename(gen.pending_customers.pop(0))
                self.customer_files += 1
                _write(table, self.staging, self.join.right_dir,
                       f"c{self.customer_files:06d}.parquet")

    def _iq(self, lookups: list[float], answered: list[int]) -> None:
        from responsive_pub_spark.streaming import iq

        run = self.run
        keys = [str(k) for k in self.rng_iq.choice(CUSTOMERS, IQ_KEYS, replace=False)]
        t0 = time.perf_counter()
        with run.tracer.span("iq.query_processor_state"):
            rows = iq.query_processor_state(
                run.spark, self.join.ck1, ["join_key"], group_keys=keys
            ).collect()
        lookups.append(time.perf_counter() - t0)
        answered.append(len(rows))
        run.attempted += 1
        # every customer holds its ('r',) entry, so each key must answer
        if {str(r.join_key) for r in rows} != set(keys):
            run.failed += 1

    def phase(self, seconds: float) -> dict:
        """Run the open loop for ``seconds`` of generation, then drain."""
        run = self.run
        n = max(1, round(seconds / WAVE_INTERVAL_S))
        gen = Generator(self.model, self.lock, self.join.left_dir, self.staging,
                        self.wave_count + 1, n)
        self.wave_count += n
        created: dict[str, float] = {}
        credited: set[str] = set()
        latency, advances, lookups, answered, backlog = [], [], [], [], []
        gen.t0 = time.time() + 0.05
        deadline = gen.t0 + seconds + DRAIN_LIMIT_S
        next_tick = gen.t0 + TRIGGER_S
        gen.start()
        while len(credited) < n:
            if gen.error is not None:
                raise gen.error
            if time.time() > deadline:
                raise RuntimeError(f"{n - len(credited)} waves still uncommitted")
            if time.time() < next_tick:
                time.sleep(0.01)
                continue
            # an advance that overruns its slot starts the next one at once
            next_tick = max(next_tick + TRIGGER_S, time.time())
            for name, c in gen.waves[len(created):]:
                created[name] = c
            pending = [w for w in created if w not in credited]
            if not pending:
                continue
            backlog.append(len(pending))
            self._publish_customers(gen)
            t0 = time.perf_counter()
            with run.tracer.span("fk_join.advance"):
                self.join.advance()
            advances.append(time.perf_counter() - t0)
            done = time.time()
            run.attempted += 1
            # stage 0 lists the topic after the advance began: waves written
            # in between are committed by this advance too
            with self.lock:
                for name, c in gen.waves[len(created):]:
                    created[name] = c
            committed = _processed_files(self.join.ck0) & set(created) - credited
            for w in committed:
                latency.append(done - created[w])
                credited.add(w)
            self._iq(lookups, answered)
        gen.join(timeout=10)
        print(f"changelog_waves: advance walls {[round(a, 3) for a in advances]},"
              f" lookups {[round(x, 3) for x in lookups]}", file=sys.stderr, flush=True)
        return {"latency": latency, "advances": advances, "lookups": lookups, "answered": answered,
                "backlog": backlog, "lag": gen.lag}

    def check(self) -> None:
        """Compare the compacted join changelog with a DuckDB join of the
        model's final live rows."""
        from responsive_pub_spark.operators.fk_join import fk_join_snapshot

        run = self.run
        got = fk_join_snapshot(self.join.changelog()).toPandas()
        live = pa.table(
            {
                "k": pa.array(list(self.model.live), pa.int64()),
                "fk": pa.array([v[0] for v in self.model.live.values()], pa.int64()),
                "p": [v[1] for v in self.model.live.values()],
            }
        )
        cust = pa.table(
            {"c": pa.array(list(self.model.names), pa.int64()),
             "name": list(self.model.names.values())}
        )
        con = duckdb.connect()
        con.register("live", live)
        con.register("cust", cust)
        want = con.execute(
            "SELECT CAST(k AS VARCHAR) AS left_key, p AS left_payload,"
            " name AS right_payload FROM live JOIN cust ON fk = c"
        ).fetchall()
        con.close()
        got_rows = sorted(map(tuple, got[["left_key", "left_payload", "right_payload"]].values.tolist()))
        run.attempted += 1
        if got_rows != sorted(want):
            run.failed += 1
            a, b = set(got_rows), set(want)
            print(f"changelog_waves: snapshot mismatch ({len(got_rows)} vs {len(want)} rows):"
                  f" engine-only {sorted(a - b)[:3]}, reference-only {sorted(b - a)[:3]}",
                  file=sys.stderr, flush=True)


def run_workload(run) -> None:
    from responsive_pub_spark.streaming import state

    run.context["fixture"] = (
        f"generated changelog: {CUSTOMERS} customers, {ORDER_KEYS} order keys,"
        f" {WAVE_ROWS} records per wave every {WAVE_INTERVAL_S} s"
    )
    w = ChangelogWaves(run)
    with run.tracer.span("setup"):
        w.setup()
    tracing = run.tracer.enabled
    run.tracer.enabled = False
    w.warm_up()
    run.tracer.enabled = tracing
    if run.trace:
        # the open loop runs twice, untraced then traced: their advance times
        # give the tracing overhead; per-layer figures come from the second
        run.tracer.enabled = False
        untraced = w.phase(run.seconds)
        run.start_tracing()
        build = state.process_streaming

        def traced_build(*a, **k):
            with run.tracer.span("api.plan_build"):
                return build(*a, **k)

        state.process_streaming = traced_build
        t0 = time.time()
        res = w.phase(run.seconds)
        t1 = time.time()
        state.process_streaming = build
    else:
        res = w.phase(run.seconds)
    w.check()

    lat_tail, pct = tail(res["latency"])
    run.e2e |= {
        "latency_p50_s": median(res["latency"]),
        "latency_tail_s": lat_tail,
    }
    L = run.layer
    L["harness.latency_tail_pct"] = pct
    L["harness.latency_samples"] = len(res["latency"])
    L["harness.generator_lag_p90_s"] = float(np.percentile(res["lag"], 90))
    L["harness.backlog_max_waves"] = max(res["backlog"], default=0)
    L["fk_join.advance_s"] = median(res["advances"])
    L["iq.lookup_s"] = median(res["lookups"])
    L["iq.keys_returned"] = median(res["answered"])
    if run.trace:
        log = run.query_log
        L |= log.summary()
        # by the sink's directory: the scratch directory's own name starts
        # with the workload's name, so a bare "changelog" matches every sink
        stage0 = log.sink_runs(os.path.join(os.sep + "fkjoin", "subscriptions"))
        stage1 = log.sink_runs(os.path.join(os.sep + "fkjoin", "changelog"))
        L["fk_join.stage0_s"] = median(query_walls(log, stage0))
        L["fk_join.stage1_s"] = median(query_walls(log, stage1))
        # the file sink reports no row count: stage 1 reads what stage 0 wrote
        rows_in = sum(p["numInputRows"] for p in stage0)
        rows_out = sum(
            s["numInputRows"] for p in stage1 for s in p["sources"]
            if "subscriptions" in s["description"]
        )
        L["fk_join.subscription_rows_per_input"] = rows_out / rows_in if rows_in else 0.0
        L["api.plan_build_ms"] = 1000 * median(run.tracer.durations("api.plan_build"))
        L["state.checkpoint_mb"] = dir_mb(w.join.ck0) + dir_mb(w.join.ck1)
        L["harness.tracing_overhead_frac"] = (
            median(res["advances"]) / median(untraced["advances"]) - 1
        )
        run.event_window = (t0, t1)
