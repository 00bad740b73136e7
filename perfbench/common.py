"""What both workloads share: the run context, the Spark session and the
list of metrics every result carries."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from tracing import QueryLog, Tracer, event_log_file, parse_event_log

#: Every per-layer metric, with its unit. A traced run emits all of them; a
#: layer the workload does not reach reports 0.
PER_LAYER = {
    "session.build_s": "s",
    "sources.stage_s": "s",
    "sources.rows_staged": "count",
    "sources.read_table_ms": "ms",
    "api.plan_build_ms": "ms",
    "runtime.query_starts": "count",
    "runtime.start_to_first_batch_s": "s",
    "runtime.planning_ms": "ms",
    "runtime.add_batch_ms": "ms",
    "runtime.wal_commit_ms": "ms",
    "runtime.commit_offsets_ms": "ms",
    "runtime.latest_offset_ms": "ms",
    "runtime.batches": "count",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.checkpoint_mb": "MB",
    "state.python_bytes_sent": "bytes",
    "state.python_bytes_received": "bytes",
    "fk_join.advance_s": "s",
    "fk_join.stage0_s": "s",
    "fk_join.stage1_s": "s",
    "fk_join.subscription_rows_per_input": "ratio",
    "iq.lookup_s": "s",
    "iq.keys_returned": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.executor_run_ms": "ms",
    "spark.driver_gap_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "harness.generator_lag_p90_s": "s",
    "harness.backlog_max_waves": "count",
    "harness.tracing_overhead_frac": "frac",
    "harness.latency_tail_pct": "pct",
    "harness.latency_samples": "count",
    "harness.ops_failed_frac": "frac",
    "harness.reference_s": "s",
}

#: Registry bench queries timed one by one on batch_topologies; fixed here so
#: the metric names stay stable even if the registry's bench set changes. Eight
#: of the registry's 17: the three carried text and TPC-H items, a TPC-H
#: aggregate, a windowed aggregate, a time-series roll-up, a join and a vector
#: search. On a shared 4-vCPU virtual machine all 17 took 25-45 s cold and
#: 8-20 s per warm pass, which leaves a run of about a minute room for one
#: timed pass; these eight leave room for two. With an even count the median
#: query time is the mean of the two middle queries, so no single query's
#: noise sets it.
BENCH_QUERIES = (
    "tpch_q3_shipping",
    "dedup_ngram_jaccard",
    "text_bm25_topk",
    "agg_pricing_summary",
    "window_tumbling",
    "timeseries_rollup_gapfill",
    "join_global",
    "sim_search_bruteforce",
)
for _q in BENCH_QUERIES:
    PER_LAYER[f"registry.query_s.{_q}"] = "s"
PER_LAYER["registry.pass_s"] = "s"
PER_LAYER["registry.cold_pass_s"] = "s"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_pss_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    """One benchmark run: arguments, scratch directory and collected
    figures. Workloads fill ``e2e`` and ``layer``; ``attempted``/``failed``
    count operations (advances, IQ lookups, queries, output checks)."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    tmp: str
    tracer: Tracer = field(init=False)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0.0))
    attempted: int = 0
    failed: int = 0
    context: dict = field(default_factory=dict)
    spark: object = None
    query_log: QueryLog = None
    event_window: tuple = None  # epoch-s bounds of the traced phase

    def __post_init__(self):
        self.tracer = Tracer(self.trace)
        self.event_log_dir = os.path.join(self.tmp, "eventlog")

    def path(self, *parts) -> str:
        return os.path.join(self.tmp, *parts)

    def build_session(self) -> float:
        """Build the Spark session on ``local[nproc]`` with ``nproc``
        shuffle partitions; returns the build time. Everything Spark writes
        goes under the run's scratch directory. Traced runs also switch on
        Spark's event log."""
        from responsive_pub_spark.session import build_spark

        n = cores()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # the heap starts at its cap with every page touched, so how far
            # the collector grew it, and how much of it the run happened to
            # touch, does not vary from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -Xms{os.environ['SPARK_DRIVER_MEM']}"
                " -XX:+AlwaysPreTouch"
            ),
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        with self.tracer.span("session.build_spark"):
            self.spark = build_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{n}]",
                shuffle_partitions=n,
                extra_conf=conf,
            )
        build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.context |= {
            "cores": n,
            "default_parallelism": self.spark.sparkContext.defaultParallelism,
            "spark": self.spark.version,
        }
        self.layer["session.build_s"] = build_s
        return build_s

    def start_tracing(self) -> None:
        """Turn on spans and the streaming-query listener for the traced
        phase of a traced run."""
        self.tracer.enabled = True
        self.query_log = QueryLog()
        self.spark.streams.addListener(self.query_log)

    def read_event_log(self, t0: float, t1: float) -> None:
        """Fold the Spark event log of ``[t0, t1]`` (epoch s) into the layer
        metrics. Call after the session has stopped, so the log is flushed."""
        self.layer |= parse_event_log(event_log_file(self.event_log_dir), t0, t1)

    def metrics(self) -> dict:
        names = self.layer if self.trace else self.e2e
        units = PER_LAYER if self.trace else END_TO_END
        return {k: {"value": float(names[k]), "unit": units[k]} for k in units}
