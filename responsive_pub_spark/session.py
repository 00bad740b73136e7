"""SparkSession factory with scale-appropriate defaults.

The reference engine tunes its physical runtime via ResponsiveConfig
(kafka-client/.../api/config/ResponsiveConfig.java). Our analog is a small
set of Spark confs chosen for large-cluster behavior (AQE, skew handling,
Arrow for the Python boundary) that also behave well on local[N] for tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: JVM unified logging: drop the default stdout output, warnings to stderr
_JVM_LOG_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr"


def build_spark(
    app_name: str = "responsive-pub-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    Defaults matter at scale:
    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
      replaces the reference's static sub-partitioning
      (internal/db/partitioning/SubPartitioner.java:29-101).
    - Arrow on: every Python-boundary op (pandas UDFs, applyInPandas) is
      vectorized, the analog of the reference's async batching
      (internal/async/AsyncThreadPool).
    - UTC session timezone: deterministic event-time semantics.
    - Driver-side file listing up to 1024 paths: a file-stream micro-batch
      names its new files, and past the default of 32 Spark launched a
      distributed job per batch just to stat them (two 36-task jobs in an
      FK-join advance that picked up 36 files).
    - JVM unified logging on stderr (``-Xlog:disable
      -Xlog:all=warning:stderr``): the JVM's default prints its warnings,
      such as a GC allocation warning, on stdout, where they land ahead of
      a bench script's JSON line. A caller's own
      ``spark.driver.extraJavaOptions`` replaces this default.
    """
    # before the JVM launches: local-mode Python workers inherit the driver
    # environment at JVM start, so the transformWithState lane's protobuf
    # dependency must be resolved (possibly vendored) now, not at query time
    from responsive_pub_spark.compat import ensure_protobuf_runtime

    ensure_protobuf_runtime()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events fixture stores TIMESTAMP(NANOS); Spark's parquet reader has
        # no nanos type — read as long and convert (sources/readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus) if str(cpus).isdigit() else 32),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", _JVM_LOG_TO_STDERR)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # scale-dependent overrides without code edits: every SPARK_GRAFT_CONF_*
    # env var becomes a Spark conf (key = suffix with '__' -> '.'), e.g.
    #   SPARK_GRAFT_CONF_spark__sql__join__preferSortMergeJoin=false
    # Local defaults above keep the bench comparable; a cluster deploy sets
    # its own values here instead of forking the session factory.
    for env_k, v in os.environ.items():
        if env_k.startswith("SPARK_GRAFT_CONF_"):
            builder = builder.config(
                env_k[len("SPARK_GRAFT_CONF_"):].replace("__", "."), v
            )
    return builder.getOrCreate()
