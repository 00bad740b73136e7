"""SparkSession factory with scale-appropriate defaults.

The reference engine tunes its physical runtime via ResponsiveConfig
(kafka-client/.../api/config/ResponsiveConfig.java). Our analog is a small
set of Spark confs chosen for large-cluster behavior (AQE, skew handling,
Arrow for the Python boundary) that also behave well on local[N] for tests.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession


#: JVM unified logging: drop the default stdout output, warnings to stderr
_JVM_LOG_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr"

#: the fork-free local file system (``jvm/NioLocalFileSystem.java``), built
#: by ``scripts/build_jvm_shim.py``
_SHIM_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar"
)
_SHIM_CLASS = "responsive.spark.fs.NioLocalFileSystem"


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
    - Fork-free local checkpoint I/O on ``local`` and ``local[N]``
      masters. Without the native ``libhadoop`` (not loaded here),
      Hadoop's local file system runs a ``chmod`` child process for every
      file and directory it creates, and its link-status lookup runs
      ``readlink`` on every FileContext rename. Each fork costs the 8g
      driver JVM about 5 ms, and an FK-join advance made hundreds of them
      in its WAL, commit-log and state-store writes.
      ``jvm/NioLocalFileSystem.java`` does the chmod (plain rwx modes) and
      the symlink probe through ``java.nio`` and leaves every other
      operation stock, so checkpoints, ``.crc`` sidecars and file modes
      come out the same and stay readable both ways.
      ``spark.driver.extraClassPath`` gains its jar (after a caller's own
      entries), and ``spark.hadoop.fs.file.impl`` and
      ``spark.hadoop.fs.AbstractFileSystem.file.impl`` name it, unless the
      caller set them. Only where the driver is the only JVM (not
      ``local-cluster``, not a cluster master), and only when no
      SparkContext runs yet: a ``spark.hadoop`` conf reaching a JVM
      without the jar would fail every file operation.
    """
    # before the JVM launches: local-mode Python workers inherit the driver
    # environment at JVM start, so the transformWithState lane's protobuf
    # dependency must be resolved (possibly vendored) now, not at query time
    from responsive_pub_spark.compat import ensure_protobuf_runtime

    ensure_protobuf_runtime()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events fixture stores TIMESTAMP(NANOS); Spark's parquet reader has
        # no nanos type — read as long and convert (sources/readers.py).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": _JVM_LOG_TO_STDERR,
    }
    conf.update(extra_conf or {})
    # scale-dependent overrides without code edits: every SPARK_GRAFT_CONF_*
    # env var becomes a Spark conf (key = suffix with '__' -> '.'), e.g.
    #   SPARK_GRAFT_CONF_spark__sql__join__preferSortMergeJoin=false
    # Local defaults above keep the bench comparable; a cluster deploy sets
    # its own values here instead of forking the session factory.
    for env_k, v in os.environ.items():
        if env_k.startswith("SPARK_GRAFT_CONF_"):
            conf[env_k[len("SPARK_GRAFT_CONF_"):].replace("__", ".")] = v
    master = conf.get("spark.master") or master or f"local[{cpus}]"
    # local-cluster[...] runs executors in JVMs of their own: stock Hadoop
    driver_only = master == "local" or master.startswith("local[")
    if driver_only and _jvm_can_take_the_shim():
        _use_local_fs_shim(conf)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _jvm_can_take_the_shim() -> bool:
    """True when the shim's confs cannot reach a JVM that lacks its jar:
    no SparkContext runs yet, and the driver JVM is either still to be
    launched (it then starts with the jar) or already loads the shim."""
    if SparkContext._active_spark_context is not None:
        return False
    gateway = SparkContext._gateway
    if gateway is None:
        return True
    try:
        gateway.jvm.java.lang.Class.forName(_SHIM_CLASS)
        return True
    except Py4JError:  # ClassNotFoundException: launched without the jar
        return False


def _use_local_fs_shim(conf: dict) -> None:
    """Put the shim's jar on the driver classpath (after a caller's own
    entries) and register its two classes for ``file:``, unless the
    caller registered its own."""
    cp = conf.get("spark.driver.extraClassPath")
    if not cp:
        conf["spark.driver.extraClassPath"] = _SHIM_JAR
    elif _SHIM_JAR not in cp.split(os.pathsep):
        conf["spark.driver.extraClassPath"] = cp + os.pathsep + _SHIM_JAR
    conf.setdefault("spark.hadoop.fs.file.impl", _SHIM_CLASS)
    conf.setdefault(
        "spark.hadoop.fs.AbstractFileSystem.file.impl", _SHIM_CLASS + "$Fs"
    )
