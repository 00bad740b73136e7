"""Source readers.

The reference's only source is a Kafka topic (builder.stream/table,
STJoinExample.java:58-64). Our engine reads any Spark source; the test
fixtures are parquet tables (TESTDATA.md). ``read_stream_parquet`` gives the
file-based streaming analog of a topic: new files == new records, usable
with ``maxFilesPerTrigger`` and the ``streaming.runtime.run_to_sink`` drain
for deterministic micro-batching.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: path -> spread decision cache (the scan partition count is a property of
#: the file layout; probing it costs a py4j round-trip per call otherwise).
_SPREAD: dict = {}


def spread_scan(spark: SparkSession, df: DataFrame, key: "str | None" = None) -> DataFrame:
    """Scale-adaptive scan parallelization (optimization guide §2.5, "input
    skew: one huge unsplittable file ... repartition immediately after the
    read").

    A parquet scan cannot be split below a row group, and the fixture
    tables are single-row-group files — every scan is ONE task, so any
    expression-dense stage fused above it (gram explode + hashing, vector
    arithmetic, regex tokenization) runs on one core while the other
    cluster cores idle. Measured on text_novelty at sf0.1/local[32]: the
    whole 12s query was one task's aggregation-build time; spreading the
    5k docs over the cluster before the gram stage cut it to ~1.5-3s.

    Adaptive, not local-tuned: rows are redistributed ONLY when the scan's
    split count is below the cluster's defaultParallelism, i.e. when the
    input is too small or too unsplittable to occupy the cluster. At
    production scale a 100 TB table scans as millions of splits, the
    condition never fires, and no extra exchange enters the plan; the
    shuffle this adds in the small-input regime moves at most
    (defaultParallelism - 1) splits' worth of bytes, which is by
    construction the regime where that is cheap.

    NOT applied inside read_table: a registry-wide interleaved A/B (r14)
    showed the extra exchange is pure overhead for queries whose heavy
    work already sits behind their own first shuffle (every relational
    aggregate/join, and the corpus queries that pool a shuffled
    intermediate) — 2-3x slower on agg_pricing_summary / window_tumbling /
    join_asof. Call sites opt in per query where the first stage is
    expression-dense and pre-shuffle (registry._ts)."""
    p = spark.sparkContext.defaultParallelism
    if key is None:
        return df.repartition(p) if df.rdd.getNumPartitions() < p else df
    dec = _SPREAD.get((key, p))
    if dec is None:
        dec = p if df.rdd.getNumPartitions() < p else 0
        _SPREAD[(key, p)] = dec
    return df.repartition(dec) if dec else df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one fixture table. Column pruning + predicate pushdown into
    the parquet scan come free from using the DataFrame reader.

    The ``events`` fixture stores TIMESTAMP(NANOS). Depending on the Spark
    build this surfaces either as a rejected read unless nanos-as-long is
    enabled (older readers: we truncate the long to microsecond
    timestamps) or natively as a micro-truncated TIMESTAMP_NTZ (4.1+).
    Both paths normalize ``ts`` to a UTC TIMESTAMP (LTZ): watermarks
    reject NTZ event time, and NTZ's session-timezone-dependent casts
    would break oracle parity — the DuckDB oracles truncate to micros and
    treat the values as UTC (``registry._EV``), so event-time arithmetic
    matches exactly. The NTZ->LTZ cast reads the session timezone at
    ANALYSIS time (Dataset creation is eagerly analyzed; the resolved
    zoneId is baked into the Cast), so we pin UTC only around the
    ``withColumn`` and restore the caller's timezone immediately — reading
    a fixture must not permanently mutate session timestamp semantics for
    unrelated queries (ADVICE r3).
    """
    path = table_path(sf_dir, name)
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        finally:
            if prev_tz is not None:
                spark.conf.set("spark.sql.session.timeZone", prev_tz)
            else:
                spark.conf.unset("spark.sql.session.timeZone")
    return df


def read_stream_parquet(
    spark: SparkSession, path: str, schema=None, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming file source (topic analog)."""
    reader = spark.readStream
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


#: Explicit JSONL document schema — corpus interchange format. Schema is
#: PINNED, never inferred: at 100 TB an inference pass is a full extra
#: scan, and drifting inferred types (int vs bigint, string vs timestamp)
#: silently fork pipelines. Unknown keys are dropped by the reader;
#: corrupt lines land in _corrupt_record instead of failing the job.
JSONL_DOC_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, "
    "n_chars BIGINT, _corrupt_record STRING"
)


def read_jsonl_docs(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read a JSONL document corpus (one JSON object per line — the
    standard LLM training-data interchange shape) into the engine's
    ``documents`` schema.

    PERMISSIVE mode + explicit ``_corrupt_record``: malformed lines are
    quarantined as rows (filter ``_corrupt_record IS NOT NULL`` into a
    dead-letter sink), never job failures — at 100 TB a one-in-a-billion
    bad line must not kill a 6-hour run. Valid rows project the corrupt
    column away."""
    df = (
        spark.read.schema(JSONL_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return df


def split_corrupt(df: DataFrame):
    """(valid_rows, dead_letter_rows) from a PERMISSIVE jsonl read.

    Dead-letter rows keep ALL columns (raw line in ``_corrupt_record``,
    parsed fields null). Spark refuses to answer queries over a raw JSON
    scan whose referenced columns reduce to only the internal corrupt
    column (column pruning makes even ``dead.count()`` such a query), and
    its documented contract is to cache the parsed result first — so the
    split caches ``df``: one parse feeds both branches, which is also the
    right plan (valid + dead are one scan, not two)."""
    df = df.cache()
    valid = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    dead = df.filter(F.col("_corrupt_record").isNotNull())
    return valid, dead


def read_stream_jsonl_docs(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming JSONL corpus source: new files == new documents (the
    file-based analog of a document-ingest topic), pinned schema, same
    dead-letter contract as the batch reader."""
    r = (
        spark.readStream.schema(JSONL_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.json(path)


def read_csv_docs(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """Batch-read a CSV/TSV document corpus into the engine's ``documents``
    schema — the other standard training-data interchange shape next to
    JSONL (``sep="\\t"`` for TSV).

    Same dead-letter contract as :func:`read_jsonl_docs`: PERMISSIVE mode
    with an explicit ``_corrupt_record`` — a malformed line (wrong column
    count, unparseable number) becomes a quarantine ROW carrying the raw
    line, never a job failure; route through :func:`split_corrupt`.
    ``multiLine`` stays OFF: multiline CSV parsing is not splittable (one
    file = one task), the wrong shape at 100 TB — corpora with embedded
    newlines should carry them escaped (``\\n``) or ship JSONL/parquet."""
    return (
        spark.read.schema(JSONL_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", str(bool(header)).lower())
        .option("sep", sep)
        .option("enforceSchema", "false")
        .csv(path)
    )


def read_stream_csv_docs(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming CSV corpus source — same file-ingest/dead-letter contract
    as :func:`read_stream_jsonl_docs`."""
    r = (
        spark.readStream.schema(JSONL_DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", "true")
        .option("sep", sep)
    )
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.csv(path)
