"""Kafka sink — the engine's ``.to(topic)`` front door.

The reference's only sink is a Kafka topic (``.to(topic)`` with Produced
serdes, kafka-client-examples/e2e-test/.../regression/STJoinExample.java:
94-98). This module writes the engine's typed rows in the EXACT wire shape
of Spark's Kafka connector — ``key BINARY, value BINARY, topic STRING`` —
so the same dataflow runs against a real broker by flipping ``sink``:

- ``sink="kafka"``: ``df.write.format("kafka")`` for batch; for streaming a
  ``foreachBatch`` that issues one batch Kafka write per micro-batch — the
  commit-aligned flush of the reference's CommitBuffer
  (internal/stores/CommitBuffer.java:340-395): records become visible at
  micro-batch (commit) boundaries, not mid-batch. Requires the Kafka
  connector on the classpath (not present in the offline test env).
- ``sink="files"``: the same wire rows appended to a parquet "broker log"
  (plus the record timestamp, which a real producer would carry in the
  ProducerRecord). This is the offline contract path: tests round-trip
  typed -> wire -> sink-file -> re-read -> typed and compare exactly, so
  the serde + wire shape is exercised end-to-end without a broker.

At 100 TB the sink is embarrassingly parallel (per-partition producers, no
shuffle introduced by the sink itself); `to_kafka` never repartitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.sources import serde
from responsive_pub_spark.streaming.runtime import run_to_sink

#: Columns the Spark Kafka sink consumes (timestamp is broker-assigned);
#: a ``headers`` column, when present, is carried too — the connector
#: writes it as the record's Kafka headers.
KAFKA_SINK_COLUMNS = ("key", "value", "topic")


def kafka_wire(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    topic: str,
    ts_col: str = "ts",
    headers_col: "str | None" = None,
) -> DataFrame:
    """Typed rows -> Kafka producer-record shape: key/value BINARY via the
    engine serde (sources/serde.py), topic literal, event timestamp, and
    — when ``headers_col`` is given — the connector's optional ``headers``
    column (ARRAY<STRUCT<key STRING, value BINARY>>, the reference record
    model's fourth component, SURVEY.md §1.1; build one with
    functions/headers.make_headers)."""
    rec = serde.to_kafka_records(df, key_cols, value_cols, ts_col, headers_col)
    cols = ["key", "value", F.lit(topic).alias("topic"), "timestamp"]
    if headers_col is not None:
        cols.append("headers")
    return rec.select(*cols)


def to_kafka(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    topic: str,
    *,
    ts_col: str = "ts",
    sink: str = "kafka",
    bootstrap_servers: str | None = None,
    path: str | None = None,
    checkpoint: str | None = None,
    headers_col: str | None = None,
):
    """Write a (batch or streaming) DataFrame to a Kafka topic (or the
    file-broker contract sink). Streaming input is drained once through
    ``runtime.run_to_sink`` and the terminated StreamingQuery returned;
    batch input returns None. ``headers_col`` adds the record-headers
    column to the wire rows: the real connector writes it as Kafka record
    headers; the file broker persists it verbatim (round-trip pinned by
    tests/test_kafka_headers.py)."""
    wire = kafka_wire(df, key_cols, value_cols, topic, ts_col, headers_col)
    sink_cols = list(KAFKA_SINK_COLUMNS) + (
        ["headers"] if headers_col is not None else []
    )
    if sink == "files":
        if path is None:
            raise ValueError("sink='files' requires path=")
        if df.isStreaming:
            if checkpoint is None:
                raise ValueError("streaming sink requires checkpoint=")

            def _emit(bdf: DataFrame, batch_id: int) -> None:
                # one append per micro-batch == one producer flush per commit
                bdf.write.mode("append").parquet(path)

            return run_to_sink(wire, _emit, checkpoint)
        wire.write.mode("append").parquet(path)
        return None
    # real broker path (requires spark-sql-kafka connector on classpath)
    if bootstrap_servers is None:
        raise ValueError("sink='kafka' requires bootstrap_servers=")
    if df.isStreaming:
        if checkpoint is None:
            raise ValueError("streaming sink requires checkpoint=")

        def _produce(bdf: DataFrame, batch_id: int) -> None:
            (
                bdf.select(*sink_cols)
                .write.format("kafka")
                .option("kafka.bootstrap.servers", bootstrap_servers)
                .save()
            )

        return run_to_sink(wire, _produce, checkpoint)
    (
        wire.select(*sink_cols)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .save()
    )
    return None


def read_kafka_log(spark: SparkSession, path: str) -> DataFrame:
    """Re-read the file-broker log as consumer records — same schema a
    ``spark.read.format("kafka")`` batch read yields (key, value, topic,
    timestamp)."""
    return spark.read.parquet(path)


def read_kafka_log_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """STREAMING consumer over the file-broker log: delivers exactly the
    record model a ``spark.readStream.format("kafka")`` source yields
    (key BINARY, value BINARY, topic, timestamp — SURVEY.md §1.1), so a
    topology built against the real connector runs unchanged against the
    offline broker. This is the source-side half of the wire contract:
    tests/test_kafka_sink.py round-trips typed -> to_kafka -> THIS source
    -> serde.from_kafka_records -> typed across incremental drains."""
    wire = read_kafka_log(spark, path)
    r = spark.readStream.schema(wire.schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)
