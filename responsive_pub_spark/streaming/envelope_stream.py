"""Incrementally-maintained JSON envelope audit: the streaming twin of
``timeseries.json_envelope_audit``.

The batch audit answers "what does this envelope carry?" with one pass
over the corpus. An event pipeline wants the SAME inventory kept
current as events arrive — new keys surface the moment a producer
starts emitting them, type drift (a field flipping int -> string)
shows up as a growing second histogram bucket — without re-scanning
history. This lane maintains it as ONE stateful streaming aggregation:

- per arriving event, the batch op's OWN variant expressions run as
  per-row JVM code (``try_parse_json`` once, key explode, per-key type
  via ``variant_get``/``schema_of_variant`` — no Python, no state);
- the counts aggregate in an update-mode streaming ``groupBy``
  (event_type, key) — state is inventory-sized (distinct keys x event
  types, a schema-scale constant), never corpus-sized;
- upserts land in a ``KeyValueTableSink`` (the BM25 df-lane posture:
  crash-atomic staged-rename deltas, redelivery fencing, compaction).

Parity contract (tests/test_streaming.py): counts are order-independent
sums, so after any sequence of ingest waves ``audit()`` row-equals the
batch ``json_envelope_audit`` over the union of the waves — the gate
oracle is the batch oracle VERBATIM (no wave-major rewrite needed).

Reference anchor: the materialized-view posture of KTable aggregations
(kafka-client KGroupedStream.aggregate) applied to the schema-on-read
report; delivery is exactly-once end to end (per-query checkpoint +
the sink's staged-rename commit).

Scale posture: the only shuffle is the (event_type, key)-keyed
aggregation with map-side partials; the maintained table is the
inventory itself — reading it costs O(schema), not O(events ever).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from responsive_pub_spark.operators.timeseries import json_envelope_audit
from responsive_pub_spark.streaming.kv_sink import KeyValueTableSink
from responsive_pub_spark.streaming.runtime import run_to_sink

EVENTS_SCHEMA = "event_type STRING, props STRING"
COUNT_COLS = ["n_present", "n_null", "n_num", "n_str", "n_bool", "n_nested"]


class EnvelopeAuditStreaming:
    """Incrementally-maintained envelope inventory over an events file
    topic (see module docstring). All state is under ``workdir``; a
    fresh instance resumes from the checkpoint (cold restart)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.events_dir = os.path.join(workdir, "events")
        self.ck = os.path.join(workdir, "ck-audit")
        os.makedirs(self.events_dir, exist_ok=True)
        self.sink = KeyValueTableSink(
            os.path.join(workdir, "audit"),
            ["event_type", "key"],
            COUNT_COLS,
        )

    def ingest(self, events: DataFrame) -> None:
        """Append a wave of (event_type, props) events to the topic."""
        events.select("event_type", "props").write.mode("append").parquet(
            self.events_dir
        )

    def advance(self) -> None:
        """Drain pending events through the maintenance aggregation."""
        ev = self.spark.readStream.schema(EVENTS_SCHEMA).parquet(
            self.events_dir
        )
        # the batch op ITSELF runs on the streaming frame (every stage —
        # variant parse, key explode, type bucket, keyed agg — is valid
        # on a streaming DataFrame in update mode), so batch/stream
        # parity holds BY CONSTRUCTION instead of by keeping a 50-line
        # copy in sync (r12 ADVICE)
        counts = json_envelope_audit(ev)
        run_to_sink(counts, self.sink, self.ck, output_mode="update")

    def compact(self) -> None:
        """Fold the audit KV table's delta log into one base delta
        (changelog truncation — kv_sink.KeyValueTableSink.compact)."""
        self.sink.compact(self.spark)

    def audit(self) -> DataFrame:
        """The maintained inventory — the batch op's exact schema:
        (event_type, key, n_present, n_null, n_num, n_str, n_bool,
        n_nested)."""
        return self.sink.read(self.spark)
