"""Incrementally-maintained mixture statistics: streaming per-language
token masses feeding the resampling stage.

``pipeline_ops.mixture_resample_tokens`` re-aggregates the whole
corpus's per-lang token masses on every run. In a live pipeline the
masses are corpus STATISTICS — exactly the kind of thing a maintained
table should serve (the Bm25Streaming df/stats posture applied to the
data-mixing stage): documents stream in, each batch's token counts are
per-row JVM expressions (the regex surrogate — no state in the map
phase), and ONE update-mode streaming aggregation keeps the per-lang
running totals current in a KV table. ``resample()`` then applies the
mixture decision to ANY document frame through
``mixture_resample_tokens``'s ``masses=`` injection point — rates
derive from the maintained table; nothing corpus-wide re-aggregates at
decision time.

Parity contract (tests/test_streaming.py): masses are order-independent
sums, so after any sequence of ingest waves ``resample(union)``
row-equals the batch ``mixture_resample_tokens(union)`` — the gate
oracle is the batch oracle VERBATIM.

Why this shape matters at 100 TB: the mixture recipe for the next
training run ("30% English tokens") needs the corpus's CURRENT masses;
recomputing them is a full-corpus scan per decision, while the
maintained table is lang-cardinality-sized (a scale constant) and the
decision itself is one broadcast join + a deterministic per-doc hash —
replays and retries keep the same sample.

Reference anchor: KTable aggregation as a materialized view
(kafka-client KGroupedStream.aggregate) — here the view is the
per-domain token-mass table the mixing stage consumes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.functions import text as T
from responsive_pub_spark.operators.pipeline_ops import (
    mixture_resample_tokens,
)
from responsive_pub_spark.streaming.kv_sink import KeyValueTableSink
from responsive_pub_spark.streaming.runtime import run_to_sink

DOCS_SCHEMA = "doc_id BIGINT, lang STRING, text STRING"


class MixtureStreaming:
    """Incrementally-maintained per-lang token masses over a docs file
    topic (see module docstring). All state is under ``workdir``; a
    fresh instance resumes from the checkpoint (cold restart)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.docs_dir = os.path.join(workdir, "docs")
        self.ck = os.path.join(workdir, "ck-masses")
        os.makedirs(self.docs_dir, exist_ok=True)
        self.sink = KeyValueTableSink(
            os.path.join(workdir, "masses"), ["lang"], ["n_d"]
        )

    def ingest(self, docs: DataFrame) -> None:
        """Append a wave of (doc_id, lang, text) docs to the topic."""
        docs.select("doc_id", "lang", "text").write.mode("append").parquet(
            self.docs_dir
        )

    def advance(self) -> None:
        """Drain pending docs through the mass-maintenance aggregation."""
        docs = (
            self.spark.readStream.schema(DOCS_SCHEMA)
            # handoff waves are committed DIRECTORIES (handoff.ship)
            .option("recursiveFileLookup", "true")
            .parquet(self.docs_dir)
        )
        bpe = (
            f"size(regexp_extract_all(text, "
            f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
        )
        masses = (
            docs.select("lang", F.expr(bpe).cast("bigint").alias("n_tokens"))
            .groupBy("lang")
            .agg(F.sum("n_tokens").cast("bigint").alias("n_d"))
        )
        run_to_sink(masses, self.sink, self.ck, output_mode="update")

    def compact(self) -> None:
        """Fold the masses KV table's delta log into one base delta
        (changelog truncation — kv_sink.KeyValueTableSink.compact)."""
        self.sink.compact(self.spark)

    # -- maintained state readers ----------------------------------------
    def masses(self) -> DataFrame:
        """Current (lang, n_d) per-language token masses."""
        return self.sink.read(self.spark)

    def resample(
        self,
        docs: DataFrame,
        weights_bp: "dict[str, int] | None" = None,
        counts: "DataFrame | None" = None,
    ) -> DataFrame:
        """Apply the mixture decision to ``docs`` from the MAINTAINED
        masses — ``mixture_resample_tokens`` with its ``masses=``
        injection; per-doc token counts still come from ``counts=`` or
        the regex surrogate, only the aggregate is served from state."""
        return mixture_resample_tokens(
            docs,
            weights_bp=weights_bp,
            counts=counts,
            masses=self.masses(),
        )
