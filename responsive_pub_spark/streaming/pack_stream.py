"""Incremental sequence packing: streaming continuation of
``pipeline_ops.pack_sequences``.

The batch packer concatenates each language's documents in (lang,
doc_id) order and cuts fixed-budget token sequences. A live pipeline
cannot re-concatenate sequences it has already emitted, so the
streaming form fixes arrival order ACROSS waves and keeps doc_id order
WITHIN each wave per language: every micro-batch runs the SAME
``bucketed_running_sum`` two-pass prefix sum as the batch op (keyed by
lang — never a per-lang single-reducer window), offset by a CARRIED
per-language token-total table, and appends to the assignment log.
Only each language's LAST sequence is ever open.

This is the keyed generalization of ``streaming/shard_stream.py``'s
protocol on the SHARED delta+marker commit log
(``streaming/commitlog.py``): the carried state is a per-lang total
TABLE (a handful of rows — language cardinality is a scale constant)
instead of one scalar, committed in the same delta-then-ATOMIC-marker
order (the staged-rename commit of the ``commitlog`` module docstring —
a SIGKILL mid-marker can never leave an empty marker that silently
resets every language's carried total).
A redelivered batch whose marker exists is skipped; a crash between
delta and marker replays the same rows and overwrites the torn delta;
languages absent from a batch carry their totals forward unchanged.
Chaos labels arm via the lane's OWN env var (SPARK_GRAFT_PACK_KILL) so
the composed pretrain pipeline can chaos-test one lane at a time.

Batch parity (tests/test_pack_stream.py): after waves W1..Wk,
``assignments()`` row-equals ``pack_sequences``'s single-window twin
ordered (lang, wave, doc_id) — the gate oracle is the batch oracle with
one extra wave-major sort key inside each language partition.

Log growth is BOUNDED: :meth:`compact` rolls the committed tail into a
versioned base segment behind an atomic pointer flip, so readers
enumerate O(1) + O(tail) paths.

Scale posture: per-batch work is the batch packer's own audited plan
(the only single-partition window is the <= n_buckets+1-row bucket
aggregate); the carried table is lang-cardinality-sized and BROADCAST
onto the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.functions import text as T
from responsive_pub_spark.operators.pipeline_ops import (
    PACK_BUDGET_TOKENS,
    bucketed_running_sum,
)
from responsive_pub_spark.streaming.commitlog import (
    DeltaCommitLog,
    chaos_kill_hook,
)
from responsive_pub_spark.streaming.runtime import run_to_sink
from responsive_pub_spark.streaming.shard_stream import _FileTopicMixin

DOCS_SCHEMA = "doc_id BIGINT, lang STRING, text STRING"
ASSIGN_SCHEMA = (
    "doc_id BIGINT, lang STRING, n_tokens BIGINT, "
    "seq_id BIGINT, seq_offset BIGINT"
)
TOTALS_SCHEMA = "lang STRING, post_total BIGINT"

_chaos_kill = chaos_kill_hook("SPARK_GRAFT_PACK_KILL")


class PackStreaming(_FileTopicMixin):
    """Incremental sequence packer over a docs file topic (see module
    docstring). All state lives under ``workdir``; a fresh instance
    resumes from the checkpoint + commit markers (cold restart)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        budget: int = PACK_BUDGET_TOKENS,
        n_buckets: int = 64,
        topic_dir: "str | None" = None,
    ):
        self.spark = spark
        self.budget = int(budget)
        self.n_buckets = int(n_buckets)
        self.ck = os.path.join(workdir, "ck-assign")
        # topic_dir= -> shared docs topic (see ShardStreaming.__init__)
        self._init_topic(workdir, topic_dir or os.path.join(workdir, "docs"))
        self.log = DeltaCommitLog(
            spark,
            os.path.join(workdir, "assign"),
            ASSIGN_SCHEMA,
            TOTALS_SCHEMA,
            chaos=_chaos_kill,
        )

    # -- ingest ------------------------------------------------------------
    def ingest(self, docs: DataFrame) -> None:
        """Append one wave of (doc_id, lang, text) docs; one wave == one
        file == one micro-batch (see _FileTopicMixin for the order +
        single-writer contract)."""
        self._ingest_files(
            lambda: docs.select("doc_id", "lang", "text")
            .coalesce(1)
            .write.mode("append")
            .parquet(self.docs_dir)
        )

    # -- commit protocol ---------------------------------------------------
    def _base_totals(self, batch_id: int) -> DataFrame:
        """Per-lang carried totals from the latest commit below
        ``batch_id`` (empty on the first batch)."""
        totals = self.log.latest_totals(batch_id)
        if totals is None:
            return self.spark.createDataFrame([], TOTALS_SCHEMA)
        return totals

    def _apply(self, bdf: DataFrame, batch_id: int) -> None:
        if self.log.is_committed(batch_id):
            return  # redelivered, already committed
        _chaos_kill("pre-delta")
        base = self._base_totals(batch_id)
        bpe = (
            f"size(regexp_extract_all(text, "
            f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
        )
        toks = bdf.select(
            "doc_id", "lang", F.expr(bpe).cast("bigint").alias("n_tokens")
        )
        cum = bucketed_running_sum(
            toks,
            ["lang"],
            "doc_id",
            "n_tokens",
            "cum_tokens",
            n_buckets=self.n_buckets,
        )
        joined = cum.join(
            F.broadcast(base.withColumnRenamed("post_total", "base0")),
            "lang",
            "left",
        ).withColumn(
            "g_cum", F.coalesce("base0", F.lit(0)) + F.col("cum_tokens")
        )
        assign = joined.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(g_cum - n_tokens) DIV {self.budget}").alias("seq_id"),
            ((F.col("g_cum") - F.col("n_tokens")) % self.budget)
            .cast("bigint")
            .alias("seq_offset"),
        )
        self.log.write_delta(batch_id, assign)
        _chaos_kill("post-delta")
        # new totals = carried totals outer-merged with THIS delta's
        # per-lang sums (langs absent from the batch carry forward);
        # recomputed from the WRITTEN delta so the marker commits exactly
        # what readers will see
        batch_sums = (
            self.log.read_delta(batch_id)
            .groupBy("lang")
            .agg(F.sum("n_tokens").alias("batch_tokens"))
        )
        merged = base.join(batch_sums, "lang", "full_outer").select(
            "lang",
            (
                F.coalesce("post_total", F.lit(0))
                + F.coalesce("batch_tokens", F.lit(0))
            )
            .cast("bigint")
            .alias("post_total"),
        )
        self.log.commit_marker(batch_id, merged)

    def advance(self) -> None:
        docs = (
            self.spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            # handoff waves are committed single-file DIRECTORIES
            # (handoff.ship wave_files=1): recurse one level so
            # wave == file == micro-batch still holds
            .option("recursiveFileLookup", "true")
            .parquet(self.docs_dir)
        )
        run_to_sink(docs, self._apply, self.ck)

    # -- maintenance -------------------------------------------------------
    def compact(self) -> int:
        """Roll the committed delta tail into the versioned base segment
        (crash-atomic pointer flip; see commitlog.DeltaCommitLog.compact).
        Returns the number of batches folded."""
        return self.log.compact()

    # -- readers -----------------------------------------------------------
    def assignments(self) -> DataFrame:
        return self.log.read_all()

    def totals(self) -> DataFrame:
        """Current per-lang carried token totals."""
        totals = self.log.latest_totals(1 << 62)
        if totals is None:
            return self.spark.createDataFrame([], TOTALS_SCHEMA)
        return totals
