"""Incremental balanced shard export: streaming continuation of
``pipeline_ops.shard_balanced``.

The batch exporter deals the whole corpus into a seeded epoch-shuffle
order and cuts it greedily into ``budget``-token shards. A live ingest
pipeline cannot re-deal documents it has already exported — shard files
are immutable once written — so the streaming form fixes the arrival
order ACROSS waves and keeps the epoch-shuffle order WITHIN each wave:
every micro-batch's documents are ordered by the same permutation hash
``h = (a*(doc_id%P)+b) % P`` as the batch op, prefix-summed with the
audited two-pass range-bucket decomposition (``shard_balanced_counts``,
``base=`` the carried corpus total), and appended to the assignment log.
Only the LAST shard is ever open; everything before it is final the
moment it is emitted.

Batch parity contract (tests/test_shard_stream.py): after ingesting
waves W1..Wk, ``assignments()`` row-equals the batch computation over
the union ordered by (wave, h, doc_id) — the single-window DuckDB twin
with wave-major ordering, so the gate oracle is ``shard_balanced``'s
with one extra leading sort key.

Exactly-once: the delta+marker commit log (``streaming/commitlog.py``,
the reference's CommitBuffer offset-fencing posture —
internal/stores/CommitBuffer.java:340-423) with a carried scalar. Each
micro-batch writes its assignment rows to ``delta-{batch_id}`` and THEN
commits ``total-{batch_id}`` (one row: the post-batch corpus token
total) via the log's ATOMIC marker, the staged-rename commit of the
``commitlog`` module docstring — a SIGKILL at any instant leaves either
a committed batch or an invisible torn one, never a half-marker.
``base`` for batch N is the latest committed total below N — a single
tiny-file read, never a scan of the log.

Log growth is BOUNDED: :meth:`compact` rolls the committed tail into a
versioned base segment behind an atomic pointer flip (the
``IvfIncremental`` publish posture), so readers enumerate O(1) + O(tail)
paths instead of one per micro-batch ever committed.

Scale posture: per-batch work is the batch exporter's own audited plan
(tokenize -> one bucketed prefix sum; the only single-partition window
is the <= n_buckets+1-row bucket aggregate); the carried state is ONE
scalar, so state neither grows with the corpus nor funnels rows through
a reducer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.operators.pipeline_ops import (
    SHARD_BUCKETS,
    SHARD_BUDGET_TOKENS,
    shard_balanced_counts,
)
from responsive_pub_spark.functions import text as T
from responsive_pub_spark.streaming.commitlog import (
    DeltaCommitLog,
    chaos_kill_hook,
    exclusive_flock,
)
from responsive_pub_spark.streaming.runtime import run_to_sink

DOCS_SCHEMA = "doc_id BIGINT, text STRING"
ASSIGN_SCHEMA = (
    "doc_id BIGINT, n_tokens BIGINT, shard_id BIGINT, shard_offset BIGINT"
)
TOTALS_SCHEMA = "batch_id BIGINT, post_total BIGINT"

#: stamp base for the deterministic wave-order mtime sequence; any part
#: file with an mtime past the window is an unstamped leftover (a crash
#: between the parquet append and the stamping loop) and is folded back
#: into the sequence at construction
_STAMP_BASE = 1_000_000_000
_STAMP_MAX = 1_500_000_000


_chaos_kill = chaos_kill_hook("SPARK_GRAFT_SHARD_KILL")


def _stamp_inner(path: str) -> None:
    """Stamp a DIRECTORY part entry's inner part files onto the entry's
    own stamp (+1ms per file in name order), so a file-granular
    streaming consumer (``maxFilesPerTrigger=1`` with
    ``recursiveFileLookup``) processes waves in stamp order with a
    deterministic within-wave file order."""
    base = os.path.getmtime(path)
    inner = sorted(n for n in os.listdir(path) if n.startswith("part-"))
    for i, n in enumerate(inner, start=1):
        stamp = base + i * 0.001
        p = os.path.join(path, n)
        if os.path.getmtime(p) != stamp:
            os.utime(p, (stamp, stamp))


class _FileTopicMixin:
    """Shared file-topic ingest discipline for the exporter lanes: one
    wave == one file == one micro-batch, mtimes stamped to a strictly
    increasing deterministic sequence so wave order IS processing order
    (the Kafka offset-order analog, same device as
    runtime.TopologyTestDriver.pipe).

    Single-writer contract: ``ingest`` takes an exclusive non-blocking
    flock (``commitlog.exclusive_flock``) on ``<workdir>/ingest.lock`` —
    a second concurrent writer fails LOUDLY instead of silently
    interleaving stamps and breaking the wave-order assumption. Crash
    hardening: a part file left UNSTAMPED by a crash mid-ingest (real
    mtime, far above the stamp window) is folded back into the sequence
    at construction — sorted after every stamped wave, the position it
    held as the last ingest before the crash — so it can never tie with
    a later wave's stamp.
    """

    docs_dir: str
    _lock_path: str

    def _init_topic(self, workdir: str, docs_dir: str) -> None:
        self.docs_dir = docs_dir
        self._lock_path = os.path.join(workdir, "ingest.lock")
        os.makedirs(self.docs_dir, exist_ok=True)
        self._restamp_all()

    def _part_files(self) -> "list[str]":
        return [
            n for n in os.listdir(self.docs_dir) if n.startswith("part-")
        ]

    def _restamp_all(self) -> None:
        """Normalize EVERY part entry onto the deterministic stamp
        sequence in (mtime, name) order. Stamped entries keep their
        position (distinct stamps sort stably); unstamped leftovers
        (mtime >= _STAMP_MAX) sort last — they were the newest write.
        A DIRECTORY entry (a committed handoff wave) also has its inner
        part files normalized (:func:`_stamp_inner`), healing a crash
        between the handoff rename and its inner-stamp loop."""
        names = sorted(
            self._part_files(),
            key=lambda n: (
                os.path.getmtime(os.path.join(self.docs_dir, n)),
                n,
            ),
        )
        for i, n in enumerate(names, start=1):
            stamp = _STAMP_BASE + i * 10
            path = os.path.join(self.docs_dir, n)
            if os.path.getmtime(path) != stamp:
                os.utime(path, (stamp, stamp))
            if os.path.isdir(path):
                _stamp_inner(path)
        self._pipe_n = len(names)

    def _ingest_files(self, write) -> None:
        """Run ``write()`` (the wave's parquet append) under the
        single-writer lock, then stamp ONLY the files it created —
        leftovers from a crashed previous ingest were already folded
        into the sequence at construction and are not re-stamped."""
        with exclusive_flock(
            self._lock_path,
            "concurrent ingest(): another writer holds "
            f"{self._lock_path}; the file topic is single-writer "
            "(wave order is the mtime stamp sequence)",
        ):
            self._restamp_all()
            before = set(self._part_files())
            write()
            new = sorted(set(self._part_files()) - before)
            for n in new:
                self._pipe_n += 1
                stamp = _STAMP_BASE + self._pipe_n * 10
                path = os.path.join(self.docs_dir, n)
                os.utime(path, (stamp, stamp))


class ShardStreaming(_FileTopicMixin):
    """Incremental shard exporter over a docs file topic (see module
    docstring). All state lives under ``workdir``; a fresh instance
    resumes from the checkpoint + commit markers (cold restart)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        budget: int = SHARD_BUDGET_TOKENS,
        seed: int = 0,
        n_buckets: int = SHARD_BUCKETS,
        topic_dir: "str | None" = None,
    ):
        self.spark = spark
        self.budget = int(budget)
        self.seed = int(seed)
        self.n_buckets = int(n_buckets)
        self.ck = os.path.join(workdir, "ck-assign")
        # topic_dir= points the lane at a SHARED docs topic written by a
        # composing pipeline (one topic, N consumer lanes — the Kafka
        # consumer-group shape); ingest then belongs to the topic's
        # owner, and this lane contributes only its checkpoint + log
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
        """Append one wave of (doc_id, text) docs to the topic (one wave
        == one file == one micro-batch; see _FileTopicMixin for the
        order + single-writer contract)."""
        self._ingest_files(
            lambda: docs.select("doc_id", "text")
            .coalesce(1)
            .write.mode("append")
            .parquet(self.docs_dir)
        )

    # -- commit protocol ---------------------------------------------------
    def _base_total(self, batch_id: int) -> int:
        totals = self.log.latest_totals(batch_id)
        if totals is None:
            return 0
        return int(totals.collect()[0].post_total)

    def _apply(self, bdf: DataFrame, batch_id: int) -> None:
        if self.log.is_committed(batch_id):
            return  # redelivered — the offset check
        _chaos_kill("pre-delta")
        base = self._base_total(batch_id)
        bpe = (
            f"size(regexp_extract_all(text, "
            f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
        )
        counts = bdf.select(
            "doc_id", F.expr(bpe).cast("bigint").alias("n_tokens")
        )
        assign = shard_balanced_counts(
            counts,
            budget=self.budget,
            seed=self.seed,
            n_buckets=self.n_buckets,
            base=base,
        )
        self.log.write_delta(batch_id, assign)
        _chaos_kill("post-delta")
        # post-total from the WRITTEN delta (one tiny re-scan) so the
        # marker commits exactly what readers will see
        tot = (
            self.log.read_delta(batch_id)
            .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"))
            .collect()[0]
            .t
        )
        self.log.commit_marker(
            batch_id,
            self.spark.createDataFrame(
                [(int(batch_id), int(base) + int(tot))], TOTALS_SCHEMA
            ),
        )

    def advance(self) -> None:
        """Drain pending waves, one micro-batch per wave, through the
        commit protocol."""
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
        """All committed assignment rows (uncommitted/torn deltas are
        invisible — only the base segment and marker-committed deltas
        are read)."""
        return self.log.read_all()

    def total_tokens(self) -> int:
        totals = self.log.latest_totals(1 << 62)
        if totals is None:
            return 0
        return int(totals.collect()[0].post_total)

    def manifest(self) -> DataFrame:
        """Per-shard manifest over the committed log (shard_id, n_docs,
        shard_tokens) — only the highest shard_id can still grow."""
        return self.assignments().groupBy("shard_id").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
