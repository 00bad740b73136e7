"""Incrementally-maintained decontamination: streaming shingle
fingerprints AND an incrementally-maintained per-doc contamination
DECISION table for the train/test contamination check.

``pipeline_ops.decontaminate`` re-shingles the whole corpus AND the
whole eval split on every run. In production both sides GROW
continuously — new corpus waves land daily and new held-out benchmarks
are registered over time, and every new benchmark must be checked
retroactively against everything already ingested. This lane keeps both
fingerprint tables current so neither side is ever re-tokenized:

- **corpus postings** (stateless, append, STAMPED): each arriving
  corpus doc is shingled ONCE into (doc_id, n_shingles, h) rows — the
  per-doc shingle count rides every row, so no report needs a second
  corpus pass. Each drain's files join the ``_FileTopicMixin`` stamp
  sequence so the decision maintenance below reads new-wave postings
  only;
- **eval postings** (stateless, append): each arriving eval doc
  shingled once into (eval_id, h) rows;
- **decision table**: the per-doc contamination report MAINTAINED as
  a versioned BASE snapshot plus handoff-watermarked per-wave DELTAS,
  so the gate a composed pipeline consults every advance reads a
  maintained table instead of re-running the corpus-postings
  aggregation:

  - per advance, a carried-watermark handoff (``streaming/handoff.py``)
    ships the report rows for the NEW postings only (new corpus docs
    touch only their own rows — a wave-sized join against the broadcast
    eval postings);
  - :meth:`ingest_evals` arms a REBUILD flag: the next advance re-runs
    the full aggregation ONCE (the inherently O(corpus) retroactive
    re-check — a join over maintained postings, never a re-shingle)
    into a new base version published through
    ``commitlog.VersionedSnapshot``, and the delta watermark jumps to
    the rebuild's coverage. Deltas the base supersedes are ignored by
    name-stamp and GC'd.
  - :meth:`decision` = base + post-base deltas; it row-equals the
    derived :meth:`report` whenever advances followed each ingest
    (parity asserted in tests), and every doc is decided exactly once
    per eval epoch (no duplicates: a doc's postings carry one drain's
    stamps, a delta covers a contiguous stamp range, and the base
    covers everything at or below its recorded stamp).

Crash windows: the base publish has the windows of the shared
versioned publish (``commitlog`` module docstring); the lane adds the
REBUILD flag and the delta marker around it, all replay-safe.
Flag-before-evals ordering makes a torn ``ingest_evals`` at worst a
spurious rebuild; a crash before the flip leaves the flag set, so the
retry rebuilds; after the flip but before the flag removal, the retry
rebuilds idempotently; the delta handoff inherits ``ship``'s
exactly-once contract, and its watermark floor is re-derived from the
published base coverage on every advance, so a crash between the flip
and the marker publish cannot re-derive based docs into a delta.

Parity contract (tests/test_streaming.py): with the fixture's
``doc_id % eval_mod`` split ingested as the two topics, ``report()``
row-equals the batch ``decontaminate`` over the union — the gate oracle
is the batch oracle VERBATIM — and ``decision()`` row-equals
``report()``.

Scale posture: corpus postings are corpus-scale but append-only and
written once per doc (the honest cost of retroactive benchmark audits —
the alternative re-scans raw text per new benchmark); the eval side
stays broadcast-small (benchmarks are orders of magnitude smaller than
the corpus); a steady-state advance's data work is one wave-sized join
+ per-doc agg, and the O(corpus) aggregation runs only when a benchmark
is registered. Reference anchor: read-time validity filters over
maintained state (internal/db/MongoKVTable.java:164 — the store never
re-derives, it reads).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.functions import text as T
from responsive_pub_spark.functions.portable import pround
from responsive_pub_spark.streaming.commitlog import (
    VersionedSnapshot,
    chaos_kill_hook,
    fsync_dir,
    maintenance_lock,
    publish_pointer,
)
from responsive_pub_spark.streaming.handoff import (
    _HANDOFF_RE,
    StampedTopic,
    drop_covered,
    read_marker,
    ship,
)
from responsive_pub_spark.streaming.runtime import run_concurrent, run_to_sink

#: SIGKILL-self hook for the decision-rebuild chaos e2e
#: (tests/test_chaos_r14.py) — double opt-in, own label env var so a
#: composed pipeline arms exactly the lane under test
_chaos_kill = chaos_kill_hook("SPARK_GRAFT_DECONTAM_KILL")

DOCS_SCHEMA = "doc_id BIGINT, text STRING"
CORPUS_POSTINGS_SCHEMA = "doc_id BIGINT, n_shingles BIGINT, h BIGINT"
EVAL_POSTINGS_SCHEMA = "eval_id BIGINT, h BIGINT"
REPORT_SCHEMA = (
    "doc_id BIGINT, n_shingles BIGINT, n_shared BIGINT, "
    "n_eval_docs BIGINT, contam_frac DOUBLE"
)


class DecontamStreaming:
    """Incrementally-maintained contamination fingerprints + decision
    table over two file topics (see module docstring). All state is
    under ``workdir``; a fresh instance resumes from the checkpoints,
    stamps, pointers and markers (cold restart)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.corpus_dir = os.path.join(workdir, "corpus")
        self.evals_dir = os.path.join(workdir, "evals")
        self.corpus_post_dir = os.path.join(workdir, "corpus_postings")
        self.eval_post_dir = os.path.join(workdir, "eval_postings")
        self.ck_corpus = os.path.join(workdir, "ck-corpus")
        self.ck_evals = os.path.join(workdir, "ck-evals")
        self.decision_dir = os.path.join(workdir, "decision")
        self.deltas_dir = os.path.join(self.decision_dir, "deltas")
        self.delta_marker = os.path.join(self.decision_dir, "delta.upto")
        self.rebuild_flag = os.path.join(self.decision_dir, "REBUILD")
        self.maint_lock = os.path.join(self.decision_dir, "maint.lock")
        for d in (self.corpus_dir, self.evals_dir, self.deltas_dir):
            os.makedirs(d, exist_ok=True)
        self.decision_base = VersionedSnapshot(
            self.decision_dir,
            os.path.join(self.decision_dir, "BASE"),
            "base-v",
            first=1,
            chaos=_chaos_kill,
        )
        self._post_topic = StampedTopic(
            os.path.join(workdir, "post-meta"), self.corpus_post_dir
        )
        #: postings files the last delta handoff read (files-read gate)
        self.last_delta_reads: "list[str]" = []
        #: decision paths the last decision() served from (ditto)
        self.last_decision_paths: "list[str]" = []

    def ingest_corpus(self, docs: DataFrame) -> None:
        """Append a wave of (doc_id, text) corpus docs."""
        docs.select("doc_id", "text").write.mode("append").parquet(
            self.corpus_dir
        )

    def ingest_evals(self, evals: DataFrame) -> None:
        """Append a wave of (doc_id, text) eval/benchmark docs and arm
        the decision-table rebuild. Flag FIRST: a crash between the two
        writes then costs at worst one spurious rebuild, where the
        reverse order would leave the decision table silently stale for
        this benchmark."""
        publish_pointer(self.rebuild_flag, "1")
        evals.select("doc_id", "text").write.mode("append").parquet(
            self.evals_dir
        )

    def advance(self) -> None:
        """Drain both topics through the shingle-once maintenance
        queries, then maintain the decision table: a full rebuild iff a
        benchmark arrived since the last one, else a wave-sized delta
        over the new postings only."""
        hs = F.expr(T.shingle_hashes_sql("text"))
        corpus = (
            self.spark.readStream.schema(DOCS_SCHEMA)
            # handoff waves are committed DIRECTORIES (handoff.ship)
            .option("recursiveFileLookup", "true")
            .parquet(self.corpus_dir)
            .select("doc_id", hs.alias("hs"))
            .select(
                "doc_id",
                F.size("hs").cast("bigint").alias("n_shingles"),
                F.explode("hs").alias("h"),
            )
        )
        evals = (
            self.spark.readStream.schema(DOCS_SCHEMA)
            .parquet(self.evals_dir)
            .select(F.col("doc_id").alias("eval_id"), hs.alias("hs"))
            .select("eval_id", F.explode("hs").alias("h"))
        )
        # the corpus and eval postings drains are independent topics with
        # independent sinks/checkpoints — overlap them in driver threads;
        # the decision maintenance below needs both
        run_concurrent(
            lambda: self._post_topic.append(
                lambda: run_to_sink(
                    corpus, self.corpus_post_dir, self.ck_corpus
                )
            ),
            lambda: run_to_sink(evals, self.eval_post_dir, self.ck_evals),
        )

        if os.path.exists(self.rebuild_flag):
            self._rebuild_base()
        self._ship_delta()

    # -- decision maintenance ----------------------------------------------
    def _rebuild_base(self) -> None:
        """The inherently O(corpus) retroactive re-check, run ONLY when
        a benchmark was registered: the full report over the maintained
        postings becomes the next base version; the delta watermark
        jumps to the rebuild's coverage; superseded state is GC'd after
        the flip."""
        with maintenance_lock(self.maint_lock, "decontam decision rebuild"):
            covered = max(
                [s for s, _ in self._post_topic.stamped_files()] + [-1]
            )
            with self.decision_base.publish(covered) as stage:
                self.report().write.mode("overwrite").parquet(stage)
            if read_marker(self.delta_marker) < covered:
                publish_pointer(self.delta_marker, str(covered))
            os.remove(self.rebuild_flag)
            fsync_dir(self.decision_dir)
            _chaos_kill("flag-removed")
            self.decision_base.gc()
            drop_covered(self.deltas_dir, covered)

    def _ship_delta(self) -> None:
        """Wave-sized decision delta: the report aggregation over ONLY
        the postings files past the carried watermark, against the
        broadcast eval postings. The watermark floor is re-derived from
        the published base coverage first, so a crash between a
        rebuild's pointer flip and its marker publish can never
        re-derive based docs into a delta."""
        _, covered = self.decision_base.info()
        if read_marker(self.delta_marker) < covered:
            publish_pointer(self.delta_marker, str(covered))

        def build(new_postings: DataFrame) -> DataFrame:
            self.last_delta_reads = sorted(new_postings.inputFiles())
            return self._report_from(new_postings)

        ship(
            self.spark,
            self._post_topic,
            CORPUS_POSTINGS_SCHEMA,
            self.delta_marker,
            self.deltas_dir,
            build,
        )

    # -- maintained state readers ----------------------------------------
    def corpus_postings(self) -> DataFrame:
        return self.spark.read.schema(CORPUS_POSTINGS_SCHEMA).parquet(
            self.corpus_post_dir
        )

    def eval_postings(self) -> DataFrame:
        return self.spark.read.schema(EVAL_POSTINGS_SCHEMA).parquet(
            self.eval_post_dir
        )

    def _report_from(self, postings: DataFrame) -> DataFrame:
        """The batch ``decontaminate`` aggregation verbatim over an
        arbitrary postings frame (corpus side equi-joined against the
        broadcast eval postings, one per-doc agg) — shared by the
        derived full report, the rebuild, and the per-wave delta."""
        return (
            postings.join(F.broadcast(self.eval_postings()), "h")
            .groupBy("doc_id")
            .agg(
                F.max("n_shingles").alias("n_shingles"),
                F.countDistinct("h").cast("bigint").alias("n_shared"),
                F.countDistinct("eval_id").cast("bigint").alias(
                    "n_eval_docs"
                ),
            )
            .withColumn(
                "contam_frac",
                pround(F.col("n_shared") / F.col("n_shingles"), 6),
            )
            .select(
                "doc_id",
                "n_shingles",
                "n_shared",
                "n_eval_docs",
                "contam_frac",
            )
        )

    def report(self) -> DataFrame:
        """The contamination report DERIVED in full from the maintained
        fingerprints — the rebuild input and the parity referee for
        :meth:`decision`, retroactive over everything ingested on
        either side. Gates should read :meth:`decision` instead: this
        one re-aggregates corpus-scale postings every call."""
        return self._report_from(self.corpus_postings())

    def decision(self) -> DataFrame:
        """The MAINTAINED per-doc contamination decision (same rows as
        :meth:`report` as of the last advance): the base snapshot plus
        the post-base deltas — never a corpus-postings scan."""
        base, _, tail = self.decision_base.listing(
            self.deltas_dir, _HANDOFF_RE
        )
        paths = ([base] if base else []) + [p for _, p in tail]
        self.last_decision_paths = list(paths)
        if not paths:
            return self.spark.createDataFrame([], REPORT_SCHEMA)
        return self.spark.read.schema(REPORT_SCHEMA).parquet(*paths)
