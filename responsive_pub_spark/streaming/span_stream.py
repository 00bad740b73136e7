"""Incrementally-maintained duplicated-span detection: streaming gram
postings for the substring-level dedup family
(``pipeline_ops.dup_span_report`` / ``strip_dup_spans`` — Lee et al.
2022 strip semantics).

The batch ops re-tokenize and re-gram the WHOLE corpus on every run. In
a live pipeline the expensive part — the stride-1 w-token sliding
window with its per-position hash — is a pure function of each doc
alone, so it belongs in a maintained table written ONCE per doc (the
``decontam_stream`` shingle-once posture applied to w-grams):

- **gram postings** (stateless, append): each arriving doc is grammed
  once into (doc_id, pos, gh) rows — the identical
  ``span_gram_starts_sql`` expression the batch ops use, so the
  maintained table IS the batch op's gram table;
- **doc base** (stateless, append): (doc_id, n_tokens) per doc, so
  shorter-than-w docs still report (they have no gram rows);
- :meth:`report` runs ``pipeline_ops.span_report_from`` — the batch
  aggregation tail VERBATIM (shared function, no copy to drift) — over
  the maintained tables: occurrence counts, coverage union, per-doc
  duplicated-token fraction. Retroactive in both directions: a new doc
  duplicating an old doc's span raises BOTH docs' ``dup_bp`` at the
  next read, with nothing re-tokenized.
- :meth:`strip` serves the STRIP decision at read:
  ``pipeline_ops.strip_spans_from`` (shared tail) over the maintained
  gram/base tables plus a position stream re-derived from the docs
  topic — the text rebuild inherently needs the raw tokens, but the
  gram hashing and the canonical-occurrence election run on maintained
  state. First-by-(doc_id, pos) canonicalization makes the kept text
  deterministic at any corpus prefix.
- **materialized strip sink**: :meth:`strip` recomputes the full
  corpus-wide decision per call — inherent for a one-shot full-corpus
  output, wrong for a training-side consumer polling per wave. ``advance()`` therefore ALSO maintains a
  stripped-text table incrementally via the carried-watermark handoff
  (``streaming/handoff.py``): each wave's delta re-strips ONLY the
  AFFECTED docs — the wave's docs plus every earlier doc sharing a gram
  with them (the retroactivity set: a new occurrence can flip an old
  occurrence's duplicated/canonical status) — using the shared batch
  tail over the gram-context restriction (all occurrences of the
  affected docs' grams, so counts and canonical election are exact).
  :meth:`stripped` reads the deltas LAST-WRITER-WINS per doc (delta
  stamp order), so a retroactively re-stripped doc's newest row
  shadows its older ones; parity with the batch ``strip_dup_spans``
  over the union is the gate oracle verbatim. Honest per-advance cost:
  the affected-set discovery is a gram-keyed semi-join into the
  maintained postings and the text rebuild fetches the affected docs'
  rows from the docs topic — index-lookup-shaped row work (O(affected)
  rows), over columnar maintained tables, never a re-gram of the
  corpus.

Both maintenance queries are ``runtime.run_to_sink`` drains into
Spark's transactional file sink (exactly-once). There is ZERO
aggregation state — the maintained tables ARE the fingerprints.

Documented crash window: the base and grams tables drain
through two INDEPENDENTLY checkpointed queries, so a crash between them
leaves one table a wave ahead of the other until the next ``advance()``
re-drains the laggard (exactly-once per table is unaffected). In that
window ``report()``/``strip()`` are transiently conservative: the
affected wave's docs have ``n_tokens`` but no gram rows yet, so they —
and the docs they duplicate — under-report ``dup_bp``. The parity
contract below therefore holds at DRAIN BOUNDARIES (every advance that
completes both queries), which is when the composed pipelines read
these surfaces; it converges on the first completed advance after a
crash.

Parity contract (tests/test_streaming.py): postings are
order-independent, so after any wave sequence ``report()`` /
``strip()`` row-equal the batch ops over the union — the gate oracles
are the batch oracles VERBATIM.

Scale posture: gram postings are corpus-position-scale but append-only
and written once per doc (the honest cost of substring-level dedup —
the alternative re-grams the corpus per audit); the report's exchanges
are the audited batch plan's (gram-keyed agg with map-side partials,
equi-join marking, coverage distinct) over an already-materialized
table, saving the tokenize+gram scan every run.

Hot-loop posture on top of that: the posting table is written
PARTITIONED by ``gb = pmod(gh, SPAN_GB)`` (one file per touched bucket
per wave via the pre-write repartition), the strip build re-derives
the wave's grams IN-FLIGHT from the wave texts (no corpus read to
discover them), and both corpus-gram reads in the per-advance build —
the collision probe and the exact-context fetch — carry a static
``gb IN (...)`` partition filter, so an advance scans only the
buckets the wave's grams touch. The filter's value is wave-size
dependent (see the SPAN_GB coverage math): it prunes real I/O for
micro-waves — the continuous trickle-ingest steady state — and
degenerates to the full scan for corpus-sized waves, which their
collision volume requires anyway. Full-corpus
readers (:meth:`report`/:meth:`strip`) still scan everything —
inherent to their corpus-wide outputs. The maintained stripped-text
table additionally compacts (:meth:`compact_stripped`): the
last-writer-wins deltas fold into a base snapshot published through
``commitlog.VersionedSnapshot`` (publish protocol and crash windows in
the ``commitlog`` module docstring), bounding the training-side read
to base + post-base deltas. Unpartitioned gram layouts from before the
bucketing are REFUSED at the next maintenance call (fail-loud
migration posture; rebuild derived state in a fresh workdir).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.cache import scoped_persist
from responsive_pub_spark.functions import text as T
from responsive_pub_spark.operators.pipeline_ops import (
    DUP_SPAN_W,
    span_gram_starts_sql,
    span_report_from,
    strip_spans_from,
)
from responsive_pub_spark.streaming.commitlog import (
    VersionedSnapshot,
    maintenance_lock,
)
from responsive_pub_spark.streaming.handoff import (
    _HANDOFF_RE,
    StampedTopic,
    drop_covered,
    ship,
)
from responsive_pub_spark.streaming.runtime import run_concurrent, run_to_sink

DOCS_SCHEMA = "doc_id BIGINT, text STRING"
BASE_SCHEMA = "doc_id BIGINT, n_tokens BIGINT"
GRAMS_SCHEMA = "doc_id BIGINT, pos BIGINT, gh BIGINT"
#: gram-posting bucket count: the maintained gram table is
#: written PARTITIONED by ``gb = pmod(gh, SPAN_GB)`` so the per-advance
#: collision/context reads prune to the buckets the wave's grams can
#: land in — a static partition filter, the ivf probe-prune posture.
#: HONEST coverage math: hashes are uniform, so a wave with g distinct
#: grams touches ~SPAN_GB * (1 - exp(-g/SPAN_GB)) buckets — pruning
#: pays for MICRO-waves (g within a few multiples of SPAN_GB, the
#: continuous trickle-ingest steady state) and degenerates to the full
#: scan for corpus-sized waves, whose collision volume requires one
#: anyway (measured in bench_streaming's span_strip_stream lane:
#: fixture-scale waves touch all 64). 64 bounds the per-wave file
#: count (<= one file per touched bucket after the pre-write
#: repartition); trickle-ingest deployments can raise it — the trade
#: is pruning granularity vs files-per-wave.
SPAN_GB = 64
GRAMS_READ_SCHEMA = GRAMS_SCHEMA + ", gb INT"
STRIP_SCHEMA = (
    "doc_id BIGINT, n_tokens BIGINT, kept_tokens BIGINT, kept_text STRING"
)


class SpanDedupStreaming:
    """Incrementally-maintained duplicated-span fingerprints over a docs
    file topic (see module docstring). All state is under ``workdir``;
    a fresh instance resumes from the checkpoints (cold restart)."""

    def __init__(self, spark: SparkSession, workdir: str, w: int = DUP_SPAN_W):
        self.spark = spark
        self.w = int(w)
        self.docs_dir = os.path.join(workdir, "docs")
        self.base_dir = os.path.join(workdir, "base")
        self.grams_dir = os.path.join(workdir, "grams")
        self.ck_base = os.path.join(workdir, "ck-base")
        self.ck_grams = os.path.join(workdir, "ck-grams")
        self.strip_root = os.path.join(workdir, "strip")
        self.strip_deltas = os.path.join(self.strip_root, "deltas")
        self.strip_marker = os.path.join(self.strip_root, "delta.upto")
        self.strip_maint_lock = os.path.join(self.strip_root, "maint.lock")
        os.makedirs(self.docs_dir, exist_ok=True)
        os.makedirs(self.strip_deltas, exist_ok=True)
        self.strip_base = VersionedSnapshot(
            self.strip_root,
            os.path.join(self.strip_root, "BASE"),
            "base-v",
            first=1,
        )
        # the base table under the stamp discipline: it is the strip
        # sink's handoff SOURCE (every doc has a base row — gram rows
        # only exist for docs with >= w tokens)
        self._base_topic = StampedTopic(
            os.path.join(workdir, "base-meta"), self.base_dir
        )
        #: base files the last strip delta's wave read (files-read gate)
        self.last_strip_reads: "list[str]" = []
        #: (collision, context) gb bucket sets the last strip delta's
        #: corpus-gram reads were pruned to (scale gate)
        self.last_strip_buckets: "tuple[list[int], list[int]]" = ([], [])

    def ingest(self, docs: DataFrame) -> None:
        """Append a wave of (doc_id, text) docs to the topic."""
        docs.select("doc_id", "text").write.mode("append").parquet(
            self.docs_dir
        )

    def _tks(self, df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", F.expr(T.tokens_sql("text")).alias("toks")
        )

    def _gram_rows(self, docs: DataFrame) -> DataFrame:
        """(doc_id, pos, gh) gram rows from a (doc_id, text) frame —
        the ONE gram expression (``span_gram_starts_sql``) shared by
        the maintenance query and the strip build's in-flight wave
        re-derivation, so both produce identical rows by
        construction."""
        return (
            self._tks(docs)
            .select(
                "doc_id",
                F.explode(F.expr(span_gram_starts_sql(self.w))).alias("g"),
            )
            .select(
                "doc_id",
                F.col("g.pos").cast("bigint").alias("pos"),
                F.col("g.gh").alias("gh"),
            )
        )

    def _refuse_old_grams_layout(self) -> None:
        """A pre-r14 (unpartitioned) gram layout must fail LOUDLY at
        the next maintenance call: the bucket-pruned reads would see
        ``gb=null`` rows and silently miss every collision. Fresh
        workdirs are unaffected; read-only surfaces (:meth:`report` /
        :meth:`strip`) keep working on old state."""
        if not os.path.isdir(self.grams_dir):
            return
        stray = [
            n
            for n in os.listdir(self.grams_dir)
            if n.startswith("part-")
            and os.path.isfile(os.path.join(self.grams_dir, n))
        ]
        if stray:
            raise RuntimeError(
                "SpanDedupStreaming: pre-r14 unpartitioned gram layout "
                f"({len(stray)} top-level part files in {self.grams_dir}) "
                "— the bucket-pruned strip reads require gb=NN partition "
                "directories. Rebuild the lane in a fresh workdir (the "
                "docs topic replays; grams are derived state)."
            )

    def advance(self) -> None:
        """Drain pending docs through the gram-once maintenance queries
        (stateless — the maintained tables are the state), then ship
        the wave's stripped-text delta (affected docs only)."""
        self._refuse_old_grams_layout()
        docs = self.spark.readStream.schema(DOCS_SCHEMA).parquet(
            self.docs_dir
        )
        tks = self._tks(docs)
        base = tks.select(
            "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
        )
        # bucket column + pre-write repartition: hash-partitioning on gb
        # lands each touched bucket in exactly one task, so a wave
        # writes <= one file per touched partition dir
        grams = self._gram_rows(docs).withColumn(
            "gb", F.pmod("gh", F.lit(SPAN_GB)).cast("int")
        )
        # base + grams are INDEPENDENT drains of the same docs topic
        # (own checkpoints, own sink dirs, own single-writer locks) —
        # overlap them in driver threads so the two
        # per-query-start spawns pay once in wall time; _ship_strip
        # needs both drained and runs after the barrier
        run_concurrent(
            lambda: self._base_topic.append(
                lambda: run_to_sink(base, self.base_dir, self.ck_base)
            ),
            lambda: run_to_sink(
                grams.repartition("gb"),
                self.grams_dir,
                self.ck_grams,
                partition_by=["gb"],
            ),
        )
        self._ship_strip()

    def _buckets_of(self, gh_df: DataFrame) -> "list[int]":
        """Distinct ``gb`` buckets of a gh set — control-plane sized
        (<= SPAN_GB rows, the ivf probe-prune sanctioned-collect
        class); becomes a static partition filter on the gram table."""
        return sorted(
            r.b
            for r in gh_df.select(
                F.pmod("gh", F.lit(SPAN_GB)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )

    def _ship_strip(self) -> None:
        """One watermarked strip delta (see module docstring): re-strip
        the wave's docs plus the earlier docs their grams collide with,
        through the SHARED batch tail over the exact gram context.

        Scale posture: the wave's own grams are re-derived
        IN-FLIGHT from the wave texts (identical to the maintained rows
        — ``_gram_rows`` is the one shared expression), so discovering
        them needs NO corpus read; both corpus-gram reads (collision
        probe + exact context) carry a static ``gb IN (...)`` partition
        filter derived from those grams, so a steady-state advance
        scans only the touched buckets of the corpus-position-scale
        posting table, never the whole of it."""

        def build(new_base: DataFrame) -> DataFrame:
            self.last_strip_reads = sorted(new_base.inputFiles())
            docs_read = self.spark.read.schema(DOCS_SCHEMA).parquet(
                self.docs_dir
            )
            wave_ids = new_base.select("doc_id")
            wave_grams = self._gram_rows(docs_read.join(wave_ids, "doc_id"))
            gh_new = wave_grams.select("gh").distinct()
            bs1 = self._buckets_of(gh_new)
            # every corpus occurrence of the wave's grams — the
            # bucket-pruned collision probe (wave docs' own rows are in
            # the maintained table: this advance drained them first)
            hits = self.grams(buckets=bs1).join(gh_new, "gh")
            affected = wave_ids.union(hits.select("doc_id")).distinct()
            texts_aff = scoped_persist(docs_read.join(affected, "doc_id"))
            # exact context: ALL occurrences of the affected docs' grams,
            # so occurrence counts and the canonical election match the
            # corpus-wide computation for every affected doc; the
            # affected docs' gram set derives from the SAME text fetch
            # the output rebuild needs anyway
            gh_ctx = self._gram_rows(texts_aff).select("gh").distinct()
            bs2 = self._buckets_of(gh_ctx)
            self.last_strip_buckets = (bs1, bs2)
            grams_ctx = self.grams(buckets=bs2).join(gh_ctx, "gh")
            base_aff = self.base().join(affected, "doc_id")
            positions = (
                self._tks(texts_aff)
                .select("doc_id", F.posexplode("toks").alias("p0", "tok"))
                .select(
                    "doc_id",
                    (F.col("p0") + 1).cast("bigint").alias("pos"),
                    "tok",
                )
            )
            return strip_spans_from(base_aff, grams_ctx, positions, self.w)

        ship(
            self.spark,
            self._base_topic,
            BASE_SCHEMA,
            self.strip_marker,
            self.strip_deltas,
            build,
        )

    # -- maintained state readers ----------------------------------------
    def base(self) -> DataFrame:
        return self.spark.read.schema(BASE_SCHEMA).parquet(self.base_dir)

    def grams(self, buckets: "list[int] | None" = None) -> DataFrame:
        """The maintained gram postings. ``buckets`` applies a static
        ``gb IN (...)`` filter BEFORE the bucket column is dropped, so
        the parquet scan reads only those partition directories
        (PartitionFilters over the MetadataLogFileIndex — verified in
        tests/test_span_buckets.py)."""
        g = self.spark.read.schema(GRAMS_READ_SCHEMA).parquet(
            self.grams_dir
        )
        if buckets is not None:
            g = g.filter(F.col("gb").isin([int(b) for b in buckets]))
        return g.drop("gb")

    def report(self) -> DataFrame:
        """The duplicated-span report from the MAINTAINED fingerprints —
        ``span_report_from`` (the batch tail, shared) over the postings:
        (doc_id, n_tokens, dup_tokens, dup_bp), retroactive over
        everything ingested."""
        return span_report_from(self.base(), self.grams(), self.w)

    def strip(self) -> DataFrame:
        """The strip decision served at read — ``strip_spans_from`` (the
        batch tail, shared) over the maintained gram/base tables; only
        the token-position stream for the text REBUILD re-derives from
        the docs topic (the output needs the raw tokens)."""
        positions = (
            self._tks(
                self.spark.read.schema(DOCS_SCHEMA).parquet(self.docs_dir)
            )
            .select("doc_id", F.posexplode("toks").alias("p0", "tok"))
            .select(
                "doc_id",
                (F.col("p0") + 1).cast("bigint").alias("pos"),
                "tok",
            )
        )
        return strip_spans_from(self.base(), self.grams(), positions, self.w)

    def stripped(self) -> DataFrame:
        """The MAINTAINED stripped-text table (the training-side read):
        the compacted base snapshot (if any) plus the post-base handoff
        deltas, last-writer-wins per doc — a doc retroactively
        re-stripped by a later wave's collision is read from its newest
        delta, which shadows its base row. Row-equal to :meth:`strip`
        (and the batch ``strip_dup_spans`` over the union) after every
        advance; never re-derives the corpus-wide decision."""
        from pyspark.sql.window import Window

        base, cov, tail = self.strip_base.listing(
            self.strip_deltas, _HANDOFF_RE
        )
        parts = []
        if base:
            parts.append(
                self.spark.read.schema(STRIP_SCHEMA)
                .parquet(base)
                # base rows carry the coverage stamp: any delta past it
                # wins, any delta at/below it was folded in and GC'd
                .withColumn("_stamp", F.lit(cov).cast("bigint"))
            )
        if tail:
            parts.append(
                self.spark.read.schema(STRIP_SCHEMA)
                .parquet(*[p for _, p in tail])
                .withColumn(
                    "_stamp",
                    F.regexp_extract(
                        F.input_file_name(), r"part-handoff-(\d{20})", 1
                    ).cast("bigint"),
                )
            )
        if not parts:
            return self.spark.createDataFrame([], STRIP_SCHEMA)
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
        w = Window.partitionBy("doc_id").orderBy(F.col("_stamp").desc())
        return (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", "n_tokens", "kept_tokens", "kept_text")
        )

    def compact_stripped(self) -> int:
        """Bounded-metadata compaction for the stripped-text table: fold
        the last-writer-wins view of base + deltas into the next base
        version (``commitlog.VersionedSnapshot``), then GC the folded
        deltas and the superseded base. Returns the number of delta
        directories folded."""
        with maintenance_lock(self.strip_maint_lock, "strip compaction"):
            _, _, tail = self.strip_base.listing(
                self.strip_deltas, _HANDOFF_RE
            )
            if not tail:
                return 0
            covered = tail[-1][0]
            with self.strip_base.publish(covered) as stage:
                self.stripped().write.mode("overwrite").parquet(stage)
            self.strip_base.gc()
            return drop_covered(self.strip_deltas, covered)
