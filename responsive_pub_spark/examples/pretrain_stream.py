"""Streaming pretrain export: continuous ingest -> near-dup drop ->
decontamination gate -> mixture gate -> incremental shard export +
sequence packing + token-id emission.

The STREAMING twin of ``examples/pretrain_pipeline.py``'s curate->shard
tail: documents arrive in waves; near-duplicates are dropped on arrival
by the FACT-store banded-MinHash lane (first copy wins); survivors flow
through two optional maintained-statistics gates — benchmark
DECONTAMINATION (``streaming/decontam_stream.py``: docs overlapping a
registered benchmark above the threshold never ship; a benchmark
registered LATER retroactively flags already-shipped docs, surfaced by
:meth:`quarantine`) and MIXTURE resampling
(``streaming/mixture_stream.py``: accept/reject to the target token
blend from the incrementally-maintained per-lang masses, deterministic
per-doc hash) — and the accepted set is materialized ONCE into a shared
``shipped`` topic that all three export lanes consume (shards, packed
sequences, token ids), each with its own checkpoint + commit log. One
topic, three consumer groups: the Kafka fan-out shape, so the legs can
never diverge on which docs shipped.

HANDOFFS ARE O(NEW-WORK) (r12 verdict task 3): every stage-to-stage
handoff rides ``streaming/handoff.py``'s carried-watermark protocol —
stamped source files, a 1-row crash-atomic ``upto`` marker per leg, an
atomic-rename commit point whose file name proves its coverage on
replay. A later advance never re-reads wave-1 files; an advance with
nothing new runs ZERO Spark jobs (driver-side listdir short-circuit,
no row-count probes anywhere on the path — r12 verdict task 9).

Topic chain (all stamped parquet file topics)::

    ingress (doc_id, lang, text, ts)      one wave == one append
      |  leg `surv`: anti-join immutable dedup verdicts
      v
    survivors (doc_id, lang, text)
      |  leg `decontam`: copy -> decontam corpus postings (shingle once)
      |  leg `mixture`:  decontam-passing copy -> mixture mass table
      |  leg `ship`:     decontam gate + mixture accept
      v
    shipped (doc_id, lang, text)          consumed by 3 lanes directly

Determinism/replay notes: the dedup verdict for a doc never changes
(first-copy-wins), so the ``surv`` leg is replay-identical forever. The
``ship`` gate is deterministic GIVEN the maintained decontam/mixture
state; the shipped file freezes each wave's decision at its commit
point. The one documented corner: a crash between a leg's rename and
its marker publish, followed by a NEW benchmark registration before the
replay — the replay skips re-gating (the shipped file exists; its name
proves coverage), so the earlier decision stands; the new benchmark's
effect on those docs surfaces through :meth:`quarantine`, exactly like
any other retroactive flag on shipped data.

Reference anchor: the e2e pipeline posture of
e2etest/E2ETestApplication.java:120-148 (ingest topology feeding a
durable export) composed with FACT-store dedup/filtering
(api/stores/ResponsiveStores.java:79-96).

Scale posture: per-advance driver work is a few listdirs + pointer
reads; data work is per-wave only — the anti-joins' left sides are
wave-sized (AQE broadcasts them), the decontam gate joins the wave
against the maintained report (doc_id-keyed), the mixture gate is a
broadcast of the lang-cardinality mass table, and each export lane runs
its audited per-batch plan with O(1)/O(langs) carried state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.operators.pipeline_ops import (
    mixture_resample_tokens,
)
from responsive_pub_spark.streaming.commitlog import (
    chaos_kill_hook,
    publish_pointer,
)
from responsive_pub_spark.streaming.decontam_stream import DecontamStreaming
from responsive_pub_spark.streaming.dedup_stream import (
    DOCS_SCHEMA,
    NearDupStreaming,
)
from responsive_pub_spark.streaming.handoff import (
    StampedTopic,
    assert_handoff_layout,
    read_marker,
    ship,
)
from responsive_pub_spark.streaming.mixture_stream import MixtureStreaming
from responsive_pub_spark.streaming.pack_ids_stream import PackIdsStreaming
from responsive_pub_spark.streaming.pack_stream import PackStreaming
from responsive_pub_spark.streaming.shard_stream import ShardStreaming

_chaos_kill = chaos_kill_hook("SPARK_GRAFT_HANDOFF_KILL")


def _leg_chaos(leg: str):
    """Per-leg chaos hook: arm with SPARK_GRAFT_HANDOFF_KILL=<leg>:<window>
    (windows: handoff-staged, handoff-placed — see handoff.ship)."""
    return lambda label: _chaos_kill(f"{leg}:{label}")

#: the full ingress row (the dedup lane reads its (doc_id, text, ts)
#: projection from the same files; the handoff legs read this one)
INGRESS_SCHEMA = "doc_id BIGINT, lang STRING, text STRING, ts DOUBLE"
SURV_SCHEMA = "doc_id BIGINT, lang STRING, text STRING"


class PretrainStream:
    """Compose dedup + decontamination + mixture + the three export
    lanes into one ingest-to-training-data pipeline over a shared
    ``workdir`` (see module docstring). All state is on disk; a fresh
    instance over the same workdir resumes where the last one stopped
    (cold restart — every stage re-reads its own
    checkpoint/topic/marker/commit log).

    ``contam_threshold`` enables the decontamination gate: docs whose
    maintained ``contam_frac`` is >= the threshold never ship (and
    :meth:`quarantine` names the already-shipped ones a later benchmark
    flags). ``mixture_weights_bp`` enables the mixture gate: survivors
    are accepted/rejected to the target per-lang token blend from the
    incrementally-maintained masses. Both default off."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        budget: int | None = None,
        retention: float = 3600.0,
        probe_depth: int = 8,
        tokenizer_fit: DataFrame | None = None,
        contam_threshold: float | None = None,
        mixture_weights_bp: "dict[str, int] | None" = None,
    ):
        self.spark = spark
        self.contam_threshold = contam_threshold
        self.mixture_weights_bp = mixture_weights_bp
        self.nd = NearDupStreaming(
            spark,
            os.path.join(workdir, "neardup"),
            probe_depth=probe_depth,
            retention=retention,
            continuous=True,
        )
        # ingress carries lang beside the dedup lane's columns — the
        # dedup stream reads its 3-column projection from the SAME
        # stamped files, so no separate lang staging topic exists
        self.ingress = StampedTopic(
            os.path.join(workdir, "ingress"), self.nd.docs_dir
        )
        self.survivors = StampedTopic(os.path.join(workdir, "survivors"))
        self.shipped = StampedTopic(os.path.join(workdir, "shipped"))
        self.markers = os.path.join(workdir, "markers")
        os.makedirs(self.markers, exist_ok=True)
        # refuse to resume a PRE-handoff (r12) workdir: a fresh marker
        # over an already-populated destination would re-ship history
        assert_handoff_layout(
            self.survivors.docs_dir,
            os.path.join(self.markers, "surv.upto"),
            "PretrainStream surv leg",
        )
        assert_handoff_layout(
            self.shipped.docs_dir,
            os.path.join(self.markers, "ship.upto"),
            "PretrainStream ship leg",
        )
        #: files-read surfaces for the O(new-work) gate tests: the drop
        #: files the last advance's anti-join read, and the decision
        #: paths the last contamination gate served from
        self.last_drops_files: "list[str]" = []
        self.last_decision_paths: "list[str]" = []

        self.decontam: DecontamStreaming | None = None
        if contam_threshold is not None:
            self.decontam = DecontamStreaming(
                spark, os.path.join(workdir, "decontam")
            )
            assert_handoff_layout(
                self.decontam.corpus_dir,
                os.path.join(self.markers, "decontam.upto"),
                "PretrainStream decontam leg",
            )
        self.mixture: MixtureStreaming | None = None
        if mixture_weights_bp is not None:
            self.mixture = MixtureStreaming(
                spark, os.path.join(workdir, "mixture")
            )
            assert_handoff_layout(
                self.mixture.docs_dir,
                os.path.join(self.markers, "mixture.upto"),
                "PretrainStream mixture leg",
            )

        kw = {} if budget is None else {"budget": int(budget)}
        # one shipped topic, three consumer lanes (each owns only its
        # checkpoint + commit log; the topic is written once per wave)
        self.shards = ShardStreaming(
            spark,
            os.path.join(workdir, "shards"),
            topic_dir=self.shipped.docs_dir,
            **kw,
        )
        self.packs = PackStreaming(
            spark,
            os.path.join(workdir, "packs"),
            topic_dir=self.shipped.docs_dir,
            **kw,
        )
        # the ID-EMISSION leg: the frozen-tokenizer twin of the pack
        # leg. Enabled by passing ``tokenizer_fit`` ONCE; restarts over
        # the same workdir find the atomically-published artifact.
        ids_dir = os.path.join(workdir, "pack_ids")
        have_artifact = os.path.exists(os.path.join(ids_dir, "tokenizer"))
        self.pack_ids: PackIdsStreaming | None = None
        if tokenizer_fit is not None or have_artifact:
            self.pack_ids = PackIdsStreaming(
                spark,
                ids_dir,
                fit_docs=tokenizer_fit,
                topic_dir=self.shipped.docs_dir,
                **kw,
            )

    # -- ingest ------------------------------------------------------------
    def ingest(self, docs: DataFrame) -> None:
        """Append a wave of (doc_id, lang, text, ts) docs to the stamped
        ingress topic (one append == one wave == one watermark step)."""
        self.ingress.append(
            lambda: docs.select(
                "doc_id", "lang", "text", F.col("ts").cast("double")
            )
            .write.mode("append")
            .parquet(self.ingress.docs_dir)
        )

    def register_benchmark(self, evals: DataFrame) -> None:
        """Register a held-out benchmark wave (doc_id, text) with the
        decontamination lane. Takes effect at the NEXT advance: newly
        contaminated docs stop shipping, and docs ALREADY shipped that
        this benchmark newly flags appear in :meth:`quarantine` —
        retroactive over the full ingested corpus (the maintained
        postings make the re-check a join, never a re-shingle)."""
        if self.decontam is None:
            raise ValueError(
                "PretrainStream: the decontamination lane was never "
                "enabled — pass contam_threshold= at construction"
            )
        self.decontam.ingest_evals(evals)

    # -- gates ---------------------------------------------------------------
    def _contaminated_ids(self) -> DataFrame:
        """doc_ids at or above the contamination threshold, from the
        MAINTAINED decision table (base + post-base deltas — never a
        corpus-postings scan; empty frame when the gate is off)."""
        if self.decontam is None:
            self.last_decision_paths = []
            return self.spark.createDataFrame([], "doc_id BIGINT")
        ids = (
            self.decontam.decision()
            .filter(F.col("contam_frac") >= float(self.contam_threshold))
            .select("doc_id")
        )
        self.last_decision_paths = list(self.decontam.last_decision_paths)
        return ids

    def advance(self) -> None:
        """Drain every stage (see module docstring for the topic chain
        and the replay contract): dedup verdicts, then the watermarked
        legs — survivors, decontam postings, mixture masses, the gated
        ship — then the three export lanes over the shipped topic.

        Every derived read on this path is O(new-work): the surv leg
        anti-joins drop verdicts SINCE the leg's carried drops pointer
        (verdicts are immutable, so over-reading after a crash is
        harmless and the pointer advances only after the ship covered
        every ingested doc), and the contamination gate reads the
        maintained decision table (r13 verdict task 1)."""
        self.nd.advance()
        drops_mark = os.path.join(self.markers, "surv.drops")
        drops, dmax, dfiles = self.nd.drop_ids_since(
            read_marker(drops_mark)
        )
        self.last_drops_files = dfiles
        ship(
            self.spark,
            self.ingress,
            INGRESS_SCHEMA,
            os.path.join(self.markers, "surv.upto"),
            self.survivors.docs_dir,
            lambda new: new.select("doc_id", "lang", "text").join(
                drops, "doc_id", "left_anti"
            ),
            dest_topic=self.survivors,
            chaos=_leg_chaos("surv"),
        )
        # after the ship: everything ingested is covered, so verdicts up
        # to dmax can never be needed by a future wave's anti-join
        publish_pointer(drops_mark, str(dmax))

        if self.decontam is not None:
            # maintain the corpus fingerprints BEFORE gating, so this
            # wave's docs are checked against every registered benchmark
            ship(
                self.spark,
                self.survivors,
                SURV_SCHEMA,
                os.path.join(self.markers, "decontam.upto"),
                self.decontam.corpus_dir,
                lambda new: new.select("doc_id", "text"),
                chaos=_leg_chaos("decontam"),
            )
            self.decontam.advance()
        contaminated = self._contaminated_ids()

        if self.mixture is not None:
            # masses cover the decontam-PASSING survivors (the corpus
            # the batch referee resamples), rejected-by-mixture included
            ship(
                self.spark,
                self.survivors,
                SURV_SCHEMA,
                os.path.join(self.markers, "mixture.upto"),
                self.mixture.docs_dir,
                lambda new: new.join(contaminated, "doc_id", "left_anti"),
                chaos=_leg_chaos("mixture"),
            )
            self.mixture.advance()

        def gate(new: DataFrame) -> DataFrame:
            out = new.join(contaminated, "doc_id", "left_anti")
            if self.mixture is not None:
                accepted = self.mixture.resample(
                    out, weights_bp=self.mixture_weights_bp
                ).select("doc_id")
                out = out.join(accepted, "doc_id")
            return out.select("doc_id", "lang", "text")

        ship(
            self.spark,
            self.survivors,
            SURV_SCHEMA,
            os.path.join(self.markers, "ship.upto"),
            self.shipped.docs_dir,
            gate,
            dest_topic=self.shipped,
            chaos=_leg_chaos("ship"),
            # the exporter lanes read this topic with wave == file ==
            # micro-batch (their batch-parity contract; shard and pack
            # order by DIFFERENT keys, so no multi-file split preserves
            # both) — the gate build still runs at full parallelism,
            # only the final write stage is one task (handoff.ship)
            wave_files=1,
        )

        self.shards.advance()
        self.packs.advance()
        if self.pack_ids is not None:
            self.pack_ids.advance()

    # -- readers -----------------------------------------------------------
    def assignments(self) -> DataFrame:
        """Committed (doc_id, n_tokens, shard_id, shard_offset) rows."""
        return self.shards.assignments()

    def manifest(self) -> DataFrame:
        return self.shards.manifest()

    def pack_assignments(self) -> DataFrame:
        """Committed (doc_id, lang, n_tokens, seq_id, seq_offset) rows."""
        return self.packs.assignments()

    def token_ids(self) -> DataFrame:
        """Committed (lang, seq_id, pos, token_id) rows — the streamed
        ``pack_token_ids`` deliverable (requires the id leg)."""
        if self.pack_ids is None:
            raise ValueError(
                "PretrainStream: the id leg was never enabled — pass "
                "tokenizer_fit= on first construction"
            )
        return self.pack_ids.ids()

    def token_sequences(
        self,
        lang: str,
        closed_only: bool = True,
        mask_quarantined: bool = False,
    ):
        """Training-batch reader over the streamed ids: (seq_id, toks)
        fixed-length arrays per language (see
        PackIdsStreaming.sequences).

        ``mask_quarantined=True`` is the :meth:`quarantine` manifest's
        CONSUMER (r13 verdict task 3): sequences overlapping any (lang,
        seq_id_first..seq_id_last) range a retroactively-registered
        benchmark flagged are DROPPED from the training read, while
        :meth:`token_ids` (the audit surface) still shows them — the
        reference's read-side validity filtering over maintained state
        (internal/db/MongoKVTable.java:164: readers filter by verdict,
        writers never rewrite shipped data). The quarantine set is
        benchmark-scale, so the range filter is a broadcast anti-join,
        never a shuffle of the sequences."""
        if self.pack_ids is None:
            raise ValueError(
                "PretrainStream: the id leg was never enabled — pass "
                "tokenizer_fit= on first construction"
            )
        seqs = self.pack_ids.sequences(lang, closed_only=closed_only)
        if not mask_quarantined:
            return seqs
        ranges = (
            self.quarantine()
            .filter(F.col("lang") == lang)
            .select("seq_id_first", "seq_id_last")
            .distinct()
        )
        cond = (seqs["seq_id"] >= ranges["seq_id_first"]) & (
            seqs["seq_id"] <= ranges["seq_id_last"]
        )
        return seqs.join(F.broadcast(ranges), cond, "left_anti")

    def surviving_docs(self) -> DataFrame:
        docs = self.spark.read.schema(DOCS_SCHEMA).parquet(self.nd.docs_dir)
        drops = (
            self.nd.verdicts().filter("is_duplicate").select("doc_id")
        )
        return docs.join(drops, "doc_id", "left_anti").select(
            "doc_id", "text"
        )

    def shipped_docs(self) -> DataFrame:
        """(doc_id, lang, text) of everything that passed every gate and
        reached the export lanes."""
        files = [p for _, p in self.shipped.stamped_files()]
        if not files:
            return self.spark.createDataFrame([], SURV_SCHEMA)
        return self.spark.read.schema(SURV_SCHEMA).parquet(*files)

    def contamination_report(self) -> DataFrame:
        """The MAINTAINED per-doc contamination decision table (see
        DecontamStreaming.decision), retroactive over every registered
        benchmark — row-equal to the derived ``decontam.report()``
        whenever an advance followed the ingests."""
        if self.decontam is None:
            raise ValueError(
                "PretrainStream: the decontamination lane was never "
                "enabled — pass contam_threshold= at construction"
            )
        return self.decontam.decision()

    def quarantine(self) -> DataFrame:
        """The retroactive-contamination manifest (r13 verdict task 2):
        for every doc ALREADY SHIPPED whose maintained ``contam_frac``
        is at or above the threshold — i.e. a benchmark registered
        after shipment newly flags it — the (lang, seq_id) range its
        tokens occupy in the packed training sequences and the shard
        range holding it, the spans a training run must mask. Docs the
        gate excluded before shipping never appear (they have no
        assignments). Output: (doc_id, lang, contam_frac, seq_id_first,
        seq_id_last, shard_id_first, shard_id_last)."""
        flagged = (
            self.contamination_report()
            .filter(F.col("contam_frac") >= float(self.contam_threshold))
            .select("doc_id", "contam_frac")
        )

        def span(first_col: str, off_col: str, budget: int, out: str):
            return [
                F.col(first_col).alias(f"{out}_first"),
                (
                    F.col(first_col)
                    + F.expr(
                        f"({off_col} + greatest(n_tokens, 1) - 1) "
                        f"DIV {budget}"
                    )
                ).cast("bigint").alias(f"{out}_last"),
            ]

        packs = self.pack_assignments().select(
            "doc_id",
            "lang",
            *span("seq_id", "seq_offset", self.packs.budget, "seq_id"),
        )
        shards = self.assignments().select(
            "doc_id",
            *span(
                "shard_id", "shard_offset", self.shards.budget, "shard_id"
            ),
        )
        return (
            flagged.join(packs, "doc_id")
            .join(shards, "doc_id")
            .select(
                "doc_id",
                "lang",
                "contam_frac",
                "seq_id_first",
                "seq_id_last",
                "shard_id_first",
                "shard_id_last",
            )
        )

    def mixture_masses(self) -> DataFrame:
        """The maintained (lang, n_d) token masses the mixture gate
        decides from (requires the mixture lane)."""
        if self.mixture is None:
            raise ValueError(
                "PretrainStream: the mixture lane was never enabled — "
                "pass mixture_weights_bp= at construction"
            )
        return self.mixture.masses()

    def mixture_referee(self, docs: DataFrame) -> DataFrame:
        """The batch accept set over an arbitrary (doc_id, lang, text)
        frame under the configured weights — the parity referee
        (``mixture_resample_tokens`` recomputing masses from ``docs``
        itself)."""
        return mixture_resample_tokens(
            docs, weights_bp=self.mixture_weights_bp
        )
