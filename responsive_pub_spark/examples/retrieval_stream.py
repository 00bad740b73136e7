"""Incremental retrieval stack: streaming ingest -> continuous near-dup
drop -> IVF index upsert -> hybrid (BM25 + embedding) queries.

The STREAMING twin of ``examples/vector_pipeline.py`` — the deployment
shape a retrieval corpus actually runs: documents (with their embeddings)
arrive continuously; near-duplicates are dropped on arrival by the
FACT-store banded-MinHash lane (first copy wins, later copies never reach
the index); survivors' vectors are upserted into the incremental IVF
index; and two query surfaces serve from the live state:

- :meth:`ann_topk` — IVF top-k over the served inverted lists (the
  vector-native surface; ``IvfIncremental.maybe_retrain`` keeps the
  centroids covering the drifted distribution, crash-atomically);
- :meth:`hybrid` — BM25 lexical candidates re-ranked by embedding cosine
  over the SURVIVING documents, served from the INCREMENTALLY MAINTAINED
  BM25 statistics (``Bm25Streaming.hybrid_topk``): query time is joins
  over the postings/df/stats tables the ingest path keeps current, never
  a per-query corpus-wide df/dl re-aggregation.

HANDOFFS ARE O(NEW-WORK) (r12 verdict task 3): both stage-to-stage
handoffs (survivor vectors -> IVF, survivor docs -> BM25) ride the
carried-watermark protocol of ``streaming/handoff.py`` — the source
topics are mtime-stamped at ingest, each leg carries a 1-row
crash-atomic ``upto`` marker, and an advance reads ONLY the source
files past the mark (a later advance never re-scans wave-1 files; an
advance with nothing new runs zero Spark jobs). Exactly-once across a
crash anywhere: the shipped file's atomic rename is the commit point
and its name proves its coverage on replay. This replaced the r12
full-topic anti-joins ("ship what the destination does not already
hold"), which re-read every destination row per wave. The build step
is deterministic at any replay because dedup verdicts are IMMUTABLE
(first-copy-wins: a survivor never becomes a duplicate later).

The reference analog is the async-enrich posture of
e2etest/E2ETestApplication.java:120-148 composed with FACT-store dedup
(api/stores/ResponsiveStores.java:79-96): an ingest topology whose state
feeds interactive queries. Spark-first mapping: each stage is its own
checkpointed ``runtime.run_to_sink`` drain; every handoff is a parquet topic.

Scale posture: the dedup lane shuffles (band, band_hash) keyed bucket
state holding member IDS only; each handoff leg reads the NEW wave's
files plus one pointer (driver work = one listdir per topic); the
anti-join against the drop set is a doc_id equi-join whose left side is
wave-sized (AQE broadcasts it); the IVF upsert is one broadcast-assign
pass over NEW vectors only; both query surfaces probe — they never
shuffle the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.operators import similarity
from responsive_pub_spark.streaming.ann_stream import IvfIncremental
from responsive_pub_spark.streaming.bm25_stream import Bm25Streaming
from responsive_pub_spark.streaming.dedup_stream import (
    DOCS_SCHEMA,
    NearDupStreaming,
)
from responsive_pub_spark.streaming.commitlog import (
    chaos_kill_hook,
    publish_pointer,
)
from responsive_pub_spark.streaming.handoff import (
    StampedTopic,
    assert_handoff_layout,
    read_marker,
    ship,
)

_chaos_kill = chaos_kill_hook("SPARK_GRAFT_HANDOFF_KILL")


def _leg_chaos(leg: str):
    """Per-leg chaos hook (the pretrain_stream pattern): arm with
    SPARK_GRAFT_HANDOFF_KILL=<leg>:<window>."""
    return lambda label: _chaos_kill(f"{leg}:{label}")

#: staged (vec_id, embedding) rows awaiting their dedup verdict
PENDING_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>"


class RetrievalStream:
    """Compose NearDupStreaming (continuous mode) + IvfIncremental into
    one ingest-to-query pipeline over a shared ``workdir``. All state is
    on disk; a fresh instance over the same workdir resumes where the
    last one stopped (cold restart — every stage re-reads its own
    checkpoint/topic/marker)."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        centroids: DataFrame | None = None,
        retention: float = 3600.0,
        probe_depth: int = 8,
    ):
        self.spark = spark
        self.nd = NearDupStreaming(
            spark,
            os.path.join(workdir, "neardup"),
            probe_depth=probe_depth,
            retention=retention,
            continuous=True,
        )
        self.ivf = IvfIncremental(
            spark, os.path.join(workdir, "ivf"), centroids=centroids
        )
        self.bm25 = Bm25Streaming(spark, os.path.join(workdir, "bm25"))
        # both ingest topics carry the deterministic mtime stamps the
        # handoff watermark orders by; one marker per consumer leg
        self.src_docs = StampedTopic(
            os.path.join(workdir, "ingress-docs"), self.nd.docs_dir
        )
        self.src_vecs = StampedTopic(
            os.path.join(workdir, "ingress-vecs"),
            os.path.join(workdir, "pending_vecs"),
        )
        self.markers = os.path.join(workdir, "markers")
        os.makedirs(self.markers, exist_ok=True)
        # refuse to resume a PRE-handoff (r12) workdir (pending_vecs/
        # doc_lang layout): a fresh marker over an already-populated
        # destination would re-ship the full history — for the BM25
        # df/dl aggregates an unrepairable double-count
        assert_handoff_layout(
            self.ivf.vecs_dir,
            os.path.join(self.markers, "ivf.upto"),
            "RetrievalStream ivf leg",
        )
        assert_handoff_layout(
            self.bm25.docs_dir,
            os.path.join(self.markers, "bm25.upto"),
            "RetrievalStream bm25 leg",
        )
        #: drop files the last advance's anti-joins read (files-read gate)
        self.last_drops_files: "list[str]" = []

    # -- ingest ----------------------------------------------------------
    def ingest(self, rows: DataFrame) -> None:
        """Append a wave of (doc_id, text, embedding, ts) rows: the text
        goes to the dedup lane's docs topic, the vector is STAGED until
        its doc survives the near-dup verdict. Both writes land under
        the stamp discipline so every handoff leg can watermark them."""
        self.src_docs.append(
            lambda: rows.select(
                "doc_id", "text", F.col("ts").cast("double")
            )
            .write.mode("append")
            .parquet(self.src_docs.docs_dir)
        )
        self.src_vecs.append(
            lambda: rows.select(
                F.col("doc_id").alias("vec_id"),
                F.col("embedding").cast("array<float>").alias("embedding"),
            )
            .write.mode("append")
            .parquet(self.src_vecs.docs_dir)
        )

    def advance(self) -> None:
        """Drain every stage: dedup verdicts over everything ingested,
        then ship the NEW survivors (watermarked — only source files
        past each leg's carried mark are read) to the IVF and BM25
        lanes. Exactly-once per leg across a crash anywhere (the
        handoff's atomic-rename commit point); idempotent because the
        dedup verdict for a doc never changes once emitted."""
        self.nd.advance()
        # the anti-join side is O(new-work) too (r13 verdict task 1a):
        # each leg carries a drops pointer and reads only verdict files
        # stamped past it — verdicts are immutable (first copy wins),
        # so a crash-stale pointer over-reads harmlessly and the pointer
        # advances only after the leg's ship covered every ingested doc
        ivf_mark = os.path.join(self.markers, "ivf.drops")
        drops_ivf, dmax_ivf, f_ivf = self.nd.drop_ids_since(
            read_marker(ivf_mark)
        )
        ship(
            self.spark,
            self.src_vecs,
            PENDING_SCHEMA,
            os.path.join(self.markers, "ivf.upto"),
            self.ivf.vecs_dir,
            lambda staged: staged.join(
                drops_ivf.select(F.col("doc_id").alias("vec_id")),
                "vec_id",
                "left_anti",
            ),
            chaos=_leg_chaos("ivf"),
        )
        publish_pointer(ivf_mark, str(dmax_ivf))
        self.ivf.advance()

        # BM25 leg: the lane indexes exactly the dedup survivors; the
        # watermark (not a topic anti-join) is what makes an
        # at-least-once replay of the handoff ship nothing twice — df/dl
        # state would double-count a duplicate, and read-time dedup
        # cannot fix an aggregate, so the handoff dedups at the source.
        bm25_mark = os.path.join(self.markers, "bm25.drops")
        drops_bm, dmax_bm, f_bm = self.nd.drop_ids_since(
            read_marker(bm25_mark)
        )
        self.last_drops_files = sorted(set(f_ivf) | set(f_bm))
        ship(
            self.spark,
            self.src_docs,
            DOCS_SCHEMA,
            os.path.join(self.markers, "bm25.upto"),
            self.bm25.docs_dir,
            lambda staged: staged.select("doc_id", "text").join(
                drops_bm, "doc_id", "left_anti"
            ),
            chaos=_leg_chaos("bm25"),
        )
        publish_pointer(bm25_mark, str(dmax_bm))
        self.bm25.advance()

    # -- maintenance ------------------------------------------------------
    def maybe_retrain(self, retrain_pm: int = 1200) -> bool:
        """Delegate to the IVF's crash-atomic drift-triggered retrain."""
        return self.ivf.maybe_retrain(retrain_pm=retrain_pm)

    # -- query surfaces ---------------------------------------------------
    def surviving_docs(self) -> DataFrame:
        """(doc_id, text) of every ingested doc that survived dedup."""
        docs = self.spark.read.schema(DOCS_SCHEMA).parquet(self.nd.docs_dir)
        drops = (
            self.nd.verdicts().filter("is_duplicate").select("doc_id")
        )
        return docs.join(drops, "doc_id", "left_anti").select(
            "doc_id", "text"
        )

    def ann_topk(self, **kw) -> DataFrame:
        """IVF top-k over the served index (replay-dup-safe)."""
        return self.ivf.topk(**kw)

    def hybrid(
        self,
        n_queries: "int | None" = None,
        n_cand: int = similarity.HYBRID_CANDIDATES,
        k: int = similarity.HYBRID_K,
    ) -> DataFrame:
        """Two-stage retrieval over the LIVE state: BM25 candidates from
        the INCREMENTALLY MAINTAINED statistics (the lane indexes exactly
        the dedup survivors), re-ranked by cosine against the indexed
        vectors — query time joins the maintained postings/df/stats
        tables, never re-aggregating corpus df/dl. Row-equal to the
        batch ``hybrid_rerank`` over (surviving_docs, indexed vectors) —
        asserted across a cold restart in tests/test_examples.py."""
        emb = self.ivf.lists(dedup=True).select("vec_id", "embedding")
        return self.bm25.hybrid_topk(
            emb, n_queries=n_queries, n_cand=n_cand, k=k
        )
