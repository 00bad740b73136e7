"""Incremental BM25 corpus statistics: streaming df/dl maintenance.

``textops.bm25_topk`` recomputes corpus statistics (per-term document
frequency, per-doc length, global token totals) from scratch on every
run. This lane maintains them INCREMENTALLY as documents stream in, so
the hybrid retrieval stack (examples/retrieval_stream.py) can serve
BM25-scored candidates from live state without a corpus-wide
recomputation per query — the same batch/streaming parity contract as
the CMS/HLL sketch lanes (tests/test_streaming.py).

Three checkpointed availableNow queries over file topics:

1. **postings** (stateless, append): each arriving doc is tokenized ONCE
   into (doc_id, w, tf, dl) rows — term frequency and doc length are
   per-ROW array expressions (distinct-token fold), so the query holds
   zero state and a doc is never re-tokenized.
2. **term df** (STATEFUL streaming aggregation, update mode):
   ``groupBy(w).count()`` over the posting rows, upserted into a
   KeyValueTableSink — state is vocab-sized, the same bound as the batch
   df table.
3. **corpus stats** (STATEFUL streaming aggregation, complete mode):
   n_docs / total_dl — a 1-row aggregate, republished per batch as a
   ``stats_v/vNNNNNN`` version through ``commitlog.VersionedSnapshot``
   (protocol and crash windows in the ``commitlog`` module docstring):
   a crash at any instant serves the previous complete snapshot, and
   the complete-mode re-aggregation republishes on resume.
   SIGKILL-verified in tests/test_chaos_sigkill.py.

:meth:`topk` feeds the MAINTAINED tables into the IDENTICAL integer
scoring expression ``bm25_topk`` uses (k1=1.2, b=0.75 as exact
rationals) — query time does joins only, no df/len aggregation anywhere.
Batch parity is exact and asserted in tests/test_streaming.py: after any
sequence of ingest waves, ``topk()`` row-equals ``bm25_topk`` over the
union of the waves. :meth:`hybrid_topk` extends the contract to the
full two-stage retrieval stack: the maintained statistics feed stage 1
and ``similarity.hybrid_rerank`` re-ranks by embedding cosine — query
time never re-aggregates corpus df/dl.

Reference anchor: the materialized-view posture of KTable aggregations
(kafka-client KGroupedStream.count/aggregate) applied to retrieval
statistics; delivery is exactly-once end to end (transactional file
sinks + per-query checkpoints).

Scale posture: the ingest query shuffles nothing (per-row exprs, append
sink); the df aggregation shuffles posting rows by term with map-side
partials into vocab-sized state; the stats aggregation is one scalar.
Query-time joins broadcast the n_queries-row term table and the 1-row
stats table against the postings scan — the corpus-sized side never
aggregates at query time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from responsive_pub_spark.functions.portable import pround
from responsive_pub_spark.operators.textops import (
    BM25_MIN_TERM_LEN,
    BM25_N_QUERIES,
    BM25_SCALE,
    BM25_TOP,
)
from responsive_pub_spark.streaming.commitlog import (
    VersionedSnapshot,
    maintenance_lock,
)
from responsive_pub_spark.streaming.kv_sink import KeyValueTableSink
from responsive_pub_spark.streaming.runtime import run_concurrent, run_to_sink
from responsive_pub_spark.streaming.shard_stream import _chaos_kill_env

DOCS_SCHEMA = "doc_id BIGINT, text STRING"
POSTINGS_SCHEMA = "doc_id BIGINT, w STRING, tf BIGINT, dl BIGINT"

#: the same whitespace tokenization as textops.bm25_topk
_ARR = "filter(split(text, '\\\\s+'), x -> x != '')"

_chaos_kill = _chaos_kill_env("SPARK_GRAFT_BM25_KILL")


class Bm25Streaming:
    """Incrementally-maintained BM25 statistics over a docs file topic
    (see module docstring). All state is under ``workdir``; a fresh
    instance resumes from the checkpoints (cold restart)."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.docs_dir = os.path.join(workdir, "docs")
        self.postings_dir = os.path.join(workdir, "postings")
        self.stats_root = os.path.join(workdir, "stats_v")
        self.stats_pointer = os.path.join(workdir, "STATS")
        self.ck_post = os.path.join(workdir, "ck-postings")
        self.ck_df = os.path.join(workdir, "ck-df")
        self.ck_stats = os.path.join(workdir, "ck-stats")
        self.maint_lock = os.path.join(workdir, "maint.lock")
        os.makedirs(self.docs_dir, exist_ok=True)
        os.makedirs(self.postings_dir, exist_ok=True)
        # construction never GCs: orphans are collected inside the next
        # LOCKED publish (see the commitlog module docstring)
        self.stats_base = VersionedSnapshot(
            self.stats_root,
            self.stats_pointer,
            "v",
            chaos=_chaos_kill,
            labels=("staged-stats", "post-flip"),
        )
        self.df_sink = KeyValueTableSink(
            os.path.join(workdir, "term_df"), ["w"], ["df"]
        )

    def ingest(self, docs: DataFrame) -> None:
        """Append a wave of (doc_id, text) docs to the topic."""
        docs.select("doc_id", "text").write.mode("append").parquet(
            self.docs_dir
        )

    def advance(self) -> None:
        """Drain pending docs through all three maintenance queries."""
        # 1) stateless tokenize-once -> postings topic. tf per term is a
        # per-row fold over the doc's own token array (distinct x len per
        # doc), so NO streaming aggregation state exists here
        docs = (
            self.spark.readStream.schema(DOCS_SCHEMA)
            # handoff waves are committed DIRECTORIES (handoff.ship)
            .option("recursiveFileLookup", "true")
            .parquet(self.docs_dir)
        )
        entries = (
            f"transform(array_distinct({_ARR}), "
            f"w -> struct(w AS w, "
            f"CAST(size(filter({_ARR}, y -> y = w)) AS BIGINT) AS tf))"
        )
        postings = docs.select(
            "doc_id",
            F.explode(F.expr(entries)).alias("e"),
            F.expr(f"CAST(size({_ARR}) AS BIGINT)").alias("dl"),
        ).select("doc_id", F.col("e.w").alias("w"), F.col("e.tf").alias("tf"), "dl")

        def drain_postings_then_df() -> None:
            run_to_sink(postings, self.postings_dir, self.ck_post)
            # 2) stateful df: one streaming agg over posting rows,
            # update-mode upsert into the KV table (vocab-sized state).
            # Defined AFTER the postings drain so its initial listing
            # sees the new files — the 1 -> 2 order is a real dependency
            post_stream = self.spark.readStream.schema(
                POSTINGS_SCHEMA
            ).parquet(self.postings_dir)
            dfreq = post_stream.groupBy("w").agg(
                F.count("*").cast("bigint").alias("df")
            )
            q = (
                dfreq.writeStream.foreachBatch(self.df_sink)
                .outputMode("update")
                .option("checkpointLocation", self.ck_df)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # 3) stateful corpus scalars: 1-row complete-mode aggregate —
        # reads the docs topic, independent of the postings/df chain
        doc_stream = (
            self.spark.readStream.schema(DOCS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(self.docs_dir)
        )
        stats = doc_stream.select(
            F.expr(f"CAST(size({_ARR}) AS BIGINT)").alias("dl")
        ).agg(
            F.sum("dl").cast("bigint").alias("total_dl"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
        def write_stats(bdf: DataFrame, _bid: int) -> None:
            # a new stats version per batch, never an in-place overwrite
            # of the serving snapshot
            _chaos_kill("pre-stats")
            with maintenance_lock(self.maint_lock, "BM25 stats publish"):
                with self.stats_base.publish() as stage:
                    bdf.coalesce(1).write.mode("overwrite").parquet(stage)
                self.stats_base.gc()

        def drain_stats() -> None:
            q = (
                stats.writeStream.foreachBatch(write_stats)
                .outputMode("complete")
                .option("checkpointLocation", self.ck_stats)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # the (postings -> df) chain and the stats drain are independent
        # legs — overlap them in driver threads: the
        # per-query-start machinery of the stats leg rides inside the
        # postings leg's wall time instead of after it
        run_concurrent(drain_postings_then_df, drain_stats)

    # -- maintenance -------------------------------------------------------
    def compact(self) -> None:
        """Fold the term-df KV table's delta log into one base delta
        (changelog truncation — kv_sink.KeyValueTableSink.compact); the
        postings topic is bounded by Spark's own file-sink metadata
        compaction, and the stats snapshot is one versioned dir by
        construction."""
        self.df_sink.compact(self.spark)

    # -- maintained state readers ----------------------------------------
    def postings(self) -> DataFrame:
        return self.spark.read.schema(POSTINGS_SCHEMA).parquet(
            self.postings_dir
        )

    def term_df(self) -> DataFrame:
        return self.df_sink.read(self.spark)

    def stats(self) -> DataFrame:
        cur = self.stats_base.current()
        if cur is None:  # nothing published yet
            return self.spark.createDataFrame(
                [], "total_dl BIGINT, n_docs BIGINT"
            )
        return self.spark.read.schema(
            "total_dl BIGINT, n_docs BIGINT"
        ).parquet(cur)

    def topk(
        self, n_queries: int = BM25_N_QUERIES, top: int = BM25_TOP
    ) -> DataFrame:
        """Top-k docs per query term from the MAINTAINED statistics —
        the identical integer scoring expression as
        ``textops.bm25_topk`` (row-equal to the batch computation over
        the same corpus), with zero query-time aggregation over the
        corpus: df and the corpus scalars come from the incrementally
        maintained tables."""
        dfreq = self.term_df()
        qterms = (
            dfreq.filter(F.length("w") >= BM25_MIN_TERM_LEN)
            .orderBy(F.desc("df"), F.asc("w"))
            .limit(int(n_queries))
        )
        scored = (
            self.postings()
            .join(F.broadcast(qterms), "w")
            .crossJoin(F.broadcast(self.stats()))
            .withColumn(
                "score_fp",
                F.expr(
                    f"110 * tf * total_dl * {BM25_SCALE} DIV "
                    f"(5 * (10 * tf * total_dl + 3 * total_dl + "
                    f"9 * dl * n_docs))"
                ),
            )
        )
        w_ = Window.partitionBy("w").orderBy(
            F.desc("score_fp"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w_))
            .filter(F.col("rk") <= int(top))
            .select(
                F.col("w").alias("term"),
                F.col("rk").cast("bigint").alias("rk"),
                "doc_id",
                F.col("tf").cast("bigint").alias("tf"),
                F.col("score_fp").cast("bigint").alias("score_fp"),
                pround(
                    F.log(
                        (F.col("n_docs") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                        + F.lit(1.0)
                    )
                    * (
                        F.col("score_fp").cast("double")
                        / F.lit(float(BM25_SCALE))
                    ),
                    6,
                ).alias("bm25"),
            )
        )

    def hybrid_topk(
        self,
        emb: DataFrame,
        n_queries: "int | None" = None,
        n_cand: "int | None" = None,
        k: "int | None" = None,
    ) -> DataFrame:
        """Two-stage hybrid retrieval from the MAINTAINED statistics:
        stage 1 candidates come from :meth:`topk` (incrementally
        maintained df/dl/corpus scalars — query time is joins only,
        never a corpus re-aggregation), stage 2 is
        ``similarity.hybrid_rerank``'s embedding-cosine re-rank over
        exactly those candidate rows. Row-equal to the batch
        ``hybrid_rerank`` over the same corpus + embeddings (the stage-1
        parity contract composed through an injection point instead of a
        recompute)."""
        from responsive_pub_spark.operators import similarity

        nq = int(n_queries if n_queries is not None else BM25_N_QUERIES)
        nc = int(
            n_cand if n_cand is not None else similarity.HYBRID_CANDIDATES
        )
        kk = int(k if k is not None else similarity.HYBRID_K)
        cands = self.topk(n_queries=nq, top=nc).select(
            "term", "rk", "doc_id"
        )
        return similarity.hybrid_rerank(
            None, emb, n_queries=nq, n_cand=nc, k=kk, cands=cands
        )
