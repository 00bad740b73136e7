"""Incremental token-id emission: the streaming continuation of
``bpe.pack_token_ids`` — packed training sequences WITH their token ids,
shipped wave by wave.

``streaming/pack_stream.py`` assigns (doc, seq_id, seq_offset) slots
incrementally, but the id streams a training loader actually consumes
(``pack_token_ids``'s (lang, seq_id, pos, token_id) rows) were
batch-only (the r11 VERDICT task-6 gap). This lane closes it by
composing the FROZEN-tokenizer replay (``bpe.segment_tokens_with_merges``
— the artifact-apply path) into the pack lane's commit protocol:

- the tokenizer is FROZEN at construction (the IvfIncremental centroids
  pattern): the merge table, the fit vocab's segmentation map, and the
  token->id vocab table are written once under ``workdir/tokenizer``
  through the staged-rename commit (``commitlog`` module docstring);
  restarts read the frozen copy. Ids are ``bpe_token_ids``'s contract —
  contiguous ranks in symbol lexicographic order over the learned
  inventory — so they are stable across waves by construction.
- each micro-batch tokenizes ONLY the arriving docs: batch words join
  the frozen segmentation map (vocab-sized broadcast); words unseen at
  fit time replay the frozen merges (``segment_tokens_with_merges`` over
  just the OOV words — the true BPE OOV path); per-doc ranks come from
  one window over the batch's token rows; the packing offset is the
  SAME ``bucketed_running_sum`` + carried per-lang totals as the pack
  lane; and the id rows land in the shared delta+marker commit log
  (``streaming/commitlog.py`` — atomic markers, compaction,
  exactly-once redelivery).
- a token absent from the frozen vocab (only reachable via an OOV word
  introducing a character the fit corpus never saw) is emitted as
  token_id = -1 — the UNK contract; its position still occupies its
  packing slot, so sequence shapes are independent of vocab coverage.

Batch parity (tests/test_pack_ids_stream.py): with the tokenizer frozen
on the full corpus, after waves W1..Wk ``ids()`` row-equals
``bpe.pack_token_ids`` computed with wave-major (wave, doc_id) order
inside each language — the gate oracle is ``pack_token_ids_oracle``
with the one extra sort key.

Scale posture: per-batch work is one corpus explode + two vocab-sized
broadcast joins + the audited bucketed prefix sum; the OOV replay runs
over the handful of genuinely new words, not the vocab; carried state
is the per-lang totals table; the commit log compacts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from responsive_pub_spark.operators import bpe
from responsive_pub_spark.operators.pipeline_ops import (
    PACK_BUDGET_TOKENS,
    bucketed_running_sum,
)
from responsive_pub_spark.streaming.commitlog import (
    DeltaCommitLog,
    chaos_kill_hook,
    staged_rename,
)
from responsive_pub_spark.streaming.runtime import run_to_sink
from responsive_pub_spark.streaming.shard_stream import _FileTopicMixin

DOCS_SCHEMA = "doc_id BIGINT, lang STRING, text STRING"
IDS_SCHEMA = "lang STRING, seq_id BIGINT, pos BIGINT, token_id BIGINT"
TOTALS_SCHEMA = "lang STRING, post_total BIGINT"
SEG_SCHEMA = "word STRING, s STRING"
VOCAB_SCHEMA = "token STRING, token_id BIGINT"
MERGES_SCHEMA = "step BIGINT, left STRING, right STRING, pair_count BIGINT"

_WORDS = "filter(split(text, '\\\\s+'), x -> x != '')"

_chaos_kill = chaos_kill_hook("SPARK_GRAFT_PACKIDS_KILL")


class PackIdsStreaming(_FileTopicMixin):
    """Incremental packed-token-id emitter over a docs file topic (see
    module docstring). ``fit_docs`` is required (and used) only on first
    construction for a given ``workdir`` — the tokenizer artifact is
    frozen from it; later instances (restarts) read the frozen copy."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        fit_docs: "DataFrame | None" = None,
        k: int = bpe.BPE_MERGES,
        budget: int = PACK_BUDGET_TOKENS,
        n_buckets: int = 64,
        topic_dir: "str | None" = None,
    ):
        self.spark = spark
        self.budget = int(budget)
        self.n_buckets = int(n_buckets)
        self.ck = os.path.join(workdir, "ck-ids")
        self.tok_dir = os.path.join(workdir, "tokenizer")
        # topic_dir= -> shared docs topic (see ShardStreaming.__init__)
        self._init_topic(workdir, topic_dir or os.path.join(workdir, "docs"))
        self.log = DeltaCommitLog(
            spark,
            os.path.join(workdir, "ids"),
            IDS_SCHEMA,
            TOTALS_SCHEMA,
            chaos=_chaos_kill,
        )
        if not os.path.exists(self.tok_dir):
            if fit_docs is None:
                raise ValueError(
                    "PackIdsStreaming: first build needs fit_docs= "
                    "(the corpus the tokenizer is frozen on)"
                )
            self._freeze(fit_docs, int(k))

    # -- frozen artifact -------------------------------------------------
    def _freeze(self, fit_docs: DataFrame, k: int) -> None:
        """Fit ``k`` merges on ``fit_docs`` and freeze the full apply
        artifact: merge table (k rows), the fit vocab's segmentation map
        (vocab-sized), and the token->id table (bpe_token_ids's
        lexicographic-rank contract).

        ATOMIC publish through ``commitlog.staged_rename``: the three
        pieces are staged under ``tokenizer.staging`` and the COMPLETE
        directory is renamed into place — Spark creates output
        directories before job commit, so a bare-existence check on a
        directly written ``tokenizer/`` dir was the torn-artifact hazard:
        a SIGKILL during the vocab write would leave merges+seg complete
        and vocab empty, a restart would skip the freeze, and every
        token would silently emit as UNK (-1). After the rename the
        artifact either exists complete or not at all; a crash before
        it leaves only the staging dir, which the retry clears."""
        with staged_rename(
            self.tok_dir,
            self.tok_dir + ".staging",
            _chaos_kill,
            "mid-freeze",
        ) as stage:
            merges = bpe.bpe_merges(fit_docs, k)
            merges.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, "merges")
            )
            words = fit_docs.select(F.explode(F.expr(_WORDS)).alias("word"))
            seg = bpe.segment_spaced_with_merges(words, merges)
            seg.write.mode("overwrite").parquet(os.path.join(stage, "seg"))
            vocab = (
                self.spark.read.schema(SEG_SCHEMA)
                .parquet(os.path.join(stage, "seg"))
                .select(
                    F.explode(F.expr("split(trim(s), ' ')")).alias("token")
                )
                .distinct()
                .withColumn(
                    "token_id",
                    (F.row_number().over(Window.orderBy("token")) - 1).cast(
                        "bigint"
                    ),
                )
            )
            vocab.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(stage, "vocab")
            )

    def _merges(self) -> DataFrame:
        return self.spark.read.schema(MERGES_SCHEMA).parquet(
            os.path.join(self.tok_dir, "merges")
        )

    def _seg(self) -> DataFrame:
        return self.spark.read.schema(SEG_SCHEMA).parquet(
            os.path.join(self.tok_dir, "seg")
        )

    def _vocab(self) -> DataFrame:
        return self.spark.read.schema(VOCAB_SCHEMA).parquet(
            os.path.join(self.tok_dir, "vocab")
        )

    # -- ingest ------------------------------------------------------------
    def ingest(self, docs: DataFrame) -> None:
        """Append one wave of (doc_id, lang, text) docs; one wave == one
        file == one micro-batch (_FileTopicMixin order + single-writer
        contract)."""
        self._ingest_files(
            lambda: docs.select("doc_id", "lang", "text")
            .coalesce(1)
            .write.mode("append")
            .parquet(self.docs_dir)
        )

    # -- commit protocol ---------------------------------------------------
    def _segment_batch(self, words: DataFrame) -> DataFrame:
        """(word, toks) for every batch word: frozen map for fit-vocab
        words, frozen-merge replay for the (rare) OOV remainder."""
        seg = self._seg().select(
            "word", F.expr("split(trim(s), ' ')").alias("toks")
        )
        known = words.join(F.broadcast(seg), "word", "left")
        oov_words = known.filter(F.col("toks").isNull()).select("word")
        # deliberate 1-job probe (r12 verdict task-9 audit): it runs only
        # inside a NON-EMPTY batch (an advance with no new wave never
        # reaches _apply — the watermark handoff short-circuits on a
        # listdir), and skipping the k-iteration merge replay when the
        # batch has no OOV words saves k empty plan compilations per
        # batch — strictly cheaper than running the replay unconditionally
        if oov_words.limit(1).count() == 0:
            return known.filter(F.col("toks").isNotNull())
        oov = bpe.segment_tokens_with_merges(oov_words, self._merges())
        return known.filter(F.col("toks").isNotNull()).unionByName(oov)

    def _apply(self, bdf: DataFrame, batch_id: int) -> None:
        if self.log.is_committed(batch_id):
            return  # redelivered — the offset check
        _chaos_kill("pre-delta")
        base = self.log.latest_totals(batch_id)
        if base is None:
            base = self.spark.createDataFrame([], TOTALS_SCHEMA)

        corpus = bdf.select(
            "doc_id",
            "lang",
            F.posexplode(F.expr(_WORDS)).alias("word_idx", "word"),
        ).repartition("doc_id")
        # ^ the rank window below shuffles on doc_id anyway; hoisting the
        # exchange under the broadcast segmentation join moves word-level
        # rows instead of the post-explode sub-token stream (r15, guide
        # §2.3 — same change as the batch pack_token_ids, A/B'd there)
        seg = self._segment_batch(corpus.select("word").distinct())
        sub = corpus.join(F.broadcast(seg), "word").select(
            "doc_id",
            "lang",
            "word_idx",
            F.posexplode("toks").alias("sub_idx", "token"),
        )
        rank_w = Window.partitionBy("doc_id").orderBy("word_idx", "sub_idx")
        ranked = sub.select(
            "doc_id",
            "lang",
            "token",
            (F.row_number().over(rank_w) - 1).cast("bigint").alias(
                "tok_rank"
            ),
            F.count("*")
            .over(Window.partitionBy("doc_id"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        per_doc = ranked.select("doc_id", "lang", "n_tokens").distinct()
        packed = bucketed_running_sum(
            per_doc,
            ["lang"],
            "doc_id",
            "n_tokens",
            "cum_tokens",
            n_buckets=self.n_buckets,
        ).join(
            F.broadcast(base.withColumnRenamed("post_total", "base0")),
            "lang",
            "left",
        ).select(
            "doc_id",
            (
                F.coalesce("base0", F.lit(0))
                + F.col("cum_tokens")
                - F.col("n_tokens")
            ).alias("doc_start"),
        )
        ids = (
            ranked.join(packed, "doc_id")
            .join(F.broadcast(self._vocab()), "token", "left")
            .select(
                "lang",
                F.expr(f"(doc_start + tok_rank) DIV {self.budget}").alias(
                    "seq_id"
                ),
                ((F.col("doc_start") + F.col("tok_rank")) % self.budget)
                .cast("bigint")
                .alias("pos"),
                F.coalesce("token_id", F.lit(-1))
                .cast("bigint")
                .alias("token_id"),
            )
        )
        self.log.write_delta(batch_id, ids)
        _chaos_kill("post-delta")
        # per-lang totals from the WRITTEN delta (one token == one row)
        batch_sums = (
            self.log.read_delta(batch_id)
            .groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("batch_tokens"))
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
        (commitlog.DeltaCommitLog.compact)."""
        return self.log.compact()

    # -- readers -----------------------------------------------------------
    def ids(self) -> DataFrame:
        """All committed (lang, seq_id, pos, token_id) rows — the
        training sequences, one row per corpus token."""
        return self.log.read_all()

    def totals(self) -> DataFrame:
        """Current per-lang carried token totals."""
        totals = self.log.latest_totals(1 << 62)
        if totals is None:
            return self.spark.createDataFrame([], TOTALS_SCHEMA)
        return totals

    def sequences(self, lang: str, closed_only: bool = True) -> DataFrame:
        """Training-batch reader: (seq_id, toks ARRAY<BIGINT>) for one
        language, each array in position order. ``closed_only`` (default)
        returns only FULL sequences (every pos 0..budget-1 present) —
        the fixed-shape batches a loader consumes; the open tail
        sequence arrives once later waves fill it."""
        rows = self.ids().filter(F.col("lang") == lang)
        seqs = rows.groupBy("seq_id").agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "token_id"))
            ).alias("ps"),
            F.count("*").alias("n"),
        )
        if closed_only:
            seqs = seqs.filter(F.col("n") == self.budget)
        return seqs.select(
            "seq_id", F.expr("transform(ps, x -> x.token_id)").alias("toks")
        )
