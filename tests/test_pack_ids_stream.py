"""Batch parity, restart, OOV, and reader tests for the incremental
packed-token-id emitter (``streaming/pack_ids_stream.py``).

Parity contract: with the tokenizer FROZEN on the full corpus, after
ingesting waves W1..Wk ``ids()`` row-equals ``bpe.pack_token_ids``'s
composition computed with wave-major (wave, doc_id) order inside each
language — same ids, same sequence/position arithmetic, each language's
open sequence continuing exactly where its carried total left it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from responsive_pub_spark.operators import bpe
from responsive_pub_spark.streaming.pack_ids_stream import PackIdsStreaming

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow

BUDGET = 23
K = 4


def _wave(spark, which: int, n: int = 30):
    rows = [
        (
            which * 1000 + i,
            ["en", "de"][i % 2],
            " ".join(
                ["alpha", "beta", "gamma", "delta", "beta"][(i + j) % 5]
                for j in range(1 + (i * 3) % 7)
            ),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id BIGINT, lang STRING, text STRING"
    )


def _referee(spark, waves):
    """pack_token_ids's composition under wave-major order: fit on the
    union, rank tokens per doc, pack with a per-lang cumsum ordered
    (wave, doc_id)."""
    union = None
    for i, w in enumerate(waves):
        part = w.withColumn("wave", F.lit(i))
        union = part if union is None else union.unionByName(part)
    ids = bpe.bpe_token_ids(union.select("doc_id", "lang", "text"), K)
    rank_w = Window.partitionBy("doc_id").orderBy("word_idx", "sub_idx")
    ranked = ids.select(
        "doc_id",
        "token_id",
        (F.row_number().over(rank_w) - 1).cast("bigint").alias("tok_rank"),
        F.count("*")
        .over(Window.partitionBy("doc_id"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    per_doc = (
        ranked.select("doc_id", "n_tokens")
        .distinct()
        .join(union.select("doc_id", "lang", "wave"), "doc_id")
    )
    cum_w = (
        Window.partitionBy("lang")
        .orderBy("wave", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = per_doc.withColumn(
        "doc_start", F.sum("n_tokens").over(cum_w) - F.col("n_tokens")
    ).select("doc_id", "lang", "doc_start")
    return [
        (r.lang, int(r.seq_id), int(r.pos), int(r.token_id))
        for r in ranked.join(packed, "doc_id")
        .select(
            "lang",
            F.expr(f"(doc_start + tok_rank) DIV {BUDGET}").alias("seq_id"),
            ((F.col("doc_start") + F.col("tok_rank")) % BUDGET)
            .cast("bigint")
            .alias("pos"),
            "token_id",
        )
        .collect()
    ]


def _collect_ids(lane):
    return sorted(
        (r.lang, int(r.seq_id), int(r.pos), int(r.token_id))
        for r in lane.ids().collect()
    )


def test_streamed_ids_equal_wave_major_pack_token_ids(spark, tmp_path):
    waves = [_wave(spark, 0), _wave(spark, 1)]
    union = waves[0].unionByName(waves[1])
    lane = PackIdsStreaming(
        spark, str(tmp_path), fit_docs=union, k=K, budget=BUDGET, n_buckets=8
    )
    for w in waves:
        lane.ingest(w)
        lane.advance()
    want = sorted(_referee(spark, waves))
    got = _collect_ids(lane)
    assert got == want and len(got) > 0
    # every (lang, seq_id) below the open tail is a dense 0..budget-1
    # block, and carried totals equal the per-lang token counts
    totals = {r.lang: int(r.post_total) for r in lane.totals().collect()}
    by_lang = {}
    for lang, *_ in got:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert totals == by_lang
    import collections

    per_seq = collections.Counter((r[0], r[1]) for r in got)
    for lang in totals:
        top = max(s for (lg, s) in per_seq if lg == lang)
        for (lg, s), n in per_seq.items():
            if lg == lang and s < top:
                assert n == BUDGET, (lg, s, n)


def test_cold_restart_serves_and_continues(spark, tmp_path):
    waves = [_wave(spark, 0), _wave(spark, 1), _wave(spark, 2)]
    union = waves[0].unionByName(waves[1]).unionByName(waves[2])
    lane = PackIdsStreaming(
        spark, str(tmp_path), fit_docs=union, k=K, budget=BUDGET, n_buckets=8
    )
    for w in waves[:2]:
        lane.ingest(w)
        lane.advance()
    before = _collect_ids(lane)

    # fresh instance: NO fit_docs — the frozen artifact serves
    lane2 = PackIdsStreaming(
        spark, str(tmp_path), budget=BUDGET, n_buckets=8
    )
    assert _collect_ids(lane2) == before
    lane2.ingest(waves[2])
    lane2.advance()
    assert _collect_ids(lane2) == sorted(_referee(spark, waves))


def test_oov_words_emit_unk_but_keep_positions(spark, tmp_path):
    """A wave containing words with characters the fit corpus never saw
    produces token_id = -1 rows (the UNK contract) whose positions still
    occupy their packing slots — sequence shapes are independent of
    vocab coverage."""
    fit = _wave(spark, 0)
    lane = PackIdsStreaming(
        spark, str(tmp_path), fit_docs=fit, k=K, budget=BUDGET, n_buckets=8
    )
    lane.ingest(fit)
    lane.advance()
    n_before = lane.ids().count()
    oov = spark.createDataFrame(
        [(9001, "en", "alpha Zq9# beta")],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    lane.ingest(oov)
    lane.advance()
    rows = _collect_ids(lane)
    unk = [r for r in rows if r[3] == -1]
    assert unk, "OOV tokens must surface as UNK rows"
    # the OOV doc's tokens are contiguous: alpha tokens + unk tokens +
    # beta tokens all landed, nothing dropped
    assert len(rows) > n_before + len(unk) - 1
    # positions stay within [0, budget)
    assert all(0 <= r[2] < BUDGET for r in rows)


def test_sequences_reader_and_compact(spark, tmp_path):
    waves = [_wave(spark, 0), _wave(spark, 1)]
    union = waves[0].unionByName(waves[1])
    lane = PackIdsStreaming(
        spark, str(tmp_path), fit_docs=union, k=K, budget=BUDGET, n_buckets=8
    )
    for w in waves:
        lane.ingest(w)
        lane.advance()
    rows = _collect_ids(lane)
    seqs = {
        int(r.seq_id): list(r.toks)
        for r in lane.sequences("en").collect()
    }
    assert seqs, "must serve at least one closed sequence"
    for sid, toks in seqs.items():
        assert len(toks) == BUDGET
        want = [r[3] for r in sorted(rows) if r[0] == "en" and r[1] == sid]
        assert toks == want
    # compaction: identical ids + totals after folding the tail
    totals_before = {r.lang: r.post_total for r in lane.totals().collect()}
    assert lane.compact() == 2
    assert _collect_ids(lane) == rows
    assert {
        r.lang: r.post_total for r in lane.totals().collect()
    } == totals_before
