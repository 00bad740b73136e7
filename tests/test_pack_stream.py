"""Batch-parity, restart, and carried-total tests for the incremental
sequence packer (``streaming/pack_stream.py``).

Parity contract: after ingesting waves W1..Wk, ``assignments()`` must
row-equal the batch packer's single-window twin over the union ordered
(lang, wave, doc_id) — each language's open sequence continues exactly
where its carried total left it, and languages absent from a wave carry
forward unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from responsive_pub_spark.functions import text as T
from responsive_pub_spark.sources.readers import read_table
from responsive_pub_spark.streaming.pack_stream import PackStreaming

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


@pytest.fixture
def workdir(tmp_path):
    return str(tmp_path)


def _batch_referee(docs_with_wave, budget):
    bpe = f"size(regexp_extract_all(text, '{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    w = (
        Window.partitionBy("lang")
        .orderBy("wave", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs_with_wave.select(
            "wave", "doc_id", "lang",
            F.expr(bpe).cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(cum - n_tokens) DIV {int(budget)}").alias("seq_id"),
            ((F.col("cum") - F.col("n_tokens")) % int(budget))
            .cast("bigint")
            .alias("seq_offset"),
        )
    )


def _waves(spark, sf_dir, k=3):
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    rows = docs.orderBy("doc_id").collect()
    n = len(rows) // k
    waves = [rows[i * n : (i + 1) * n] for i in range(k - 1)]
    waves.append(rows[(k - 1) * n :])
    return [
        spark.createDataFrame(
            [(int(r.doc_id), r.lang, r.text) for r in w],
            "doc_id BIGINT, lang STRING, text STRING",
        )
        for w in waves
    ]


def test_streaming_packing_equals_wave_major_batch_and_restarts(
    spark, sf_dir, workdir
):
    waves = _waves(spark, sf_dir, k=3)
    lane = PackStreaming(spark, workdir, budget=256)
    for w in waves[:2]:
        lane.ingest(w)
        lane.advance()

    # COLD RESTART before the third wave
    lane = PackStreaming(spark, workdir, budget=256)
    lane.ingest(waves[2])
    lane.advance()

    union = None
    for i, w in enumerate(waves):
        part = w.withColumn("wave", F.lit(i))
        union = part if union is None else union.unionByName(part)
    want = {tuple(r) for r in _batch_referee(union, 256).collect()}
    got = {tuple(r) for r in lane.assignments().collect()}
    assert got == want and len(got) > 0

    # carried totals == per-lang corpus token totals
    bpe = f"size(regexp_extract_all(text, '{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    want_tot = {
        (r.lang, r.t)
        for r in union.groupBy("lang")
        .agg(F.sum(F.expr(bpe).cast("bigint")).alias("t"))
        .collect()
    }
    assert {
        (r.lang, r.post_total) for r in lane.totals().collect()
    } == want_tot


def test_lang_absent_from_wave_carries_forward(spark, workdir):
    """A language missing from a wave must keep its open sequence: its
    next doc continues at the same offset as if the waves were one."""
    w1 = spark.createDataFrame(
        [(1, "en", "a b c"), (2, "de", "x y")],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    w2 = spark.createDataFrame(
        [(3, "en", "d e")],  # de absent
        "doc_id BIGINT, lang STRING, text STRING",
    )
    w3 = spark.createDataFrame(
        [(4, "de", "z w v u")],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    lane = PackStreaming(spark, workdir, budget=4)
    for w in (w1, w2, w3):
        lane.ingest(w)
        lane.advance()
    got = {
        (r.doc_id, r.lang, r.seq_id, r.seq_offset)
        for r in lane.assignments().collect()
    }
    # en: doc1 3 toks (seq0 off0), doc3 2 toks -> starts at 3: seq0 off3
    # de: doc2 2 toks (seq0 off0), doc4 4 toks -> starts at 2: seq0 off2
    assert got == {
        (1, "en", 0, 0),
        (3, "en", 0, 3),
        (2, "de", 0, 0),
        (4, "de", 0, 2),
    }
    assert {(r.lang, r.post_total) for r in lane.totals().collect()} == {
        ("en", 5),
        ("de", 6),
    }
