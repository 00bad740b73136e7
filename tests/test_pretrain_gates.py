"""Gates on the streaming pretrain exporter (r13 verdict tasks 2 + 4):
benchmark decontamination wired into the ship path with a retroactive
quarantine manifest, and mixture resampling from the maintained masses.

Contracts under test:

- a doc contaminated by an ALREADY-registered benchmark never ships; a
  benchmark registered AFTER a doc shipped retroactively flags it and
  ``quarantine()`` names exactly the affected shipped (lang, seq_id)
  ranges — the spans a training run must mask;
- the contaminated set equals the batch shingle-overlap referee over
  the union (parity vs ``decontam_stream.report``'s batch semantics);
- the mixture gate's accept set is PREFIX-PARITY with the batch
  ``mixture_resample_tokens``: at each advance, the newly shipped docs
  equal the batch accept set over every survivor ingested so far,
  restricted to the new wave (masses are order-independent sums, so
  the maintained table equals the batch aggregate at every prefix);
- both hold across a COLD RESTART (fresh instance, same workdir).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from responsive_pub_spark.examples.pretrain_stream import PretrainStream
from responsive_pub_spark.functions import text as T

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow

SCHEMA = "doc_id BIGINT, lang STRING, text STRING, ts DOUBLE"

#: distinct-vocabulary texts so the dedup lane never cross-fires
_CLEAN_A = "apple banana cherry durian elderberry fig grape"
_DIRTY_B = "alpha beta gamma delta epsilon zeta eta theta"
_DIRTY_C = "one two three four five six seven eight nine"
_CLEAN_D = "red orange yellow green blue indigo violet"
_BENCH_1 = "totally unrelated benchmark prompt about weather patterns"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _contam_referee(spark, corpus_rows, eval_texts, thr):
    """Batch shingle-overlap referee: doc_ids whose shared-shingle
    fraction vs the union of benchmark texts is >= thr (the
    decontaminate aggregation over explicit frames)."""
    hs = F.expr(T.shingle_hashes_sql("text"))
    corpus = spark.createDataFrame(
        [(d, t) for d, _l, t in corpus_rows], "doc_id BIGINT, text STRING"
    ).select(
        "doc_id",
        F.size(hs).cast("bigint").alias("n_shingles"),
        F.explode(hs).alias("h"),
    )
    evals = spark.createDataFrame(
        [(i, t) for i, t in enumerate(eval_texts)],
        "eval_id BIGINT, text STRING",
    ).select(F.explode(hs).alias("h")).distinct()
    return {
        int(r.doc_id)
        for r in corpus.join(F.broadcast(evals), "h")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n"),
            F.countDistinct("h").alias("s"),
        )
        .filter(F.col("s") / F.col("n") >= thr)
        .collect()
    }


def test_decontam_gate_blocks_and_quarantine_names_shipped_ranges(
    spark, tmp_path
):
    wd = str(tmp_path / "pre-decontam")
    wave1 = [(1, "en", _CLEAN_A, 1.0), (2, "en", _DIRTY_B, 2.0)]
    wave2 = [(3, "de", _DIRTY_C, 3.0), (4, "de", _CLEAN_D, 4.0)]

    lane = PretrainStream(spark, wd, budget=4, contam_threshold=0.5)
    lane.register_benchmark(
        spark.createDataFrame([(100, _BENCH_1)], "doc_id BIGINT, text STRING")
    )
    lane.ingest(_df(spark, wave1))
    lane.advance()
    # benchmark 2 (texts of docs 2 and 3) is registered only AFTER doc 2
    # already shipped — doc 2 is the retroactive case, doc 3 the gated one
    assert {int(r.doc_id) for r in lane.shipped_docs().collect()} == {1, 2}

    lane.register_benchmark(
        spark.createDataFrame(
            [(200, _DIRTY_B), (201, _DIRTY_C)], "doc_id BIGINT, text STRING"
        )
    )
    lane.ingest(_df(spark, wave2))
    lane.advance()

    # newly contaminated docs stop shipping; the clean one ships
    assert {int(r.doc_id) for r in lane.shipped_docs().collect()} == {1, 2, 4}

    # parity referee: the maintained contaminated set == the batch
    # shingle-overlap referee over the union of survivors vs benchmarks
    flagged = {
        int(r.doc_id)
        for r in lane.contamination_report()
        .filter("contam_frac >= 0.5")
        .collect()
    }
    want = _contam_referee(
        spark,
        [(d, l, t) for d, l, t, _ in wave1 + wave2],
        [_BENCH_1, _DIRTY_B, _DIRTY_C],
        0.5,
    )
    assert flagged == want == {2, 3}

    # quarantine names EXACTLY the shipped-then-flagged doc, with the
    # (lang, seq_id) span its tokens occupy in the packed sequences
    q = lane.quarantine().collect()
    assert [int(r.doc_id) for r in q] == [2]
    pa = {
        int(r.doc_id): r for r in lane.pack_assignments().collect()
    }
    row = q[0]
    b = pa[2]
    budget = lane.packs.budget
    assert row.lang == b.lang
    assert row.seq_id_first == b.seq_id
    assert row.seq_id_last == b.seq_id + (
        (b.seq_offset + max(b.n_tokens, 1) - 1) // budget
    )
    # budget=4 and 8 tokens -> the doc genuinely spans sequences
    assert row.seq_id_last > row.seq_id_first

    # COLD RESTART: same verdicts, same manifest
    lane2 = PretrainStream(spark, wd, budget=4, contam_threshold=0.5)
    assert {
        int(r.doc_id) for r in lane2.shipped_docs().collect()
    } == {1, 2, 4}
    assert [int(r.doc_id) for r in lane2.quarantine().collect()] == [2]


def test_mixture_gate_prefix_parity_across_restart(spark, tmp_path):
    wd = str(tmp_path / "pre-mixture")
    weights = {"en": 7000, "de": 3000}

    def wave(which, n=30):
        rows = []
        for i in range(n):
            d = which * 1000 + i
            lang = "en" if i % 3 else "de"
            words = " ".join(
                f"w{which}x{i}y{j}" for j in range(3 + (i * 7) % 9)
            )
            rows.append((d, lang, words, float(d)))
        return rows

    w1, w2 = wave(1), wave(2)
    lane = PretrainStream(
        spark, wd, budget=64, mixture_weights_bp=weights
    )
    lane.ingest(_df(spark, w1))
    lane.advance()

    def referee(rows):
        return {
            int(r.doc_id)
            for r in lane.mixture_referee(
                spark.createDataFrame(
                    [(d, l, t) for d, l, t, _ in rows],
                    "doc_id BIGINT, lang STRING, text STRING",
                )
            ).collect()
        }

    shipped1 = {int(r.doc_id) for r in lane.shipped_docs().collect()}
    assert shipped1 == referee(w1), "wave-1 prefix parity"

    # masses parity: the maintained table == the batch per-lang sums
    bpe = (
        f"size(regexp_extract_all(text, "
        f"'{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    )
    want_masses = {
        (r.lang, int(r.n_d))
        for r in spark.createDataFrame(
            [(d, l, t) for d, l, t, _ in w1],
            "doc_id BIGINT, lang STRING, text STRING",
        )
        .groupBy("lang")
        .agg(F.sum(F.expr(bpe).cast("bigint")).alias("n_d"))
        .collect()
    }
    assert {
        (r.lang, int(r.n_d)) for r in lane.mixture_masses().collect()
    } == want_masses

    # COLD RESTART, then wave 2: the new wave's accept decisions must
    # equal the batch accept set over the FULL prefix (w1 union w2)
    # restricted to wave-2 docs; wave-1's frozen decisions stand
    lane = PretrainStream(spark, wd, budget=64, mixture_weights_bp=weights)
    lane.ingest(_df(spark, w2))
    lane.advance()
    shipped_all = {int(r.doc_id) for r in lane.shipped_docs().collect()}
    w2_ids = {d for d, *_ in w2}
    accept_prefix2 = referee(w1 + w2)
    assert shipped_all & w2_ids == accept_prefix2 & w2_ids, (
        "wave-2 prefix parity"
    )
    assert shipped_all == shipped1 | (accept_prefix2 & w2_ids)

    # the export lanes saw exactly the accepted set
    assert {
        int(r.doc_id) for r in lane.pack_assignments().collect()
    } == shipped_all


def test_mask_quarantined_reader_drops_exactly_the_flagged_sequences(
    spark, tmp_path
):
    """The quarantine manifest's CONSUMER (r14, r13 verdict task 3): a
    benchmark registered AFTER shipment flags a shipped doc; the next
    ``token_sequences(mask_quarantined=True)`` read excludes exactly
    the (lang, seq_id) ranges ``quarantine()`` names, while the
    unmasked reader and ``token_ids()`` (the audit surfaces) still show
    them. Stable across a cold restart."""
    wd = str(tmp_path / "pre-mask")
    wave1 = [(1, "en", _CLEAN_A, 1.0), (2, "en", _DIRTY_B, 2.0)]
    lane = PretrainStream(
        spark,
        wd,
        budget=4,
        contam_threshold=0.5,
        tokenizer_fit=spark.createDataFrame(
            [(d, t) for d, _l, t, _ in wave1], "doc_id BIGINT, text STRING"
        ),
    )
    lane.ingest(_df(spark, wave1))
    lane.advance()
    assert {int(r.doc_id) for r in lane.shipped_docs().collect()} == {1, 2}
    # nothing quarantined yet: masked == unmasked
    all_seqs = {
        int(r.seq_id)
        for r in lane.token_sequences("en", closed_only=False).collect()
    }
    assert all_seqs
    assert {
        int(r.seq_id)
        for r in lane.token_sequences(
            "en", closed_only=False, mask_quarantined=True
        ).collect()
    } == all_seqs

    # benchmark registered AFTER doc 2 shipped -> retroactive flag
    lane.register_benchmark(
        spark.createDataFrame([(200, _DIRTY_B)], "doc_id BIGINT, text STRING")
    )
    lane.advance()
    q = lane.quarantine().collect()
    assert [int(r.doc_id) for r in q] == [2]
    flagged = {
        s
        for r in q
        for s in range(int(r.seq_id_first), int(r.seq_id_last) + 1)
    }
    assert flagged, "the quarantined doc must span at least one sequence"

    masked = {
        int(r.seq_id)
        for r in lane.token_sequences(
            "en", closed_only=False, mask_quarantined=True
        ).collect()
    }
    unmasked = {
        int(r.seq_id)
        for r in lane.token_sequences("en", closed_only=False).collect()
    }
    assert masked == unmasked - flagged, (masked, unmasked, flagged)
    assert unmasked == all_seqs, "the audit surface still shows them"
    # token_ids (the raw audit table) still carries the flagged spans
    id_seqs = {
        int(r.seq_id)
        for r in lane.token_ids().filter("lang = 'en'").collect()
    }
    assert flagged <= id_seqs

    # COLD RESTART: same masked read (frozen tokenizer artifact found)
    lane2 = PretrainStream(spark, wd, budget=4, contam_threshold=0.5)
    assert {
        int(r.seq_id)
        for r in lane2.token_sequences(
            "en", closed_only=False, mask_quarantined=True
        ).collect()
    } == masked
