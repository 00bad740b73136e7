"""O(new-work) gates on the advance path's DERIVED reads (r14, the r13
verdict's task 1): the handoff legs already read only new SOURCE files
(tests/test_handoff.py); these tests pin the same property on the two
derived inputs the legs consume —

- the dedup anti-join side: a steady-state advance reads only drop
  files stamped past the leg's carried drops pointer, never a wave-1
  drops file (``NearDupStreaming.drop_ids_since``), in BOTH composed
  pipelines;
- the contamination gate: a steady-state advance derives decision rows
  from the NEW wave's postings only (``DecontamStreaming`` delta
  handoff), serves the gate from the maintained decision table (base +
  deltas — never a corpus-postings path), and runs the inherently
  O(corpus) re-aggregation ONLY when a benchmark is registered;
- parity: ``decision()`` row-equals the derived ``report()`` after any
  interleaving of corpus waves and benchmark registrations, including
  across a cold restart.

Reference anchor: read-time validity filters over maintained state
(internal/db/MongoKVTable.java:164 — the store reads its verdicts, it
never re-derives them).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from responsive_pub_spark.examples.pretrain_stream import PretrainStream
from responsive_pub_spark.streaming.decontam_stream import DecontamStreaming

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow

SCHEMA = "doc_id BIGINT, lang STRING, text STRING, ts DOUBLE"

#: distinct-vocabulary texts so the dedup lane never cross-fires
_T1 = "apple banana cherry durian elderberry fig grape"
_T2 = "alpha beta gamma delta epsilon zeta eta theta"
_T3 = "one two three four five six seven eight nine"
_T4 = "red orange yellow green blue indigo violet"
_T5 = "sun moon star comet nebula galaxy quasar pulsar"
_BENCH = "totally unrelated benchmark prompt about weather patterns"


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_pretrain_steady_state_advance_reads_no_wave1_derived_files(
    spark, tmp_path
):
    wd = str(tmp_path / "pre-derived")
    lane = PretrainStream(spark, wd, budget=4, contam_threshold=0.5)
    lane.register_benchmark(
        spark.createDataFrame([(100, _BENCH)], "doc_id BIGINT, text STRING")
    )
    # wave 1 plants a near-dup (doc 3 copies doc 1) so wave-1 DROP
    # files actually exist to be excluded later
    lane.ingest(
        spark.createDataFrame(
            [(1, "en", _T1, 1.0), (2, "en", _T2, 2.0), (3, "en", _T1, 3.0)],
            SCHEMA,
        )
    )
    lane.advance()
    w1_drops = {p for _s, p in lane.nd.drops_topic.stamped_files()}
    w1_posts = {
        p for _s, p in lane.decontam._post_topic.stamped_files()
    }
    assert w1_drops, "wave 1 must have emitted drop files"
    assert w1_posts, "wave 1 must have emitted posting files"

    lane.ingest(
        spark.createDataFrame(
            [(4, "de", _T3, 4.0), (5, "de", _T4, 5.0)], SCHEMA
        )
    )
    lane.advance()

    # the anti-join side read only NEW drop files
    assert not (set(lane.last_drops_files) & w1_drops), (
        lane.last_drops_files
    )
    # the decision delta derived from NEW postings only
    assert lane.decontam.last_delta_reads, "wave-2 delta must read files"
    read_names = {os.path.basename(p) for p in lane.decontam.last_delta_reads}
    w1_names = {os.path.basename(p) for p in w1_posts}
    assert not (read_names & w1_names), lane.decontam.last_delta_reads
    # the gate served from the maintained decision table only (paths
    # under decision/, never a corpus-postings or docs path)
    assert lane.last_decision_paths
    for p in lane.last_decision_paths:
        assert os.sep + "decision" + os.sep in p, p
    # and the maintained decision row-equals the derived report
    assert _rows_set(lane.decontam.decision()) == _rows_set(
        lane.decontam.report()
    )


def test_retrieval_steady_state_advance_reads_no_wave1_drop_files(
    spark, tmp_path
):
    from responsive_pub_spark.examples.retrieval_stream import (
        RetrievalStream,
    )
    from responsive_pub_spark.operators import similarity

    texts = [_T1, _T2, _T3, _T4, _T5]
    dim = 8
    emb_rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(dim)])
        for i in range(len(texts))
    ]
    emb = spark.createDataFrame(
        emb_rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    cent = similarity.train_centroids(emb, n_centroids=2, iters=1)

    wd = str(tmp_path / "ret-derived")
    lane = RetrievalStream(spark, wd, centroids=cent)
    schema = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>, ts DOUBLE"
    # wave 1 with a planted dup (doc 10 copies doc 0)
    lane.ingest(
        spark.createDataFrame(
            [
                (0, texts[0], emb_rows[0][1], 1.0),
                (1, texts[1], emb_rows[1][1], 2.0),
                (10, texts[0], emb_rows[0][1], 3.0),
            ],
            schema,
        )
    )
    lane.advance()
    w1_drops = {p for _s, p in lane.nd.drops_topic.stamped_files()}
    assert w1_drops, "wave 1 must have emitted drop files"

    lane.ingest(
        spark.createDataFrame(
            [
                (2, texts[2], emb_rows[2][1], 4.0),
                (3, texts[3], emb_rows[3][1], 5.0),
            ],
            schema,
        )
    )
    lane.advance()
    assert not (set(lane.last_drops_files) & w1_drops), (
        lane.last_drops_files
    )
    # survivors reached the index exactly once
    got = {
        int(r.vec_id)
        for r in lane.ivf.lists(dedup=True).select("vec_id").collect()
    }
    assert got == {0, 1, 2, 3}


def test_decontam_decision_parity_retroactivity_and_cold_restart(
    spark, tmp_path
):
    wd = str(tmp_path / "decontam-decision")
    lane = DecontamStreaming(spark, wd)
    docs = "doc_id BIGINT, text STRING"

    # corpus wave 1, no benchmark yet: decision empty, parity holds
    lane.ingest_corpus(
        spark.createDataFrame([(1, _T1), (2, _T2)], docs)
    )
    lane.advance()
    assert _rows_set(lane.decision()) == _rows_set(lane.report()) == set()

    # benchmark registered: the NEXT advance rebuilds (retroactive over
    # wave 1) — doc 2 overlaps the benchmark fully
    lane.ingest_evals(spark.createDataFrame([(100, _T2)], docs))
    lane.advance()
    d1 = _rows_set(lane.decision())
    assert d1 == _rows_set(lane.report())
    assert {int(r[0]) for r in d1} == {2}
    assert not os.path.exists(lane.rebuild_flag)

    # corpus wave 2: a delta over the new postings only — never a
    # rebuild, never a wave-1 read
    w1_posts = {p for _s, p in lane._post_topic.stamped_files()}
    ver_before, _ = lane.decision_base.info()
    lane.ingest_corpus(
        spark.createDataFrame([(3, _T2 + " extra"), (4, _T4)], docs)
    )
    lane.advance()
    assert lane.decision_base.info()[0] == ver_before, "no benchmark -> no rebuild"
    assert lane.last_delta_reads
    assert not (set(lane.last_delta_reads) & w1_posts)
    d2 = _rows_set(lane.decision())
    assert d2 == _rows_set(lane.report())
    assert {int(r[0]) for r in d2} == {2, 3}

    # second benchmark: retroactive rebuild flags wave-1/2 docs anew
    lane.ingest_evals(spark.createDataFrame([(101, _T1)], docs))
    lane.advance()
    assert lane.decision_base.info()[0] == ver_before + 1
    d3 = _rows_set(lane.decision())
    assert d3 == _rows_set(lane.report())
    assert {int(r[0]) for r in d3} == {1, 2, 3}

    # cold restart: a fresh instance serves the identical decision
    lane2 = DecontamStreaming(spark, wd)
    assert _rows_set(lane2.decision()) == d3
    # and keeps maintaining it incrementally
    lane2.ingest_corpus(spark.createDataFrame([(5, _T1 + " tail")], docs))
    lane2.advance()
    assert lane2.decision_base.info()[0] == ver_before + 1
    assert _rows_set(lane2.decision()) == _rows_set(lane2.report())


def test_decontam_rebuild_flag_is_idempotent_across_a_torn_advance(
    spark, tmp_path
):
    """Crash-window sanity: if the flag survives a completed rebuild
    (the crash-between-flip-and-flag-removal window), the next advance
    rebuilds again idempotently and the decision is unchanged."""
    wd = str(tmp_path / "decontam-torn")
    lane = DecontamStreaming(spark, wd)
    docs = "doc_id BIGINT, text STRING"
    lane.ingest_corpus(spark.createDataFrame([(1, _T1), (2, _T2)], docs))
    lane.ingest_evals(spark.createDataFrame([(100, _T2)], docs))
    lane.advance()
    want = _rows_set(lane.decision())
    # simulate the torn window: re-arm the flag with no new evals
    with open(lane.rebuild_flag, "w") as f:
        f.write("1")
    lane.advance()
    assert _rows_set(lane.decision()) == want
    assert _rows_set(lane.decision()) == _rows_set(lane.report())
