"""Bucket-pruned gram-posting reads on the streaming span-dedup lane
(r14): the maintained (doc_id, pos, gh) posting table is written
PARTITIONED by ``gb = pmod(gh, SPAN_GB)``, and the per-advance strip
delta's collision/context reads carry a static ``gb IN (...)`` filter
derived from the wave's own grams — so a steady-state advance scans
only the buckets the wave's grams can collide into, never the whole
corpus-position-scale table. The wave's own grams are re-derived
IN-FLIGHT from the wave texts (the same shared gram expression the
maintenance query writes with — identical by construction), so no
corpus read is needed to discover them.

These tests pin the MECHANISM (partition layout + PartitionFilters in
the executed plan + the recorded bucket sets being proper subsets) —
row-level parity with the batch ops stays pinned by the existing
oracle rows (``dup_span_stream``/``strip_spans_stream``/
``strip_stream_materialized``) and tests/test_streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from responsive_pub_spark.streaming.span_stream import (
    DOCS_SCHEMA,
    SPAN_GB,
    SpanDedupStreaming,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _two_wave_lane(spark, tmp_path, name):
    lane = SpanDedupStreaming(spark, str(tmp_path / name))
    w = lane.w
    dup = " ".join(f"tok{i}" for i in range(w + 3))
    filler = " ".join(f"x{i}" for i in range(w))
    lane.ingest(
        _docs(spark, [(1, dup + " alpha beta gamma"), (2, "uno dos " + filler)])
    )
    lane.advance()
    lane.ingest(
        _docs(
            spark,
            [(3, "prefix words " + dup), (4, "fresh " + filler + " tail")],
        )
    )
    lane.advance()
    return lane


def test_grams_partitioned_by_bucket_and_values_intact(spark, tmp_path):
    lane = _two_wave_lane(spark, tmp_path, "span-gb")
    subdirs = {
        n for n in os.listdir(lane.grams_dir) if n.startswith("gb=")
    }
    assert subdirs, "gram postings must be written bucket-partitioned"
    g = lane.grams()
    assert g.columns == ["doc_id", "pos", "gh"], g.columns
    # every row's path-derived bucket equals pmod(gh, SPAN_GB)
    raw = lane.spark.read.schema(
        "doc_id BIGINT, pos BIGINT, gh BIGINT, gb INT"
    ).parquet(lane.grams_dir)
    bad = raw.filter(
        F.pmod("gh", F.lit(SPAN_GB)).cast("int") != F.col("gb")
    ).count()
    assert bad == 0


def test_bucket_filtered_read_prunes_partitions(spark, tmp_path):
    lane = _two_wave_lane(spark, tmp_path, "span-prune")
    some = sorted(
        int(n.split("=")[1])
        for n in os.listdir(lane.grams_dir)
        if n.startswith("gb=")
    )[:2]
    plan = (
        lane.grams(buckets=some)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "gb" in plan, plan


def test_strip_advance_records_subset_buckets(spark, tmp_path):
    """The per-advance strip build must have derived SMALL static
    bucket sets (collision + context) — the whole point: the corpus
    gram reads in the hot loop carry a partition filter, and at small
    wave sizes that filter is a proper subset of the bucket space."""
    lane = _two_wave_lane(spark, tmp_path, "span-sets")
    bs1, bs2 = lane.last_strip_buckets
    assert bs1 and bs2, "advance must record the pruned bucket sets"
    assert set(bs1) <= set(bs2), (bs1, bs2)
    assert len(bs2) < SPAN_GB, (len(bs2), SPAN_GB)


def test_compact_stripped_bounds_deltas_and_serves_identical_table(
    spark, tmp_path
):
    """Bounded-metadata compaction for the maintained stripped-text
    table (the r12 'every maintained lane compacts' posture): folding
    the last-writer-wins deltas into a versioned base behind the
    fsync'd pointer flip serves a row-identical ``stripped()``, later
    waves land as deltas PAST the base coverage, and a second compact
    folds them in and GCs the superseded state."""
    lane = _two_wave_lane(spark, tmp_path, "span-compact")
    before = {tuple(r) for r in lane.stripped().collect()}
    assert before

    n_deltas = len(
        [n for n in os.listdir(lane.strip_deltas) if n.startswith("part-")]
    )
    assert n_deltas >= 2
    lane.compact_stripped()
    assert [
        n for n in os.listdir(lane.strip_deltas) if n.startswith("part-")
    ] == []
    assert {tuple(r) for r in lane.stripped().collect()} == before

    # a later wave that RE-strips an already-based doc must shadow the
    # base row (delta stamp > base coverage wins)
    w = lane.w
    dup = " ".join(f"tok{i}" for i in range(w + 3))
    lane.ingest(_docs(spark, [(5, dup + " zeta eta")]))
    lane.advance()
    after = {tuple(r) for r in lane.stripped().collect()}
    assert {int(r[0]) for r in after} == {1, 2, 3, 4, 5}
    # doc 5 duplicates the planted span a third time; every holder's
    # newest decision agrees with the full derived strip()
    derived = {tuple(r) for r in lane.strip().collect()}
    assert after == derived

    lane.compact_stripped()
    assert {tuple(r) for r in lane.stripped().collect()} == after
    bases = [
        n
        for n in os.listdir(os.path.dirname(lane.strip_deltas))
        if n.startswith("base-v")
    ]
    assert len(bases) == 1, bases

    # cold restart serves the compacted table unchanged
    lane2 = SpanDedupStreaming(spark, str(tmp_path / "span-compact"))
    assert {tuple(r) for r in lane2.stripped().collect()} == after


def test_old_unpartitioned_layout_is_refused(spark, tmp_path):
    """A pre-r14 grams layout (part files at the dir top level) must
    fail LOUDLY at the next advance: the bucket-pruned reads would
    silently see gb=null rows and miss every collision."""
    import pytest

    wd = str(tmp_path / "span-old")
    lane = SpanDedupStreaming(spark, wd)
    os.makedirs(lane.grams_dir, exist_ok=True)
    spark.createDataFrame(
        [(1, 1, 7)], "doc_id BIGINT, pos BIGINT, gh BIGINT"
    ).coalesce(1).write.mode("append").parquet(lane.grams_dir)
    lane.ingest(_docs(spark, [(9, "a b c d e f g h i j k l m n")]))
    with pytest.raises(RuntimeError, match="pre-r14|unpartitioned"):
        lane.advance()


def test_torn_compact_leftovers_never_disturb_serving_and_retry_heals(
    spark, tmp_path
):
    """compact_stripped's crash windows: a staged snapshot (crash
    before rename) and an UNREFERENCED renamed base (crash after
    rename, before the pointer flip) must leave ``stripped()`` serving
    the old state untouched, and the next compaction must overwrite
    the orphans and converge — the decision-table protocol's recovery,
    asserted on this lane directly."""
    lane = _two_wave_lane(spark, tmp_path, "span-torn")
    before = {tuple(r) for r in lane.stripped().collect()}
    ver0, _ = lane.strip_base.info()

    # crash-before-rename leftover: a stale staged dir with garbage
    stage = os.path.join(lane.strip_root, f".base-v{ver0 + 1:06d}.stage")
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "garbage"), "w") as f:
        f.write("torn")
    # crash-after-rename leftover: a renamed-but-unreferenced base dir
    # holding WRONG rows (the pointer still names ver0, so it must be
    # invisible to readers and overwritten by the retry)
    orphan = lane.strip_base.path(ver0 + 1)
    spark.createDataFrame(
        [(999, 1, 1, "bogus")],
        "doc_id BIGINT, n_tokens BIGINT, kept_tokens BIGINT, kept_text STRING",
    ).coalesce(1).write.mode("overwrite").parquet(orphan)

    assert {tuple(r) for r in lane.stripped().collect()} == before, (
        "orphaned staged/renamed state must be invisible to readers"
    )

    folded = lane.compact_stripped()
    assert folded > 0
    ver1, _ = lane.strip_base.info()
    assert ver1 == ver0 + 1
    assert {tuple(r) for r in lane.stripped().collect()} == before
    assert not os.path.exists(stage)
    # exactly one base survives and it is the pointer's
    bases = [
        n
        for n in os.listdir(lane.strip_root)
        if n.startswith("base-v")
    ]
    assert bases == [f"base-v{ver1:06d}"], bases
    assert 999 not in {int(r[0]) for r in lane.stripped().collect()}


# measured >60s per-module (r15 tier audit, OPTIMIZATION_r15.md): slow
# tier, deselected under the driver default run; round-close runs the
# full tier with -m "slow or not slow"
import pytest as _pytest_tier  # noqa: E402

pytestmark = _pytest_tier.mark.slow
