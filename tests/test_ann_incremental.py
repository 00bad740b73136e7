"""Incremental IVF maintenance (streaming/ann_stream.IvfIncremental):
micro-batch ingest equals the batch-built index row-for-row, recall vs
brute force matches the batch index, frozen centroids survive restarts,
and the drift report flags a shifted ingest distribution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from responsive_pub_spark.operators import similarity
from responsive_pub_spark.sources.readers import read_table
from responsive_pub_spark.streaming.ann_stream import IvfIncremental, VECS_SCHEMA

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


def _topk_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(got_rows, exact_rows):
    exact = _topk_sets(exact_rows)
    got = _topk_sets(got_rows)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    return hits / sum(len(v) for v in exact.values())


def _feed(spark, lane, rows):
    spark.createDataFrame(rows, VECS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(lane.vecs_dir)


def test_incremental_build_equals_batch_and_matches_its_recall(spark, sf_dir, tmp_path):
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    wd = str(tmp_path / "ivf-inc")

    rows = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    cuts = [len(rows) // 3, 2 * len(rows) // 3, len(rows)]
    lo = 0
    first = True
    for hi in cuts:
        # fresh instance per micro-batch; only the FIRST gets centroids —
        # later ones must read the frozen copy (restart path)
        lane = IvfIncremental(spark, wd, centroids=cent if first else None)
        first = False
        _feed(spark, lane, rows[lo:hi])
        lane.advance()
        lo = hi

    lane = IvfIncremental(spark, wd)
    assert lane.lists().count() == len(rows)

    inc = lane.topk().collect()
    batch = similarity.ivf_topk(emb, centroids=cent).collect()
    key = lambda r: (r.query_id, r.neighbor_id, r.rank, r.cosine)  # noqa: E731
    assert sorted(map(key, inc)) == sorted(map(key, batch))

    exact = similarity.brute_force_topk(emb).collect()
    assert _recall(inc, exact) >= _recall(batch, exact)
    cent.unpersist()


def test_fresh_index_requires_centroids(spark, tmp_path):
    with pytest.raises(ValueError, match="centroids"):
        IvfIncremental(spark, str(tmp_path / "empty-idx"))


def test_drift_report_flags_shifted_ingest(spark, sf_dir, tmp_path):
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    lane = IvfIncremental(spark, str(tmp_path / "ivf-drift"), centroids=cent)

    base = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.select("vec_id", "embedding").collect()
    ]
    _feed(spark, lane, base)
    lane.advance()
    # in-distribution corpus: the natural early/late split shows no drift
    assert lane.drift().filter("retrain").count() == 0

    # shifted distribution: the NEGATED CENTROID SUM points away from every
    # list center at once (cosine to each centroid is negative), so
    # assignment residuals jump well past the in-distribution ~0.75 —
    # plain negation would NOT do this (the corpus is near-symmetric, so
    # -v scores like v against a symmetric centroid set)
    cents = [list(r.centv) for r in cent.collect()]
    away = [-sum(c[d] for c in cents) for d in range(len(cents[0]))]
    hi = max(v for v, _ in base) + 1
    shifted = [(hi + i, away) for i in range(len(base) // 2)]
    _feed(spark, lane, shifted)
    lane.advance()
    flagged = lane.drift().filter("retrain").count()
    assert flagged >= 1, "negated ingest must trip the retrain trigger"

    # the drift aggregation is the registry-gated batch report's shape:
    # same columns, portable integers
    assert lane.drift().columns == similarity.ivf_drift_report(emb).columns
    cent.unpersist()


def test_drift_triggered_retrain_reduces_residuals(spark, sf_dir, tmp_path):
    """The full maintenance loop the drift metric exists for: base build ->
    shifted ingest -> drift flags -> RETRAIN on the accumulated corpus ->
    re-assignment residuals over the shifted cohort drop. The shifted
    distribution negates the first half of every vector's dims — diverse
    (unlike a constant away-vector) but systematically outside the
    trained clusters."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    lane = IvfIncremental(spark, str(tmp_path / "ivf-loop"), centroids=cent)

    base = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.select("vec_id", "embedding").collect()
    ]
    hi = max(v for v, _ in base) + 1
    half = len(base[0][1]) // 2
    shifted = [
        (hi + i, [-x for x in v[:half]] + list(v[half:]))
        for i, (_, v) in enumerate(base)
    ]
    _feed(spark, lane, base)
    lane.advance()
    _feed(spark, lane, shifted)
    lane.advance()

    res_bp = (
        F.lit(1000000)
        - F.floor(F.col("ccos") * 1000000 + F.lit(0.5)).cast("bigint")
    )
    before = (
        lane.lists()
        .filter(F.col("vec_id") >= hi)
        .agg(F.avg(res_bp).alias("m"))
        .collect()[0]
        .m
    )

    # retrain on everything ingested so far (vectors live in the lists
    # table — no side channel needed) and re-assign the shifted cohort
    allv = lane.lists().select("vec_id", "embedding")
    cent2 = similarity.train_centroids(allv).persist()
    after = (
        similarity.ivf_assign(allv.filter(F.col("vec_id") >= hi), cent2)
        .agg(F.avg(res_bp).alias("m"))
        .collect()[0]
        .m
    )
    assert after < before, (before, after)
    cent.unpersist()
    cent2.unpersist()


def test_replayed_append_does_not_corrupt_topk_or_drift(spark, sf_dir, tmp_path):
    """r8 review: foreachBatch appends are at-least-once — a SIGKILL
    between the parquet append and the checkpoint commit replays the
    batch, duplicating every row of it in the list table. topk() must
    not let the duplicate occupy two neighbor slots (evicting a real
    neighbor) and drift() must not double-count the cohort."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    wd = str(tmp_path / "ivf-replay")
    lane = IvfIncremental(spark, wd, centroids=cent)
    rows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.limit(200).collect()
    ]
    _feed(spark, lane, rows)
    lane.advance()

    clean_topk = {(r.query_id, r.rank, r.neighbor_id) for r in lane.topk().collect()}
    clean_drift = {tuple(r) for r in lane.drift().collect()}

    # simulate the replay: re-append the last batch's list rows verbatim
    # (through the same cid-partitioned layout assign_batch writes)
    dup = lane.lists().limit(60)
    dup.write.mode("append").partitionBy("cid").parquet(lane.lists_dir)
    assert lane.lists().count() > lane.lists(dedup=True).count()

    assert {
        (r.query_id, r.rank, r.neighbor_id) for r in lane.topk().collect()
    } == clean_topk, "replayed rows changed neighbor ranks"
    assert {tuple(r) for r in lane.drift().collect()} == clean_drift, (
        "replayed rows double-counted in the drift report"
    )
    cent.unpersist()


def test_maybe_retrain_closes_the_loop(spark, sf_dir, tmp_path):
    """r9 VERDICT task 6 — the full closed loop as ONE tested helper:
    build -> ingest a drifted cohort -> drift() breach -> maybe_retrain()
    retrains on the stored corpus, freezes the new centroids, rebuilds
    the inverted lists -> the served index's recall vs brute force over
    the FULL (base + drifted) corpus is at least the stale index's, and
    a second maybe_retrain() finds no breach (the loop converged)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    lane = IvfIncremental(spark, str(tmp_path / "ivf-close"), centroids=cent)

    base = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.select("vec_id", "embedding").collect()
    ]
    hi = max(v for v, _ in base) + 1
    half = len(base[0][1]) // 2
    shifted = [
        (hi + i, [-x for x in v[:half]] + list(v[half:]))
        for i, (_, v) in enumerate(base)
    ]
    _feed(spark, lane, base)
    lane.advance()
    _feed(spark, lane, shifted)
    lane.advance()

    full = lane.lists(dedup=True).select("vec_id", "embedding").persist()
    exact = similarity.brute_force_topk(full).collect()
    stale_recall = _recall(lane.topk().collect(), exact)

    # the half-negated cohort lifts every centroid's recent residual to
    # ~1080-1130 pm of its base (in-distribution is ~1000): gate at 1050
    assert lane.drift(retrain_pm=1050).filter("retrain").count() >= 1
    assert lane.maybe_retrain(retrain_pm=1050) is True

    # the frozen model on disk IS the new one: a fresh instance (restart)
    # serves the rebuilt index
    lane2 = IvfIncremental(spark, str(tmp_path / "ivf-close"))
    assert lane2.lists(dedup=True).count() == full.count()
    post_recall = _recall(lane2.topk().collect(), exact)
    assert post_recall >= stale_recall, (stale_recall, post_recall)

    # converged: the rebuilt assignment shows no residual breach even at
    # the tightened threshold
    assert lane2.maybe_retrain(retrain_pm=1050) is False
    full.unpersist()
    cent.unpersist()


def test_topk_partition_pruning_and_prune_parity(spark, sf_dir, tmp_path):
    """The list table is cid-PARTITIONED from the first append and topk
    resolves probed cids into a static IN filter: (a) prune=True and
    prune=False return identical rows (probe selection is
    deterministic); (b) a cid-filtered scan of the layout touches
    strictly fewer files than the full table (partition pruning is real,
    not cosmetic)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    lane = IvfIncremental(spark, str(tmp_path / "ivf-prune"), centroids=cent)
    rows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.collect()
    ]
    _feed(spark, lane, rows)
    lane.advance()

    pruned = {tuple(r) for r in lane.topk(prune=True).collect()}
    full = {tuple(r) for r in lane.topk(prune=False).collect()}
    assert pruned == full and len(full) > 0

    # pruning evidence at the PLAN level (inputFiles() reports the
    # relation pre-pruning, so it cannot witness this): the cid filter
    # must land in PartitionFilters on the scan, not PushedFilters —
    # partition-dir elimination, zero data files opened for other cells
    import re

    from responsive_pub_spark.plans import audit

    one_cid = lane.lists().select("cid").first().cid
    p = audit.executed_plan(
        lane.lists().filter(F.col("cid") == int(one_cid))
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and f"cid" in m.group(1), p
    cent.unpersist()


def test_compact_collapses_replays_atomically(spark, sf_dir, tmp_path):
    """compact() rewrites the list table dedup'd and cid-partitioned as a
    NEW index version through the same crash-atomic pointer flip as
    retrain: after a simulated at-least-once replay (duplicate append),
    compaction collapses the physical duplicates, the version pointer
    advances, the old version is gone, and topk is byte-identical."""
    import os

    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    wd = str(tmp_path / "ivf-compact")
    lane = IvfIncremental(spark, wd, centroids=cent)
    rows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.limit(300).collect()
    ]
    _feed(spark, lane, rows)
    lane.advance()

    # simulate a replayed append: physical duplicates in the list table
    dup = lane.lists().limit(50)
    dup.write.mode("append").partitionBy("cid").parquet(lane.lists_dir)
    assert lane.lists().count() == len(rows) + 50

    before = {tuple(r) for r in lane.topk().collect()}
    n = lane.compact()
    assert n == len(rows), n
    assert lane.lists().count() == len(rows)
    with open(lane.pointer) as f:
        assert f.read().strip() == "v000001"
    assert os.listdir(os.path.join(wd, "index")) == ["v000001"]
    assert {tuple(r) for r in lane.topk().collect()} == before

    # a restart serves the compacted version
    lane2 = IvfIncremental(spark, wd)
    assert {tuple(r) for r in lane2.topk().collect()} == before
    cent.unpersist()


def test_append_fenced_against_concurrent_publish(spark, sf_dir, tmp_path):
    """Epoch fence (r11 VERDICT task 4, LwtWriter.java:29-95 posture):
    a compact() that publishes WHILE an append batch is mid-flight must
    never silently strand the appended rows in the retired version —
    the batch fails loudly before its checkpoint commits, and the next
    advance() replays it into the new version; every appended vector is
    preserved exactly once at read time."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    wd = str(tmp_path / "ivf-fence")
    lane = IvfIncremental(spark, wd, centroids=cent)

    rows = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    half = len(rows) // 2
    _feed(spark, lane, rows[:half])
    lane.advance()
    v_before = lane.index.current()
    want_first = {r[0] for r in rows[:half]}
    assert {
        r.vec_id for r in lane.lists(dedup=True).collect()
    } == want_first

    # arm the race: a publish flips the pointer exactly inside the
    # append's write->recheck window
    fired = []

    def flip(inner):
        fired.append(inner.compact())
        IvfIncremental._mid_append_hook = None  # fire once

    _feed(spark, lane, rows[half:])
    IvfIncremental._mid_append_hook = staticmethod(flip).__func__
    try:
        with pytest.raises(Exception, match="version flipped"):
            lane.advance()
    finally:
        IvfIncremental._mid_append_hook = None
    assert fired and fired[0] >= 0
    assert lane.index.current() != v_before  # the publish won the race

    # nothing lost: the failed batch replays into the NEW version
    lane.advance()
    assert {r.vec_id for r in lane.lists(dedup=True).collect()} == {
        r[0] for r in rows
    }
    # and the serving pair is self-consistent (topk runs on the merged
    # lists without error)
    assert lane.topk().count() > 0
    cent.unpersist()


def test_ivf_maintenance_single_maintainer_and_reader_no_gc(
    spark, sf_dir, tmp_path
):
    """r13 VERDICT task 1 applied to the IVF's versioned publishes:
    compact()/maybe_retrain()/gc() are single-maintainer BY MECHANISM
    (a held maintenance flock fails them loudly), and constructing a
    reader handle never GCs — a staged next version survives a reader
    construction and the maintainer's flip then completes."""
    import fcntl
    import os

    emb = read_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb).persist()
    wd = str(tmp_path / "ivf-maint")
    lane = IvfIncremental(spark, wd, centroids=cent)
    rows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.limit(100).collect()
    ]
    _feed(spark, lane, rows)
    lane.advance()

    # a second maintainer (another process looks identical to flock)
    fd = os.open(lane.maint_lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(RuntimeError, match="single-maintainer"):
            lane.compact()
        with pytest.raises(RuntimeError, match="single-maintainer"):
            lane.gc()
    finally:
        os.close(fd)

    # simulate a maintainer mid-compact: the next version staged, the
    # pointer not yet flipped — a READER construction must not GC it
    stage = os.path.join(wd, "index", "v000001")
    lane.lists(dedup=True).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(os.path.join(stage, "lists"))
    _reader = IvfIncremental(spark, wd)
    assert os.path.isdir(stage)

    # the maintainer's compact then completes over the intact state
    before = {tuple(r) for r in lane.topk().collect()}
    assert lane.compact() == len(rows)
    assert {tuple(r) for r in lane.topk().collect()} == before
    assert os.listdir(os.path.join(wd, "index")) == ["v000001"]
    cent.unpersist()


def test_pq_codes_maintained_beside_lists_recall_vs_raw(
    spark, sf_dir, tmp_path
):
    """IVF-PQ on the incremental index (r14, r13 verdict task-8
    stretch): codes are appended per micro-batch beside the lists;
    topk_pq scans only the probed cells' CODE table and re-ranks the
    shortlist exactly — recall vs the raw-list topk must hold on the
    clustered corpus, every shared hit carries the identical exact
    cosine, a replayed append leaves the codes deduped-correct, and a
    drift retrain RE-ENCODES against the new centroids' codebooks."""
    emb = read_table(spark, sf_dir, "embeddings")
    # 16 trained centroids: the codebooks derive from the first PQ_K
    # of them (the full batch-PQ code budget)
    cent = similarity.train_centroids(emb, n_centroids=16).persist()
    wd = str(tmp_path / "ivf-pq")

    rows = [
        (int(r.vec_id), list(r.embedding))
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    half = len(rows) // 2
    lane = IvfIncremental(spark, wd, centroids=cent)
    for chunk in (rows[:half], rows[half:]):
        _feed(spark, lane, chunk)
        lane.advance()

    # the code table holds PQ_M rows per indexed vector, cid beside them
    n_vecs = lane.lists(dedup=True).count()
    codes = lane.codes(dedup=True)
    assert codes.count() == n_vecs * similarity.PQ_M
    assert codes.filter("cid IS NULL").count() == 0

    raw = lane.topk(n_probes=4).collect()
    pq = lane.topk_pq(n_probes=4, rerank=40).collect()
    rec = _recall(pq, raw)
    assert rec >= 0.6, f"IVF-PQ recall vs raw-list topk collapsed: {rec:.2f}"
    # exact re-rank: every hit shared with the raw path scores identically
    raw_scores = {(r.query_id, r.neighbor_id): r.cosine for r in raw}
    for r in pq:
        if (r.query_id, r.neighbor_id) in raw_scores:
            assert r.cosine == raw_scores[(r.query_id, r.neighbor_id)]
        assert -1.0 <= r.adc_cos <= 1.0

    # replayed append: duplicate code rows collapse at read
    _feed(spark, lane, rows[:20])
    lane.advance()
    assert lane.codes().count() > lane.codes(dedup=True).count()
    assert lane.codes(dedup=True).count() == n_vecs * similarity.PQ_M
    assert {
        (r.query_id, r.neighbor_id)
        for r in lane.topk_pq(n_probes=4, rerank=40).collect()
    } == {(r.query_id, r.neighbor_id) for r in pq}

    # compact: codes re-encoded from the deduped lists, results unchanged
    lane.compact()
    assert lane.codes().count() == n_vecs * similarity.PQ_M
    assert {
        (r.query_id, r.neighbor_id)
        for r in lane.topk_pq(n_probes=4, rerank=40).collect()
    } == {(r.query_id, r.neighbor_id) for r in pq}

    # drift retrain: shifted ingest triggers a rebuild; the codes are
    # re-encoded against the NEW centroids' codebooks (count matches the
    # grown corpus, no stale-codebook rows) and the pq path still serves
    shifted = [
        (10**6 + i, [v + 8.0 for v in e]) for i, (_, e) in enumerate(rows)
    ]
    _feed(spark, lane, shifted)
    lane.advance()
    # 16 centroids again so the derived codebooks keep the full
    # batch-PQ code budget over the now-bimodal corpus
    assert lane.maybe_retrain(retrain_pm=200, n_centroids=16)
    total = lane.lists(dedup=True).count()
    assert lane.codes(dedup=True).count() == total * similarity.PQ_M
    pq2 = lane.topk_pq(n_probes=4, rerank=40).collect()
    raw2 = lane.topk(n_probes=4).collect()
    # the doubled bimodal corpus is the harder ADC case — the batch
    # PQ referee's own bar (test_pq_recall.py) is 0.5; everything here
    # is deterministic, so this is a fixed point, not a flaky margin
    assert _recall(pq2, raw2) >= 0.5


def test_small_dim_embeddings_adapt_pq_subspaces(spark, tmp_path):
    """Regression (r14): the composed pipelines maintain indices over
    dim-8 embeddings, but the batch PQ constants assume
    PQ_M * PQ_SUBDIM == 64 — the encode's subvector slices past the
    vector's end were EMPTY and the unrolled dots failed under ANSI
    inside assign_batch. The lane must derive (m_sub, subdim) from the
    frozen centroids' dimension: dim 8 -> one full-width subspace, and
    advance/codes/topk_pq all serve."""
    dim = 8
    rows = [
        (i, [float((i * 7 + j * 3) % 11) / 11.0 + 0.01 for j in range(dim)])
        for i in range(24)
    ]
    emb = spark.createDataFrame(rows, VECS_SCHEMA)
    cent = similarity.train_centroids(emb, n_centroids=4, iters=1)
    lane = IvfIncremental(spark, str(tmp_path / "ivf-dim8"), centroids=cent)
    _feed(spark, lane, rows)
    lane.advance()
    assert lane._pq_dims(lane.centroids()) == (1, dim)
    total = lane.lists(dedup=True).count()
    assert total == len(rows)
    # one subspace -> exactly one code row per vector
    assert lane.codes(dedup=True).count() == total
    pq = lane.topk_pq(k=3, n_queries=4, n_probes=2, rerank=10).collect()
    raw = lane.topk(k=3, n_queries=4, n_probes=2).collect()
    assert pq, "pq path must serve on small-dim corpora"
    # single-subspace ADC ranks by the same geometry class; the exact
    # re-rank makes shared hits score-identical
    assert _recall(pq, raw) >= 0.5
