"""Unit + plan tests for the r4-final operator wave: VersionedKeyValueStore
semantics, HLL register mergeability, PageRank mass conservation, and the
scale-critical plan shapes of the new gate rows (the registry oracle test
covers value parity; these pin the CONTRACTS the oracle can't see)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from responsive_pub_spark import registry
from responsive_pub_spark.operators import graph, olap, sketches, textops
from responsive_pub_spark.plans import audit
from responsive_pub_spark.sources.readers import read_table
from responsive_pub_spark.streaming.state import VersionedKeyValueStore

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


# ---------------------------------------------------------------------------
# VersionedKeyValueStore (KS 3.5 surface)
# ---------------------------------------------------------------------------

def test_versioned_store_basic_asof():
    st = VersionedKeyValueStore()
    st.put("k", "v1", 10)
    st.put("k", "v2", 20)
    st.put("k", "v3", 30)
    assert st.get("k") == "v3"
    assert st.get_asof("k", 5) is None                 # before first version
    assert st.get_asof("k", 10) == ("v1", 10, 20)
    assert st.get_asof("k", 19) == ("v1", 10, 20)
    assert st.get_asof("k", 20) == ("v2", 20, 30)
    assert st.get_asof("k", 99) == ("v3", 30, None)    # open current version


def test_versioned_store_same_ts_put_replaces():
    """KS last-writer-wins per timestamp: a same-ts put REPLACES, it does
    not stack a second version."""
    st = VersionedKeyValueStore()
    st.put("k", "a", 10)
    st.put("k", "b", 10)
    assert st.get_asof("k", 10) == ("b", 10, None)
    assert len(st._versions["k"]) == 1


def test_versioned_store_out_of_order_put():
    """A late (out-of-order) put lands in timestamp position, splitting the
    enclosing validity interval — the defining versioned-store behavior a
    plain latest-value store can't express."""
    st = VersionedKeyValueStore()
    st.put("k", "v1", 10)
    st.put("k", "v3", 30)
    st.put("k", "v2", 20)  # late arrival
    assert st.get_asof("k", 25) == ("v2", 20, 30)
    assert st.get_asof("k", 15) == ("v1", 10, 20)


def test_versioned_store_tombstones():
    st = VersionedKeyValueStore()
    st.put("k", "v1", 10)
    old = st.delete("k", 20)
    assert old == "v1"
    assert st.get("k") is None            # tombstone is the latest version
    assert st.get_asof("k", 25) is None   # active version is the tombstone
    assert st.get_asof("k", 15) == ("v1", 10, 20)
    st.put("k", "v2", 30)
    assert st.get("k") == "v2"


def test_versioned_store_history_retention():
    """Versions fully shadowed before (stream_time - retention) are dropped;
    an as-of read behind the horizon answers None even if a version
    physically survives."""
    st = VersionedKeyValueStore(history_retention=100)
    st.put("k", "v1", 0)
    st.put("k", "v2", 50)
    st.put("k", "v3", 500)  # stream time 500, horizon 400: v1 shadowed@50
    assert [t for t, _ in st._versions["k"]] == [50, 500]
    assert st.get_asof("k", 399) is None  # behind the horizon
    assert st.get_asof("k", 450) == ("v2", 50, 500)
    assert st.get_asof("k", 500) == ("v3", 500, None)


def test_versioned_store_dump_load_roundtrip():
    st = VersionedKeyValueStore(history_retention=100)
    st.put("a", 1, 10)
    st.put("a", 2, 20)
    st.put("b", 9, 15)
    st2 = VersionedKeyValueStore.load(st.dump())
    assert st2.get_asof("a", 15) == (1, 10, 20)
    assert st2.get("b") == 9
    assert st2.history_retention == 100
    assert st2.approximate_num_entries() == 2


# ---------------------------------------------------------------------------
# HLL: the merge property the 100 TB posture rests on
# ---------------------------------------------------------------------------

def test_hll_registers_merge_by_max(spark, sf_dir):
    """Sketching half the corpus twice and max-merging the register tables
    must equal sketching the whole corpus once — the property that lets
    100 TB of partials collapse tree-wise."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "props"
    )
    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)

    def regs(df):
        from responsive_pub_spark.functions.hashing import poly_hash_sql

        item = "CAST(user_id AS STRING) || '|' || props"
        h = poly_hash_sql(f"({item})")
        reg, rho = sketches._hll_reg_rho(h, "spark")
        return (
            df.select(
                "event_type", F.expr(reg).alias("reg"), F.expr(rho).alias("rho")
            )
            .groupBy("event_type", "reg")
            .agg(F.max("rho").alias("m_j"))
        )

    merged = (
        regs(a)
        .unionByName(regs(b))
        .groupBy("event_type", "reg")
        .agg(F.max("m_j").alias("m_j"))
    )
    whole = regs(ev)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_estimate_within_tolerance(spark, sf_dir):
    """256 registers -> ~6.5% standard error; assert a loose 4-sigma band
    so the test pins estimator sanity, not luck."""
    rows = sketches.hll_distinct(
        read_table(spark, sf_dir, "events")
    ).collect()
    assert rows
    for r in rows:
        assert r.hll_est == pytest.approx(r.exact_distinct, rel=0.26)


# ---------------------------------------------------------------------------
# PageRank: mass conservation + plan shape
# ---------------------------------------------------------------------------

def test_pagerank_mass_and_bounds(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    pdf = graph.pagerank(li).toPandas()
    n = len(pdf)
    total = pdf.rank_fp.sum()
    # integer truncation only ever LOSES mass, and at most ~2 units per
    # node per round (the DIV by outdeg and by 100)
    assert total <= n * graph.PR_SCALE
    assert total >= n * graph.PR_SCALE - n * 10 * graph.PR_ITERS
    assert (pdf.rank_fp >= (15 * graph.PR_SCALE) // 100).all()
    assert set(pdf.node_type) == {"part", "supplier"}


def test_new_ops_plan_shapes(spark, sf_dir):
    """Scale contracts: cube is ONE Expand + <=1 shuffle; collocations'
    marginals join broadcast (vocab^2 table); novelty and pagerank have no
    cartesian anywhere; HLL collapses map-side (partial agg before its
    exchanges)."""
    orders = read_table(spark, sf_dir, "orders")
    cube = olap.cube_pricing(orders)
    p = audit.executed_plan(cube)
    assert "Expand" in p
    assert audit.count_exchanges(cube) <= 1, p

    docs = read_table(spark, sf_dir, "documents")
    coll = textops.collocations_pmi(docs)
    assert audit.broadcast_join_count(coll) >= 3  # c1, c2, n all broadcast
    p = audit.executed_plan(coll)
    assert "CartesianProduct" not in p

    nov = textops.novelty(docs)
    p = audit.executed_plan(nov)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    li = read_table(spark, sf_dir, "lineitem")
    pr = graph.pagerank(li)
    p = audit.executed_plan(pr)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------------------
# TPC-H Q3 analog + fuzzy linkage plan shapes
# ---------------------------------------------------------------------------

def test_tpch_q3_plan_shape(spark, sf_dir):
    """The filtered customer dim must join broadcast (the big side never
    shuffles for it), the top-10 must compile to TakeOrderedAndProject
    (no global sort), and the date filters must push into the scans."""
    df = registry.q_tpch_q3(spark, sf_dir)
    p = audit.executed_plan(df)
    assert audit.broadcast_join_count(df) >= 1, p
    assert "TakeOrderedAndProject" in p, p
    pushed = " ".join(audit.pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed, pushed


def test_fuzzy_match_collapse_first(spark, sf_dir):
    """The quadratic comparison runs over DISTINCT names: with 64 distinct
    names in 2000 rows the candidate join is vocabulary-sized, and row
    multiplicities let callers expand without re-pairing."""
    from responsive_pub_spark.operators import linkage

    part = read_table(spark, sf_dir, "part")
    out = linkage.fuzzy_match_names(part).toPandas()
    n_names = part.select("p_name").distinct().count()
    assert len(out) <= n_names * (n_names - 1) // 2
    assert (out.dist <= linkage.FUZZY_MAX_DIST).all()
    assert (out.name_a < out.name_b).all()
    # multiplicities cover the fact table: every matched name's n equals
    # its true row count
    counts = dict(
        part.groupBy("p_name").count().collect()
    )
    for _, r in out.head(20).iterrows():
        assert counts[r.name_a] == r.n_a and counts[r.name_b] == r.n_b
    p = audit.executed_plan(linkage.fuzzy_match_names(part))
    assert "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# Versioned store in the STREAMING lane (cross-micro-batch history)
# ---------------------------------------------------------------------------

SCHEMA_VIN = "user_id LONG, event_id LONG, v DOUBLE, ts DOUBLE"
SCHEMA_VOUT = "user_id BIGINT, event_id BIGINT, asof_prev DOUBLE"

VROWS = [
    {"user_id": 1, "event_id": 1, "v": 10.0, "ts": 1.0},
    {"user_id": 1, "event_id": 2, "v": 20.0, "ts": 2.0},
    {"user_id": 1, "event_id": 3, "v": 30.0, "ts": 3.0},
    {"user_id": 2, "event_id": 4, "v": 99.0, "ts": 2.5},
]
# asof(ts - 0.5) sees the version active half a step ago — for rows 2/3
# that is a version written in a PREVIOUS micro-batch
VEXPECTED = [(1, 1, None), (1, 2, 10.0), (1, 3, 20.0), (2, 4, None)]


def _make_versioned_proc():
    from responsive_pub_spark.streaming import state

    class VersionedProc(state.Processor):
        def process(self, ctx, rec):
            hist = ctx.get_versioned_store("hist")
            probe = hist.get_asof("v", float(rec["ts"]) - 0.5)
            hist.put("v", float(rec["v"]), float(rec["ts"]))
            ctx.forward(
                user_id=int(rec["user_id"]),
                event_id=int(rec["event_id"]),
                asof_prev=None if probe is None else probe[0],
            )

    return VersionedProc


def test_versioned_store_batch_lane(spark):
    from responsive_pub_spark.streaming import state

    df = spark.createDataFrame([tuple(r.values()) for r in VROWS], SCHEMA_VIN)
    out = state.process(
        df, ["user_id"], _make_versioned_proc(), SCHEMA_VOUT,
        ts_col="ts", order_by=("event_id",),
    )
    got = sorted(
        (r.user_id, r.event_id, r.asof_prev) for r in out.collect()
    )
    assert got == sorted(VEXPECTED)


def test_versioned_store_streaming_survives_restarts(spark, tmp_path):
    """One row per micro-batch, every advance a cold start from the
    checkpoint: the version HISTORY (not just latest value) must restore,
    or the as-of probes into earlier batches' versions return None."""
    from responsive_pub_spark.streaming import state
    from responsive_pub_spark.streaming.runtime import TopologyTestDriver

    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], _make_versioned_proc(), SCHEMA_VOUT,
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(spark, SCHEMA_VIN, build, str(tmp_path / "v"))
    got = []
    for r in VROWS:
        drv.pipe([r])
        got += [(o.user_id, o.event_id, o.asof_prev) for o in drv.advance()]
    assert sorted(got) == sorted(VEXPECTED)


def test_versioned_store_iq_over_checkpoint(spark, tmp_path):
    """IQ reaches the versioned store's FULL history in a checkpoint: one
    row per (key, version) with write_ts = valid_from. Regression guard:
    the generic decoder must not try to read a VKV1 blob as a segmented
    KV store."""
    from responsive_pub_spark.streaming import iq, state
    from responsive_pub_spark.streaming.runtime import TopologyTestDriver

    def build(sdf):
        return state.process_streaming(
            sdf, ["user_id"], _make_versioned_proc(), SCHEMA_VOUT,
            ts_col="ts", order_by=("event_id",),
        )

    drv = TopologyTestDriver(spark, SCHEMA_VIN, build, str(tmp_path / "q"))
    for r in VROWS:
        drv.pipe([r])
        drv.advance()

    rows = iq.query_processor_state(
        spark, drv.checkpoint, ["user_id"], store_name="hist"
    ).collect()
    got = sorted((r.user_id, r.store_key, r.store_value, r.write_ts) for r in rows)
    assert got == [
        (1, "('v', 1.0)", "10.0", 1.0),
        (1, "('v', 2.0)", "20.0", 2.0),
        (1, "('v', 3.0)", "30.0", 3.0),
        (2, "('v', 2.5)", "99.0", 2.5),
    ]


# ---------------------------------------------------------------------------
# leakage-safe split contracts
# ---------------------------------------------------------------------------

def test_split_leakage_safe_properties(spark, sf_dir):
    """(1) no near-dup cluster ever spans two splits; (2) fractions land
    near 80/10/10; (3) the split is reproducible run-over-run; (4) docs
    NOT in any near-dup pair split exactly as the plain hash of their own
    id — appending new docs can't move old singletons."""
    from responsive_pub_spark.operators import pipeline_ops

    docs = read_table(spark, sf_dir, "documents")
    out = pipeline_ops.split_leakage_safe(docs).toPandas()
    per_cluster = out.groupby("canonical_id").split.nunique()
    assert per_cluster.max() == 1

    frac = out.split.value_counts(normalize=True)
    assert 0.6 < frac.get("train", 0) < 0.95
    assert frac.get("val", 0) > 0.02 and frac.get("test", 0) > 0.02

    again = pipeline_ops.split_leakage_safe(docs).toPandas()
    assert out.sort_values("doc_id").reset_index(drop=True).equals(
        again.sort_values("doc_id").reset_index(drop=True)
    )

    singles = out[out.doc_id == out.canonical_id]
    expected = spark.createDataFrame(
        singles[["doc_id"]]
    ).selectExpr(
        "doc_id",
        f"{pipeline_ops._split_expr('doc_id')} AS split",
    ).toPandas()
    merged = singles.merge(expected, on="doc_id", suffixes=("", "_plain"))
    assert (merged.split == merged.split_plain).all()


def test_trending_decay_old_data_is_zero(spark):
    """Counts older than 63 half-lives must weigh EXACTLY zero — Spark
    wraps bigint shift counts mod 64 (shiftright(x, 70) == shiftright(x,
    6)) while DuckDB saturates, so an unclamped shift would resurrect
    ancient counts on one engine only. The operator clamps at 63."""
    import pandas as pd

    from responsive_pub_spark.operators import timeseries

    rows = [
        # anchor-day item: small but recent
        (1, "2024-06-01 00:00:00", "recent", 3),
        # 400 days older (100 half-lives): a HUGE count that must not
        # surface above the recent item
        (1, "2023-04-28 00:00:00", "ancient", 1_000_000),
    ]
    data = []
    for uid, ts, item, n in rows:
        data += [(uid, ts, item)] * min(n, 1000)  # cap for test runtime
    df = spark.createDataFrame(
        data, "user_id LONG, ts_s STRING, props STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "props",
                 "'click' AS event_type")
    out = timeseries.trending_decay(df).toPandas()
    recent = out[out.props == "recent"].iloc[0]
    ancient = out[out.props == "ancient"].iloc[0]
    assert ancient.score_fp == 0
    assert recent.score_fp > 0 and recent.rk < ancient.rk


def test_join_versioned_matches_store_replay(spark):
    """KStream.join_versioned == per-key VersionedKeyValueStore.get_asof
    replay: each stream record sees the version active at its own
    timestamp, same-ts version wins the tie, pre-first-version is NULL."""
    from responsive_pub_spark.api import KStream
    from responsive_pub_spark.streaming.state import VersionedKeyValueStore

    stream_rows = [
        (1, 5.0, "e1"), (1, 15.0, "e2"), (1, 20.0, "e3"), (2, 9.0, "e4")
    ]
    version_rows = [(1, 10.0, "A"), (1, 20.0, "B"), (2, 30.0, "C")]
    sdf = spark.createDataFrame(stream_rows, "k LONG, ts DOUBLE, ev STRING")
    vdf = spark.createDataFrame(version_rows, "k LONG, ts DOUBLE, payload STRING")
    out = (
        KStream(sdf, key=["k"], ts_col="ts")
        .join_versioned(KStream(vdf, key=["k"], ts_col="ts"), ["payload"])
        .df.collect()
    )
    got = {(r.k, r.ev): r.v_payload for r in out}

    stores: dict = {}
    for k, ts, payload in version_rows:
        stores.setdefault(k, VersionedKeyValueStore()).put("v", payload, ts)
    want = {}
    for k, ts, ev in stream_rows:
        hit = stores.get(k, VersionedKeyValueStore()).get_asof("v", ts)
        want[(k, ev)] = None if hit is None else hit[0]
    assert got == want
    assert got[(1, "e1")] is None          # before first version
    assert got[(1, "e3")] == "B"           # same-ts version wins


def test_heavy_hitters_contract(spark, sf_dir):
    """(1) completeness: EVERY item with exact >= theta appears (the CMS
    prefilter cannot false-negative because est >= exact); (2) est >=
    exact on every output row; (3) the prefilter's FP band is real on
    this fixture: some candidate had est >= theta > exact and was
    correctly dropped by verification."""
    from pyspark.sql import functions as F

    from responsive_pub_spark.operators import sketches
    from responsive_pub_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").select(
        F.concat_ws(":", F.col("user_id"), F.col("event_type")).alias("item")
    )
    out = sketches.heavy_hitters(ev).toPandas()
    theta = int(out.theta.iloc[0]) if len(out) else ev.count() // sketches.HH_FRAC
    truth = (
        ev.groupBy("item").count().filter(F.col("count") >= theta).toPandas()
    )
    assert set(out.item) == set(truth.item)
    assert (out.cms_est >= out.exact_count).all()
    if theta > 1:  # at sf0.001 theta==1: every present item is a hitter,
        # so no FP band can exist by construction
        est_all = sketches.cms_frequencies(ev).toPandas()
        fp_band = est_all[
            (est_all.cms_est >= theta) & (est_all.exact_count < theta)
        ]
        assert len(fp_band) > 0, "fixture never exercised the FP band"
