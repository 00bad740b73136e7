"""Example topologies run end-to-end on the fixtures."""

from __future__ import annotations

import pytest

from responsive_pub_spark.examples import key_batch, stjoin
from responsive_pub_spark.sources.readers import read_table

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow


def test_key_batch_example_partitions_stream(spark, sf_dir):
    """Batches must partition each key's event stream: every event in
    exactly one batch, batches ordered, no batch empty (KeyBatchExample's
    contract: flush all buffered events per punctuation)."""
    ev = read_table(spark, sf_dir, "events")
    out = key_batch.build(ev, flush_interval_s=7 * 86400.0).collect()
    assert out, "no batches emitted"
    per_user_events = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").count().withColumnRenamed("count", "cnt").collect()
    }
    seen: dict[int, list[int]] = {}
    for r in out:
        assert r.n > 0
        ids = [int(x) for x in r.event_ids.split(",")]
        assert len(ids) == r.n
        seen.setdefault(r.user_id, []).extend(ids)
    for uid, ids in seen.items():
        # completeness: every event flushed exactly once
        assert len(ids) == len(set(ids)) == per_user_events[uid], uid
    # multiple flushes happened (punctuator actually fired mid-stream,
    # not just the end-of-stream flush)
    assert any(len([r for r in out if r.user_id == u]) > 1 for u in seen)


def test_stjoin_example_runs(spark, sf_dir):
    out = stjoin.build(
        spark,
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "customer"),
    )
    rows = out.collect()
    assert rows and {"c_mktsegment", "window_start", "window_end", "cnt", "revenue"} <= set(
        out.columns
    )


def test_pretrain_pipeline_manifest_contracts(spark, sf_dir):
    """The end-to-end corpus-prep example: every kept doc must satisfy ALL
    stage contracts simultaneously — no repetition flag, classifier keep,
    exact+near-dup canonical, contamination bound, sampled stratum."""
    from pyspark.sql import functions as F

    from responsive_pub_spark.examples import pretrain_pipeline
    from responsive_pub_spark.operators import dedup, pipeline_ops
    from responsive_pub_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    manifest = pretrain_pipeline.build_corpus(docs)
    rows = manifest.collect()
    assert rows, "pipeline dropped everything — stage thresholds are broken"
    kept = {r.doc_id for r in rows}

    # stage contracts, re-derived independently
    flagged = {
        r.doc_id
        for r in pipeline_ops.repetition_stats(docs).filter("flagged").collect()
    }
    rejected = {
        r.doc_id
        for r in pipeline_ops.quality_classifier(docs).filter("NOT keep").collect()
    }
    dups = {
        r.doc_id
        for r in dedup.cluster_pairs(
            docs.select("doc_id"), dedup.minhash_pairs(docs)
        ).filter("is_duplicate").collect()
    }
    sampled = {
        r.doc_id for r in pipeline_ops.stratified_sample(docs).collect()
    }
    assert not kept & flagged
    assert not kept & rejected
    assert not kept & dups
    assert kept <= sampled
    # decontamination contract: the eval split itself must never ship in
    # the training manifest (ADVICE r2: it previously leaked through the
    # left join with contam_frac NULL)
    eval_ids = {
        r.doc_id
        for r in docs.filter(
            F.col("doc_id") % pipeline_ops.EVAL_MOD == 0
        ).collect()
    }
    assert eval_ids, "fixture has no eval docs — contract untestable"
    assert not kept & eval_ids
    # provenance columns present and sane
    assert all(r.weight >= 1.0 for r in rows)
    assert all(r.n_emails >= 1 for r in rows)  # injected PII was counted

    stats = pretrain_pipeline.corpus_stats(docs, manifest).collect()
    assert sum(r.n_kept for r in stats) == len(rows)
    assert all(r.n_kept <= r.n_in for r in stats)


def test_vector_pipeline_dedup_and_serve(spark, sf_dir):
    """examples/vector_pipeline.py: planted exact duplicates must collapse
    to their canonical vector, and the PQ serve path over the deduped
    index must agree with the brute-force referee on most hits."""
    from pyspark.sql import functions as F

    from responsive_pub_spark.examples import vector_pipeline
    from responsive_pub_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    # plant one exact duplicate per vector (ids offset far above the corpus)
    dup = emb.withColumn("vec_id", F.col("vec_id") + F.lit(50_000_000))
    both = emb.unionByName(dup)

    index = vector_pipeline.dedup_vectors(both)
    kept = {r.vec_id for r in index.select("vec_id").collect()}
    # every planted duplicate collapsed onto its canonical original
    assert len(kept) <= n
    assert not any(v >= 50_000_000 for v in kept)

    served = vector_pipeline.serve_topk(index, k=3, n_queries=10).collect()
    exact = vector_pipeline.referee_topk(index, k=3, n_queries=10).collect()
    got = {(r.query_id, r.neighbor_id) for r in served}
    want = {(r.query_id, r.neighbor_id) for r in exact}
    assert want, "referee produced nothing — vacuous"
    overlap = len(got & want) / len(want)
    assert overlap >= 0.6, f"ANN/exact overlap collapsed: {overlap:.2f}"


def test_pretrain_training_batches(spark, sf_dir):
    """r4 tail of the corpus flow: mixture resample -> chunk -> pack.
    Contracts: every chunk's source doc survived the manifest AND the
    mixture gate; packed offsets are consistent (0 <= seq_offset < budget);
    within a (lang, seq_id) the offsets are unique; weights ride along."""
    from responsive_pub_spark.examples import pretrain_pipeline
    from responsive_pub_spark.examples import pretrain_pipeline
    from responsive_pub_spark.operators import pipeline_ops

    docs = read_table(spark, sf_dir, "documents")
    manifest = pretrain_pipeline.build_corpus(docs)
    batches = pretrain_pipeline.build_training_batches(docs, manifest)
    rows = batches.collect()
    assert rows, "pipeline produced no chunks"
    kept_ids = {r.doc_id for r in manifest.select("doc_id").collect()}
    mixed_ids = {
        r.doc_id
        for r in pipeline_ops.mixture_resample(
            docs.join(manifest.select("doc_id"), "doc_id")
        ).collect()
    }
    budget = pipeline_ops.PACK_BUDGET_TOKENS
    seen = set()
    for r in rows:
        assert r.src_doc_id in kept_ids and r.src_doc_id in mixed_ids
        assert 0 <= r.seq_offset < budget
        assert r.n_tokens > 0 and r.weight is not None
        key = (r.lang, r.seq_id, r.seq_offset)
        assert key not in seen, f"offset collision {key}"
        seen.add(key)


def test_dataset_card_report_sections(spark, sf_dir):
    """examples/dataset_card.py: every section materializes; composition
    accounts for every doc; coverage fractions are sane; contamination
    rows are directional (corpus -> eval)."""
    from responsive_pub_spark.examples import dataset_card
    from responsive_pub_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, sf_dir, "documents")
    rep = dataset_card.build_report(docs)
    comp_docs = rep["composition"].agg(F.sum("n_docs")).first()[0]
    assert comp_docs == docs.count()
    cov = rep["coverage"].first()
    assert 0.0 <= cov["oov_frac"] <= 1.0
    assert rep["vocab"].count() > 0
    assert rep["bpe_merges"].count() == 4
    bands = rep["entropy_band"].collect()
    assert bands and all(r["h_min"] <= r["h_max"] for r in bands)
    for key in ("contamination_exact", "contamination_fuzzy"):
        assert rep[key].count() >= 0  # materializes without error
    nov = rep["novelty_band"].collect()
    assert nov and all(
        0 <= r["novelty_min_fp"] <= r["novelty_mean_fp"] <= r["novelty_max_fp"] <= 1_000_000
        for r in nov
    )
    coll = rep["collocations"].collect()
    assert coll and all(r["c12"] >= 5 for r in coll)


def test_analytics_report_sections(spark, sf_dir):
    """examples/analytics_report.py: every section materializes; the cube
    accounts for every order; retention stays within [0, 10000] bp; the
    Markov rows of each from_type sum to ~10000 bp (integer truncation
    loses at most |types| bp per row)."""
    from responsive_pub_spark.examples import analytics_report
    from responsive_pub_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    events = read_table(spark, sf_dir, "events")
    orders = read_table(spark, sf_dir, "orders")
    rep = analytics_report.build_report(events, orders)

    cube = rep["activity_cube"]
    total = cube.filter("gid = 3").first()
    assert total["n"] == orders.count()

    ret = rep["retention"].collect()
    assert ret and all(0 <= r.retention_bp <= 10000 for r in ret)

    mk = (
        rep["behavior_model"]
        .groupBy("from_type")
        .agg(F.sum("prob_bp").alias("s"), F.count("*").alias("k"))
        .collect()
    )
    assert mk and all(10000 - r.k <= r.s <= 10000 for r in mk)

    for key in ("trending", "user_trends", "audience_overlap", "input_health"):
        assert rep[key].count() > 0


def test_build_corpus_strip_spans_stage(spark, sf_dir):
    """strip_spans=True pre-cleans cross-document duplicated spans: the
    manifest still builds end-to-end, its redacted text contains no
    all-but-first span copies (total kept tokens <= the unstripped
    corpus's), and the stage composes with every later gate."""
    from responsive_pub_spark.examples import pretrain_pipeline
    from responsive_pub_spark.operators import pipeline_ops

    docs = read_table(spark, sf_dir, "documents")
    plain = pretrain_pipeline.build_corpus(docs)
    stripped = pretrain_pipeline.build_corpus(docs, strip_spans=True)
    # same manifest schema, pipeline intact
    assert stripped.columns == plain.columns
    n = stripped.count()
    assert n > 0
    # the fixture plants near-dups, so stripping must actually remove
    # duplicated-span volume somewhere in the corpus
    rep = pipeline_ops.dup_span_report(docs)
    assert rep.filter("dup_tokens > 0").count() > 0


def test_retrieval_stream_restart_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """r10 VERDICT task 6 — the incremental retrieval stack end-to-end:
    streaming ingest -> continuous near-dup drop -> IVF upsert ->
    ann_topk + hybrid queries, driven across TWO waves (the second
    planting exact-dup copies) and a COLD RESTART; the served results
    must be replay-identical to a batch rebuild over the same survivor
    set with the same frozen centroids."""
    from pyspark.sql import functions as F

    from responsive_pub_spark.examples.retrieval_stream import RetrievalStream
    from responsive_pub_spark.operators import similarity
    from responsive_pub_spark.sources.readers import read_table
    from responsive_pub_spark.streaming.ann_stream import IvfIncremental

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings")
    base = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select("doc_id", "text", "embedding")
        .orderBy("doc_id")
    )
    rows = base.collect()
    assert len(rows) >= 40, "fixture must give a joined corpus"
    half = len(rows) // 2
    wave1 = [
        (int(r.doc_id), r.text, list(r.embedding), float(i))
        for i, r in enumerate(rows[:half])
    ]
    # wave 2: the rest of the corpus PLUS exact-dup copies of 10 wave-1
    # docs (same text + vector, shifted ids) — these must never reach
    # the index
    dup_src = rows[:10]
    wave2 = [
        (int(r.doc_id), r.text, list(r.embedding), 100.0 + i)
        for i, r in enumerate(rows[half:])
    ] + [
        (int(r.doc_id) + 10**6, r.text, list(r.embedding), 200.0 + i)
        for i, r in enumerate(dup_src)
    ]
    schema = "doc_id BIGINT, text STRING, embedding ARRAY<FLOAT>, ts DOUBLE"

    wd = str(tmp_path / "retrieval")
    cent = similarity.train_centroids(emb).persist()
    lane = RetrievalStream(spark, wd, centroids=cent)
    for wave in (wave1, wave2):
        lane.ingest(spark.createDataFrame(wave, schema))
        lane.advance()

    # the planted dups were dropped, and the index holds EXACTLY the
    # survivor set (the fixture corpus has natural near-dups of its own,
    # so survivors come from the lane's verdicts, not the input id set)
    verd = lane.nd.verdicts()
    assert verd.filter("is_duplicate AND doc_id >= 1000000").count() == 10
    survivors = {
        int(r.doc_id) for r in verd.filter("NOT is_duplicate").collect()
    }
    indexed = {r.vec_id for r in lane.ivf.lists(dedup=True).collect()}
    assert indexed == survivors, "index != survivors"
    assert indexed, "empty index"

    ann_before = {tuple(r) for r in lane.ann_topk().collect()}
    hyb_before = {tuple(r) for r in lane.hybrid().collect()}

    # COLD RESTART: fresh instances over the same workdir
    lane2 = RetrievalStream(spark, wd)
    assert {tuple(r) for r in lane2.ann_topk().collect()} == ann_before
    assert {tuple(r) for r in lane2.hybrid().collect()} == hyb_before

    # BATCH REBUILD referee: same frozen centroids, every survivor vector
    # in one shot — queries must be row-identical to the incremental path
    rb = IvfIncremental(
        spark, str(tmp_path / "rebuild"), centroids=lane2.ivf.centroids()
    )
    lane2.ivf.lists(dedup=True).select("vec_id", "embedding").coalesce(
        1
    ).write.mode("append").parquet(rb.vecs_dir)
    rb.advance()
    assert {tuple(r) for r in rb.topk().collect()} == ann_before
    hyb_rebuilt = similarity.hybrid_rerank(
        lane2.surviving_docs(),
        rb.lists(dedup=True).select("vec_id", "embedding"),
    )
    assert {tuple(r) for r in hyb_rebuilt.collect()} == hyb_before
    cent.unpersist()


def test_pretrain_stream_shards_survivors_across_restart(
    spark, sf_dir, tmp_path
):
    """The streaming pretrain-export chain end-to-end: ingest ->
    continuous near-dup drop -> incremental shard export, driven across
    THREE waves (the second planting exact-dup copies) with a COLD
    RESTART before the third. Contracts: (a) exactly the survivor set is
    sharded — planted dups never reach a shard, no survivor is missed or
    double-assigned; (b) assignments equal the batch wave-major referee
    over the PER-DELTA export sets (each committed delta continues the
    carried total exactly); (c) the manifest's shard totals sum to the
    survivor token total."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from responsive_pub_spark.examples.pretrain_stream import PretrainStream
    from responsive_pub_spark.functions import text as T
    from responsive_pub_spark.functions.hashing import P
    from responsive_pub_spark.operators.pipeline_ops import _shard_coeffs
    from responsive_pub_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    rows = docs.orderBy("doc_id").collect()
    third = len(rows) // 3
    wave1 = [
        (int(r.doc_id), r.lang, r.text, float(i))
        for i, r in enumerate(rows[:third])
    ]
    # wave 2: next third PLUS exact-dup copies of 8 wave-1 docs
    wave2 = [
        (int(r.doc_id), r.lang, r.text, 100.0 + i)
        for i, r in enumerate(rows[third : 2 * third])
    ] + [
        (int(r.doc_id) + 10**6, r.lang, r.text, 200.0 + i)
        for i, r in enumerate(rows[:8])
    ]
    wave3 = [
        (int(r.doc_id), r.lang, r.text, 300.0 + i)
        for i, r in enumerate(rows[2 * third :])
    ]
    schema = "doc_id BIGINT, lang STRING, text STRING, ts DOUBLE"

    wd = str(tmp_path / "pretrain-stream")
    # the id leg freezes its tokenizer on the corpus at pipeline start
    # (the artifact-once contract); the restart below must find it
    lane = PretrainStream(spark, wd, budget=512, tokenizer_fit=docs)
    for wave in (wave1, wave2):
        lane.ingest(spark.createDataFrame(wave, schema))
        lane.advance()

    # COLD RESTART before wave 3 (no tokenizer_fit: frozen artifact)
    lane = PretrainStream(spark, wd, budget=512)
    lane.ingest(spark.createDataFrame(wave3, schema))
    lane.advance()

    # (a) sharded set == survivor set, each exactly once
    verd = lane.nd.verdicts()
    assert verd.filter("is_duplicate AND doc_id >= 1000000").count() == 8
    survivors = {
        int(r.doc_id) for r in verd.filter("NOT is_duplicate").collect()
    }
    assign = lane.assignments().collect()
    assert {int(r.doc_id) for r in assign} == survivors
    assert len(assign) == len(survivors)

    # (b) batch referee over the per-delta export sets: doc -> the
    # committed delta (wave) that exported it, then one global window
    delta_of = {}
    for i in lane.shards.log.tail_ids():
        for r in spark.read.parquet(lane.shards.log.delta_path(i)).collect():
            delta_of[int(r.doc_id)] = i
    a, b = _shard_coeffs(0)
    bpe = f"size(regexp_extract_all(text, '{T.spark_re(T.BPE_TOKEN_REGEX)}', 0))"
    surv_docs = lane.surviving_docs().withColumn(
        "wave",
        F.udf(lambda d: delta_of[int(d)], "int")("doc_id"),
    )
    w = Window.orderBy("wave", "h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    referee = {
        tuple(r)
        for r in surv_docs.select(
            "wave",
            "doc_id",
            F.expr(bpe).cast("bigint").alias("n_tokens"),
            F.expr(f"({a} * (doc_id % {P}) + {b}) % {P}").alias("h"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(cum - n_tokens) DIV 512").alias("shard_id"),
            ((F.col("cum") - F.col("n_tokens")) % 512)
            .cast("bigint")
            .alias("shard_offset"),
        )
        .collect()
    }
    assert {tuple(r) for r in assign} == referee

    # (c) manifest totals
    man = lane.manifest().collect()
    assert sum(r.shard_tokens for r in man) == sum(r[1] for r in referee)
    assert lane.shards.total_tokens() == sum(r[1] for r in referee)

    # (d) the PACKING leg over the same handoff: exactly the survivor
    # set is packed, and the carried per-lang totals reconcile with the
    # survivors' token masses
    pack = lane.pack_assignments().collect()
    assert {int(r.doc_id) for r in pack} == survivors
    assert len(pack) == len(survivors)
    surv_lang_tot = {
        (r.lang, r.t)
        for r in lane.surviving_docs()
        .join(
            spark.createDataFrame(
                [(d, l) for d, l in {
                    int(r.doc_id): r.lang
                    for w in (wave1, wave2, wave3)
                    for r in spark.createDataFrame(w, schema).collect()
                }.items()],
                "doc_id BIGINT, lang STRING",
            ),
            "doc_id",
        )
        .groupBy("lang")
        .agg(F.sum(F.expr(bpe).cast("bigint")).alias("t"))
        .collect()
    }
    assert {
        (r.lang, r.post_total) for r in lane.packs.totals().collect()
    } == surv_lang_tot

    # (e) the ID-EMISSION leg (r11 VERDICT task 6): streamed
    # (lang, seq_id, pos, token_id) rows equal bpe.pack_token_ids's
    # composition over the SURVIVORS under the same wave-major order the
    # handoffs actually delivered, and the training-batch reader serves
    # fixed-length sequences sliced from exactly those rows
    from responsive_pub_spark.operators import bpe as bpe_mod

    delta_of_pack = {}
    for i in lane.packs.log.tail_ids():
        for r in spark.read.parquet(lane.packs.log.delta_path(i)).collect():
            delta_of_pack[int(r.doc_id)] = i
    surv_lang = lane.surviving_docs().join(
        spark.createDataFrame(
            [(d, l) for d, l in {
                int(r.doc_id): r.lang
                for w in (wave1, wave2, wave3)
                for r in spark.createDataFrame(w, schema).collect()
            }.items()],
            "doc_id BIGINT, lang STRING",
        ),
        "doc_id",
    ).withColumn(
        "wave", F.udf(lambda d: delta_of_pack[int(d)], "int")("doc_id")
    )
    # tokenizer referee: refit + re-segment from scratch with the SAME
    # fit corpus the lane froze on (docs) — an independent replay of the
    # artifact, applied to the survivors
    merges_ref = bpe_mod.bpe_merges(docs)
    seg_ref = bpe_mod.segment_tokens_with_merges(
        docs.select(F.explode(F.expr(
            "filter(split(text, '\\\\s+'), x -> x != '')"
        )).alias("word")),
        merges_ref,
    )
    vocab_ref = (
        seg_ref.select(F.explode("toks").alias("token"))
        .distinct()
        .withColumn(
            "token_id",
            (F.row_number().over(Window.orderBy("token")) - 1)
            .cast("bigint"),
        )
    )
    sub_ref = (
        surv_lang.select(
            "doc_id",
            F.posexplode(F.expr(
                "filter(split(text, '\\\\s+'), x -> x != '')"
            )).alias("word_idx", "word"),
        )
        .join(F.broadcast(seg_ref), "word")
        .select(
            "doc_id", "word_idx",
            F.posexplode("toks").alias("sub_idx", "token"),
        )
        .join(F.broadcast(vocab_ref), "token")
    )
    rank_w = Window.partitionBy("doc_id").orderBy("word_idx", "sub_idx")
    ranked = sub_ref.select(
        "doc_id",
        "token_id",
        (F.row_number().over(rank_w) - 1).cast("bigint").alias("tok_rank"),
        F.count("*").over(Window.partitionBy("doc_id"))
        .cast("bigint").alias("n_tokens"),
    )
    cum_w = (
        Window.partitionBy("lang")
        .orderBy("wave", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed_ref = (
        ranked.select("doc_id", "n_tokens").distinct()
        .join(surv_lang.select("doc_id", "lang", "wave"), "doc_id")
        .withColumn(
            "doc_start", F.sum("n_tokens").over(cum_w) - F.col("n_tokens")
        )
        .select("doc_id", "lang", "doc_start")
    )
    ids_referee = sorted(
        (r.lang, int(r.seq_id), int(r.pos), int(r.token_id))
        for r in ranked.join(packed_ref, "doc_id")
        .select(
            "lang",
            F.expr("(doc_start + tok_rank) DIV 512").alias("seq_id"),
            ((F.col("doc_start") + F.col("tok_rank")) % 512)
            .cast("bigint").alias("pos"),
            "token_id",
        )
        .collect()
    )
    got_ids = sorted(
        (r.lang, int(r.seq_id), int(r.pos), int(r.token_id))
        for r in lane.token_ids().collect()
    )
    assert got_ids == ids_referee and len(got_ids) > 0
    # the reader: every closed sequence is exactly budget tokens in
    # position order, sliced from the committed id rows
    a_lang = got_ids[0][0]
    for r in lane.token_sequences(a_lang).collect():
        want = [
            t for (lg, s, _p, t) in got_ids
            if lg == a_lang and s == int(r.seq_id)
        ]
        assert list(r.toks) == want and len(want) == 512
