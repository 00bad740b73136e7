"""The key-bucket layout of the GroupState lane (``state.process_streaming``):
one GroupState row per ``pmod(hash(key), _BUCKETS)``, each key with its own
payload, context, stream time and punctuators inside its bucket; IQ point
lookups pruned by bucket id; per-key checkpoints refused."""

from __future__ import annotations

import sys

import pytest
from pyspark import cloudpickle

from responsive_pub_spark.streaming import iq, state
from responsive_pub_spark.streaming.runtime import TopologyTestDriver

# the processors below run in Python workers, which cannot import this file
cloudpickle.register_pickle_by_value(sys.modules[__name__])


class _Count(state.Processor):
    """Running count per key; forwards the key it saw and its count."""

    def process(self, ctx, rec):
        n = (ctx.store.get("n") or 0) + 1
        ctx.store.put("n", n)
        ctx.forward(key=repr(ctx.key), n=n)


def _counting(key_cols):
    return lambda sdf: state.process_streaming(
        sdf, key_cols, _Count, "key STRING, n BIGINT", ts_col="ts"
    )


def _rows(out):
    return sorted((r.key, r.n) for r in out)


def _assert_bucket_rows(spark, checkpoint):
    """The checkpoint holds bucket rows: keyed by the bucket id, each
    blob led by the bucket marker."""
    rows = iq.read_state(spark, checkpoint).collect()
    assert rows and all(
        list(r.key.asDict()) == ["__bucket__"]
        and 0 <= r.key["__bucket__"] < state._BUCKETS
        and bytes(r.value.groupState.blob)[:4] == b"BKT1"
        for r in rows
    )


def test_null_and_nan_keys_keep_their_own_state(spark, tmp_path):
    """Spark groups a null and a NaN double key apart, and an integral key
    with nulls stays int; pandas shows all three missing shapes as NaN,
    so the lane must tell them apart itself, across restarts too."""
    nan = float("nan")
    drv = TopologyTestDriver(
        spark, "d DOUBLE, ts DOUBLE", _counting(["d"]), str(tmp_path / "d")
    )
    drv.pipe([{"d": v, "ts": 1.0} for v in (1.5, None, nan, None)])
    assert _rows(drv.advance()) == [
        ("(1.5,)", 1), ("(None,)", 1), ("(None,)", 2), ("(nan,)", 1)
    ]
    drv.pipe([{"d": v, "ts": 2.0} for v in (nan, None, 1.5)])
    assert _rows(drv.advance()) == [("(1.5,)", 2), ("(None,)", 3), ("(nan,)", 2)]
    _assert_bucket_rows(spark, drv.checkpoint)

    drv = TopologyTestDriver(
        spark, "i BIGINT, ts DOUBLE", _counting(["i"]), str(tmp_path / "i")
    )
    drv.pipe([{"i": v, "ts": 1.0} for v in (7, None, 2**60 + 1)])
    drv.advance()
    drv.pipe([{"i": v, "ts": 2.0} for v in (7, None, 2**60 + 1)])
    assert _rows(drv.advance()) == [
        ("(1152921504606846977,)", 2), ("(7,)", 2), ("(None,)", 2)
    ]


def test_two_column_key(spark, tmp_path):
    drv = TopologyTestDriver(
        spark, "u STRING, r INT, ts DOUBLE", _counting(["u", "r"]),
        str(tmp_path / "q"),
    )
    drv.pipe([
        {"u": "a", "r": 1, "ts": 1.0}, {"u": "a", "r": 2, "ts": 1.0},
        {"u": "b", "r": 1, "ts": 1.0}, {"u": "a", "r": 1, "ts": 2.0},
    ])
    assert _rows(drv.advance()) == [
        ("('a', 1)", 1), ("('a', 1)", 2), ("('a', 2)", 1), ("('b', 1)", 1)
    ]
    drv.pipe([{"u": "a", "r": 2, "ts": 3.0}, {"u": None, "r": 2, "ts": 3.0}])
    assert _rows(drv.advance()) == [("('a', 2)", 2), ("(None, 2)", 1)]
    _assert_bucket_rows(spark, drv.checkpoint)


class _Ticker(state.Processor):
    """Stream-time punctuator every 10 s; forwards each fire and, per
    record, the key's own stream time."""

    def init(self, ctx):
        ctx.schedule(10.0, self.tick)

    def tick(self, ctx, t):
        ctx.forward(key=ctx.key[0], what="fire", t=t)

    def process(self, ctx, rec):
        ctx.forward(key=ctx.key[0], what="time", t=ctx.store.stream_time)


def test_stream_time_and_punctuators_stay_per_key_in_one_bucket(spark, tmp_path):
    # two keys that hash to the same bucket
    bucket_of = {
        r.k: r.b for r in spark.sql(
            f"SELECT CAST(id AS STRING) AS k, pmod(hash(CAST(id AS STRING)), "
            f"{state._BUCKETS}) AS b FROM range(100)"
        ).collect()
    }
    a = "0"
    b = next(k for k in bucket_of if k != a and bucket_of[k] == bucket_of[a])

    def build(sdf):
        return state.process_streaming(
            sdf, ["k"], _Ticker, "key STRING, what STRING, t DOUBLE",
            ts_col="ts",
        )

    drv = TopologyTestDriver(spark, "k STRING, ts DOUBLE", build, str(tmp_path / "q"))
    drv.pipe([{"k": a, "ts": 1.0}, {"k": b, "ts": 3.0}])
    drv.advance()
    # a crosses 10 and 20; b stays before its first fire at 10
    drv.pipe([{"k": a, "ts": 25.0}, {"k": b, "ts": 5.0}])
    got = sorted((r.key, r.what, r.t) for r in drv.advance())
    assert got == [
        (a, "fire", 10.0), (a, "fire", 20.0), (a, "time", 25.0),
        (b, "time", 5.0),
    ]
    drv.pipe([{"k": b, "ts": 12.0}])
    assert sorted((r.key, r.what, r.t) for r in drv.advance()) == [
        (b, "fire", 10.0), (b, "time", 12.0)
    ]
    # both keys live in one bucket row
    assert len(iq.read_state(spark, drv.checkpoint).collect()) == 1


@pytest.mark.parametrize(
    "ddl, keys",
    [("INT", [3, 40, 500]), ("BIGINT", [3, 2**40, -7]), ("STRING", ["x", "y", "zz"])],
)
def test_iq_point_lookup_prunes_to_the_keys_bucket(spark, tmp_path, ddl, keys):
    drv = TopologyTestDriver(
        spark, f"k {ddl}, ts DOUBLE", _counting(["k"]), str(tmp_path / "q")
    )
    drv.pipe([{"k": k, "ts": 1.0} for k in keys + keys[:1]])
    drv.advance()
    for k in keys:
        df = iq.query_processor_state(spark, drv.checkpoint, ["k"], group_keys=[k])
        assert [(r.k, r.store_key, r.store_value) for r in df.collect()] == [
            (k, "'n'", "2" if k == keys[0] else "1")
        ]
    # the JVM side keeps the requested key's bucket, plus at most the
    # bucket the same int would hash to as the other integral width
    flat = iq.read_state(spark, drv.checkpoint).select("key.__bucket__")
    kept = {r.bucket for r in flat.withColumnRenamed("__bucket__", "bucket")
            .filter(iq._bucket_cond([keys[1]])).collect()}
    own = spark.sql(
        f"SELECT pmod(hash(CAST({keys[1]!r} AS {ddl})), {state._BUCKETS}) AS b"
    ).first().b
    assert own in kept and len(kept) <= (1 if ddl == "STRING" else 2)
    # a full scan still answers every key
    assert len(iq.query_processor_state(
        spark, drv.checkpoint, ["k"], group_keys=keys
    ).collect()) == 3


def test_per_key_checkpoint_is_refused_with_the_layout_message(spark, tmp_path):
    """A checkpoint of a plain per-key ``applyInPandasWithState`` with an
    INT key passes Spark's state-schema check against the INT bucket id
    (field names are not compared); the lane's marker check refuses it."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def per_key(key, pdfs, st):
        for pdf in pdfs:
            st.update((b"per-key",))
            yield pd.DataFrame({"key": [str(key)], "n": [len(pdf)]})

    drv = TopologyTestDriver(
        spark, "k INT, ts DOUBLE",
        lambda sdf: sdf.groupBy("k").applyInPandasWithState(
            per_key, "key STRING, n BIGINT", "blob BINARY", "append",
            GroupStateTimeout.NoTimeout,
        ),
        str(tmp_path / "q"),
    )
    drv.pipe([{"k": k, "ts": 1.0} for k in range(40)])
    drv.advance()
    drv.build = _counting(["k"])
    drv.pipe([{"k": k, "ts": 2.0} for k in range(40)])
    with pytest.raises(Exception, match="not in the key-bucket layout"):
        drv.advance()


class _ShimProbe(state.Processor):
    def process(self, ctx, rec):
        import zipimport

        ctx.forward(key=str(ctx.key[0]), patched=getattr(
            zipimport.zipimporter.invalidate_caches, "reuses_zip_directory", False
        ))


def test_worker_running_a_batch_has_the_zip_shim(spark, tmp_path):
    drv = TopologyTestDriver(
        spark, "k STRING, ts DOUBLE",
        lambda sdf: state.process_streaming(
            sdf, ["k"], _ShimProbe, "key STRING, patched BOOLEAN"
        ),
        str(tmp_path / "q"),
    )
    drv.pipe([{"k": str(i), "ts": 1.0} for i in range(8)])
    out = drv.advance()
    # the shim installs only where invalidate_caches re-reads (< 3.13)
    expected = sys.version_info < (3, 13)
    assert len(out) == 8 and all(r.patched is expected for r in out)
