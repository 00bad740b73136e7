"""The A/B regression gate: every registry query vs its DuckDB oracle at the
test scale factor — the local replica of the driver's CORRECTNESS check and
the analog of the reference's regression harness
(e2e-test/.../regression/ResultsComparatorService.java)."""

from __future__ import annotations

import pytest

from responsive_pub_spark.registry import REGISTRY

from tests.oracle_util import compare

# slow tier: measured >60 s per module (OPTIMIZATION_r15.md); deselected
# by default, run with -m "slow or not slow"
pytestmark = pytest.mark.slow

CASES = [(name, spec) for name, spec in REGISTRY.items() if spec.oracle]


@pytest.mark.parametrize("name,spec", CASES, ids=[c[0] for c in CASES])
def test_query_matches_oracle(spark, duck, sf_dir, name, spec):
    df = spec.fn(spark, sf_dir)
    # the driver's canonicalizer (pandas sort_values over every column)
    # cannot hash array/map/struct cells — an `err` row is a FAIL per the
    # bar (r3 VERDICT #1: multimodal_decode_features).  Gate-facing queries
    # must project atomic columns; array-typed APIs get an exploded twin.
    from pyspark.sql.types import ArrayType, MapType, StructType

    for f in df.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{name}: column {f.name} is {f.dataType.simpleString()} — "
            "non-atomic output crashes the driver canonicalizer; explode or "
            "project scalar columns for the gate-facing query"
        )
    ok, msg = compare(df, duck, spec.oracle)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name,spec", CASES, ids=[c[0] for c in CASES])
def test_oracle_types_survive_pandas(duck, name, spec):
    """No oracle output column may be HUGEINT/UHUGEINT/DECIMAL: the driver
    canonicalizes DuckDB results through pandas, which coerces those to
    float64 and hash-diverges from Spark's BIGINT even when every value
    matches (the r4 ``text_novelty`` red row).  Same pattern as the
    non-atomic-output assertion above.  LIMIT 0 — type check only."""
    rows = duck.execute(f"DESCRIBE SELECT * FROM ({spec.oracle})").fetchall()
    for col, dtype, *_ in rows:
        t = dtype.upper()
        assert t not in {"HUGEINT", "UHUGEINT"} and not t.startswith("DECIMAL"), (
            f"{name}: oracle column {col} has DuckDB type {dtype} — the "
            "driver's pandas canonicalization coerces it to float64 and the "
            "value hash diverges from Spark; CAST it to BIGINT/DOUBLE in the "
            "oracle SQL"
        )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_every_query_has_oracle_or_reason():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    # all current queries are batch-expressible; streaming-only entries may
    # be oracle-less later
    assert len(qs) >= 30
