"""Edge inputs of the streaming runtime and the registry's wave split:
every failure surfaces, and an empty table fails with a clear message."""

from __future__ import annotations

import threading

import pytest

from responsive_pub_spark.registry import _median_id
from responsive_pub_spark.streaming.runtime import run_concurrent


def test_run_concurrent_raises_every_failed_thunk(spark):
    ran = threading.Event()

    def boom_a():
        raise ValueError("drain a")

    def fine():
        ran.set()

    def boom_b():
        raise RuntimeError("drain b")

    with pytest.raises(ExceptionGroup) as info:
        run_concurrent(boom_a, fine, boom_b)
    errs = info.value.exceptions
    assert [type(e) for e in errs] == [ValueError, RuntimeError]
    assert [str(e) for e in errs] == ["drain a", "drain b"]
    assert "2 of 3" in str(info.value)
    assert ran.is_set()  # the healthy sibling still ran to completion


def test_run_concurrent_single_thunk_raises_its_own_error():
    def boom():
        raise KeyError("solo")

    with pytest.raises(KeyError, match="solo"):
        run_concurrent(boom)


def test_median_id_of_an_empty_table_names_the_column(spark):
    empty = spark.createDataFrame([], "doc_id BIGINT")
    with pytest.raises(ValueError, match="doc_id.*empty"):
        _median_id(empty)


@pytest.mark.parametrize(
    "ids,median", [([5, 1, 3, 2, 4], 3), ([4, 1, 3, 2], 3), ([7], 7)]
)
def test_median_id_keeps_the_rows_half_boundary(spark, ids, median):
    """The id at sorted position n // 2: ``rows[:half]`` is exactly the
    ids below it."""
    df = spark.createDataFrame([(i,) for i in ids], "event_id BIGINT")
    got = _median_id(df, "event_id")
    assert got == median
    assert sorted(ids)[: len(ids) // 2] == [i for i in sorted(ids) if i < got]
