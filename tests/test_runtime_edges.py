"""Edge inputs of the streaming runtime and the registry's wave split:
every failure surfaces, a drain resumes from its checkpoint, and an
empty table fails with a clear message."""

from __future__ import annotations

import threading
import warnings

import pytest
from pyspark.errors import StreamingQueryException

from responsive_pub_spark.registry import _median_id
from responsive_pub_spark.streaming.runtime import run_concurrent, run_to_sink


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


def test_run_concurrent_threads_inherit_session_tags(spark):
    """Each drain thread sees the driver thread's session tags, so
    ``interruptTag`` reaches concurrent drains, and PySpark's
    "no session, tags not inherited" warning is not raised."""
    seen: list[set] = []

    def record():
        seen.append(set(spark.getTags()))

    spark.addTag("drain-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run_concurrent(record, record, record)
    finally:
        spark.removeTag("drain-tag")
    assert len(seen) == 3
    assert all("drain-tag" in tags for tags in seen), seen
    assert not [
        w for w in caught if "Tags will not be inherited" in str(w.message)
    ]


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


def _produce(spark, topic, *values) -> None:
    """One new file per value in the file topic."""
    for v in values:
        spark.createDataFrame([(v,)], "v BIGINT").coalesce(1).write.mode(
            "append"
        ).parquet(str(topic))


def _drain(spark, topic, ck, sink):
    stream = (
        spark.readStream.schema("v BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(topic))
    )
    return run_to_sink(stream, sink, str(ck))


def _collecting_sink():
    batches: dict[int, list[int]] = {}

    def sink(bdf, batch_id):
        batches[batch_id] = [r.v for r in bdf.collect()]

    return batches, sink


def test_run_to_sink_callable_drains_every_pending_file(spark, tmp_path):
    _produce(spark, tmp_path / "topic", 1, 2, 3)
    batches, sink = _collecting_sink()
    q = _drain(spark, tmp_path / "topic", tmp_path / "ck", sink)
    assert not q.isActive
    # one micro-batch per file, all inside the one call
    assert sorted(batches.values()) == [[1], [2], [3]]


def test_run_to_sink_resumes_from_the_checkpoint(spark, tmp_path):
    _produce(spark, tmp_path / "topic", 1, 2)
    first, sink = _collecting_sink()
    _drain(spark, tmp_path / "topic", tmp_path / "ck", sink)
    _produce(spark, tmp_path / "topic", 3)
    second, sink = _collecting_sink()
    _drain(spark, tmp_path / "topic", tmp_path / "ck", sink)
    assert list(second.values()) == [[3]]
    assert min(second) > max(first)  # batch ids continue, not restart


def test_run_to_sink_raises_when_the_sink_fails(spark, tmp_path):
    _produce(spark, tmp_path / "topic", 1)

    def sink(bdf, batch_id):
        raise ValueError("sink refused the batch")

    with pytest.raises(StreamingQueryException, match="sink refused the batch"):
        _drain(spark, tmp_path / "topic", tmp_path / "ck", sink)
