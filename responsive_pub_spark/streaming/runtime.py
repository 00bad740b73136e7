"""Streaming runtime helpers: deterministic topology test driver and
checkpointed execution.

``TopologyTestDriver`` is the analog of the reference's
``ResponsiveTopologyTestDriver`` (responsive-test-utils/.../
ResponsiveTopologyTestDriver.java:47-90): pipe records in, advance the
topology deterministically, read outputs — no brokers, no wall clock.

Implementation: a parquet file-source directory is the topic; each
``pipe(rows)`` writes one new file (one "producer batch"); ``advance()``
runs the streaming query with ``trigger(availableNow=True)`` against a
checkpoint, so every advance processes exactly the new files and state
carries over — which also makes kill/restart exactly-once tests trivial
(SURVEY.md §5: chaos = restart from checkpoint asserting exactly-once).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType


class TopologyTestDriver:
    """Deterministic unit-test driver for streaming topologies.

    Parameters
    ----------
    spark: session
    input_schema: schema of piped records
    build: topology — fn(streaming input DF) -> output DF
    workdir: scratch dir (created; removed by close())
    output_mode: writeStream output mode ('append' for stateless/
        watermarked-final, 'update'/'complete' for aggregations)
    """

    def __init__(
        self,
        spark: SparkSession,
        input_schema: "StructType | str",
        build: Callable[[DataFrame], DataFrame],
        workdir: str,
        output_mode: str = "append",
    ):
        self.spark = spark
        self.schema = input_schema
        self.build = build
        self.workdir = workdir
        self.output_mode = output_mode
        self.input_dir = os.path.join(workdir, "input")
        self.checkpoint = os.path.join(workdir, "checkpoint")
        os.makedirs(self.input_dir, exist_ok=True)
        self._advance_n = 0
        self._pipe_n = 0
        self._stamped: set[str] = set()
        self._total_rows: list = []

    def pipe(self, rows: list) -> None:
        """Append one batch of records (one new file == one producer send)."""
        df = self.spark.createDataFrame([Row(**r) for r in rows], self.schema)
        # one file per pipe: coalesce(1) keeps per-pipe ordering deterministic
        df.coalesce(1).write.mode("append").parquet(self.input_dir)
        # the file source orders batches by modification time; two pipes can
        # land in the same ms -> stamp strictly increasing mtimes so pipe
        # order IS processing order (Kafka offset-order analog)
        self._pipe_n += 1
        stamp = 1_000_000_000 + self._pipe_n * 10  # fixed epoch, 10s apart
        for name in os.listdir(self.input_dir):
            path = os.path.join(self.input_dir, name)
            if name.startswith("part-") and path not in self._stamped:
                os.utime(path, (stamp, stamp))
                self._stamped.add(path)

    def advance(self) -> list:
        """Process all piped-but-unprocessed records; return NEW output rows
        (append/update modes) or the full current result (complete mode)."""
        sdf = self.spark.readStream.schema(self.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(self.input_dir)
        out = self.build(sdf)
        self._advance_n += 1
        # foreachBatch: the only driver-collectable sink that supports
        # checkpoint recovery (memory sink does not), which is the point —
        # every advance() restores state like a process restart would
        per_batch: list[tuple[int, list]] = []

        def sink(bdf: DataFrame, batch_id: int) -> None:
            per_batch.append((batch_id, bdf.collect()))

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode(self.output_mode)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if self.output_mode == "complete":
            rows = per_batch[-1][1] if per_batch else list(self._total_rows)
            self._total_rows = rows
            return rows
        rows = [r for _, batch in sorted(per_batch) for r in batch]
        self._total_rows.extend(rows)
        return rows

    def all_output(self) -> list:
        return list(self._total_rows)

    def close(self, remove: bool = True) -> None:
        if remove:
            shutil.rmtree(self.workdir, ignore_errors=True)


def run_concurrent(*thunks: Callable[[], None]) -> None:
    """Run INDEPENDENT maintenance drains in parallel driver threads
    (guide §2.6 — actions are only sequential because driver code calls
    them sequentially). Each thunk typically wraps one availableNow
    streaming query with its own checkpoint; Spark's scheduler runs the
    queries' jobs concurrently, so the fixed per-query-start machinery
    (source listing, planning, python-worker spawn) overlaps instead of
    serializing. ``inheritable_thread_target`` carries the driver
    thread's JVM-local properties (job group/description) into the
    worker threads, per the PySpark docs. After all thunks settle — a
    crashed sibling never leaves a query silently running — it raises an
    ``ExceptionGroup`` holding every failure, in thunk order."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(t)) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as e:  # settle all before raising
                errs.append(e)
        if errs:
            raise ExceptionGroup(
                f"{len(errs)} of {len(thunks)} concurrent drains failed", errs
            )


def run_to_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    available_now: bool = True,
    partition_by: "list[str] | None" = None,
):
    """Run a streaming DF to a durable sink with exactly-once file-sink
    semantics (Spark's transactional file sink log == the reference's
    commit-aligned flush + offset fencing, SURVEY.md §3.2).

    ``partition_by`` lays the sink out as partition directories so
    batch readers can carry static partition filters (PartitionFilters
    over the MetadataLogFileIndex — the span lane's bucket-pruned gram
    reads)."""
    writer = (
        df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start(path)
    if available_now:
        q.awaitTermination()
    return q
