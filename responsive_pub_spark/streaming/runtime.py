"""Streaming runtime: the one drain, a deterministic topology test driver,
and concurrent drains.

The drain (``run_to_sink``) is the engine's commit-aligned step — the
reference's flush-then-commit — and every finite streaming query in the
package runs through it:

- **availableNow cold start.** Each call starts the query from its
  checkpoint with ``trigger(availableNow=True)``, processes everything
  pending at start (file topics honour ``maxFilesPerTrigger``, so one
  file can stay one micro-batch) and returns only after the query
  terminates. State is restored from the checkpoint on every call, so
  the restart path is exercised on each advance.
- **Checkpoint.** Offsets and state commit per micro-batch under the
  ``checkpoint`` directory; a crash re-runs at most the uncommitted
  batch.
- **Sink.** A directory gives Spark's file sink, exactly-once through
  its transactional sink log (the reference's commit-aligned flush plus
  offset fencing, SURVEY.md §3.2). A callable gives ``foreachBatch``:
  a replayed batch arrives again with the same batch id, so the callable
  must be idempotent per batch id (the KV sink and the commit logs fence
  on it). ``None`` starts a path-less format sink such as ``noop``.
- **Failure.** A failed batch makes the call raise; a drain never
  returns silently with work undone.

``TopologyTestDriver`` is the analog of the reference's
``ResponsiveTopologyTestDriver`` (responsive-test-utils/.../
ResponsiveTopologyTestDriver.java:47-90): pipe records in, advance the
topology deterministically, read outputs — no brokers, no wall clock.
A parquet file-source directory is the topic; each ``pipe(rows)``
writes one new file (one "producer batch"); ``advance()`` is one drain,
so every advance processes exactly the new files and state carries over
— which also makes kill/restart exactly-once tests trivial (SURVEY.md
§5: chaos = restart from checkpoint asserting exactly-once).
"""

from __future__ import annotations

import os
import shutil
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
        # foreachBatch: the only driver-collectable sink that supports
        # checkpoint recovery (memory sink does not), which is the point —
        # every advance() restores state like a process restart would
        per_batch: list[tuple[int, list]] = []

        def sink(bdf: DataFrame, batch_id: int) -> None:
            per_batch.append((batch_id, bdf.collect()))

        run_to_sink(out, sink, self.checkpoint, output_mode=self.output_mode)
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
    serializing. ``inheritable_thread_target``, given the caller's active
    session, carries the driver thread's JVM-local properties (job
    group/description) and its session tags (``SparkSession.addTag``, so
    ``interruptTag`` reaches every drain) into the worker threads; with
    no active session only the properties travel. After all thunks
    settle — a crashed sibling never leaves a query silently running — it
    raises an ``ExceptionGroup`` holding every failure, in thunk order."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    session = SparkSession.getActiveSession()
    wrap = (
        inheritable_thread_target
        if session is None
        else inheritable_thread_target(session)
    )
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
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
    sink: "str | Callable[[DataFrame, int], None] | None",
    checkpoint: str,
    fmt: str = "parquet",
    output_mode: str = "append",
    partition_by: "list[str] | None" = None,
):
    """Drain a streaming DF once (protocol in the module docstring) and
    return the terminated query. ``sink`` is an output directory (``fmt``
    file sink), a ``foreachBatch`` function, or ``None`` for a path-less
    format such as ``noop``.

    ``partition_by`` lays the sink out as partition directories so
    batch readers can carry static partition filters (PartitionFilters
    over the MetadataLogFileIndex — the span lane's bucket-pruned gram
    reads)."""
    writer = df.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.trigger(availableNow=True).start(
        sink if isinstance(sink, str) else None
    )
    q.awaitTermination()
    return q
