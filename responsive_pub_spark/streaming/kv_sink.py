"""Keyed upsert sink: changelog -> durable KV table with exactly-once batches.

The reference's write path (SURVEY.md §3.2) flushes a CommitBuffer to a remote
KV table on commit, records the committed offset in the table's metadata row in
the same guarded batch, and uses that offset to make redelivery a no-op
(internal/stores/CommitBuffer.java:340-423, CassandraKeyValueTable.java:171-225).

Spark-first analog for `update`-mode streaming output (a KTable changelog):

- each micro-batch's rows are written as ONE immutable delta file
  ``delta-{batch_id}.parquet`` (the flushed write batch), committed by
  the staged-rename commit of the ``commitlog`` module docstring;
- the batch id doubles as the committed offset: a redelivered batch id is
  detected (its delta file already exists) and skipped — same observable
  semantics as the reference's offset check, no epoch CAS needed because the
  Spark driver is the only writer (checkpoint fencing);
- readers compact latest-per-key across delta files ordered by
  ``(batch_id, ts)``; a NULL value column is a tombstone (SURVEY.md §1.1);
- ``compact()`` folds all deltas into one base file (changelog truncation,
  CommitBuffer.java:97,480).

Scale posture: per-batch work is O(batch), not O(table) — the table is a
log-structured run set exactly like the reference's remote store. Read-side
compaction is one hash shuffle on the key; at 100 TB you bucket the base file
by key so compaction and subsequent joins are shuffle-free, and you run
``compact()`` on a cadence (the Delta/Iceberg MERGE pattern, expressed here
with plain parquet so the semantics stay dependency-free and testable).
"""

from __future__ import annotations

import glob
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.streaming.commitlog import (
    drop_stale_stages,
    maintenance_lock,
    staged_rename,
)


class KeyValueTableSink:
    """`foreachBatch` target materializing a keyed changelog as a KV table.

    Parameters
    ----------
    path: table directory (created on first batch)
    key_cols: primary-key columns
    value_cols: payload columns; a row with ALL value columns NULL is a
        tombstone and deletes the key at read time
    ts_col: optional event-time column used to order rows WITHIN one batch
        (across batches, batch id — commit order — wins, like changelog
        offset order)
    """

    def __init__(self, path: str, key_cols: list[str], value_cols: list[str],
                 ts_col: "str | None" = None):
        self.path = path
        self.key_cols = list(key_cols)
        self.value_cols = list(value_cols)
        self.ts_col = ts_col
        os.makedirs(path, exist_ok=True)

    def _delta_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, f"delta-{batch_id:020d}.parquet")

    def _last_applied(self) -> int:
        files = self._deltas()
        if not files:
            return -1
        return int(os.path.basename(files[-1])[len("delta-"):].split(".")[0])

    def __call__(self, bdf: DataFrame, batch_id: int) -> None:
        # redelivered batch == already-committed offset. Batch ids are
        # monotonic per checkpoint, so anything ≤ the last applied id has
        # been applied (possibly folded away by compact()) — skip it.
        if int(batch_id) <= self._last_applied():
            return
        target = self._delta_dir(batch_id)
        cols = self.key_cols + self.value_cols + ([self.ts_col] if self.ts_col else [])
        # the rename IS the commit point; a crash before it leaves only
        # staging, which the retry clears and rewrites deterministically
        with staged_rename(target, target + ".staging") as staged:
            bdf.select(*cols).withColumn(
                "_batch_id", F.lit(int(batch_id))
            ).write.mode("overwrite").parquet(staged)

    # -- read side -------------------------------------------------------

    def _deltas(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "delta-*.parquet")))

    def read(
        self, spark: SparkSession, as_of_batch: int | None = None
    ) -> DataFrame:
        """Current table contents: latest row per key, tombstones dropped.

        ``as_of_batch`` is TIME TRAVEL over the delta log: the table as it
        stood after commit batch N (deltas with ``_batch_id > N`` are
        excluded BEFORE the scan — file-level pruning, not a filter over
        the full log). Requires the deltas to still exist: ``compact()``
        truncates the changelog and folds history into the highest batch
        id, after which earlier as-of points are gone (the same trade the
        reference's changelog-truncation makes; keep deltas or snapshot
        externally if audit history matters)."""
        files = self._deltas()
        if as_of_batch is not None:
            files = [
                f
                for f in files
                if int(os.path.basename(f)[len("delta-"):].split(".")[0])
                <= int(as_of_batch)
            ]
        if not files:
            raise FileNotFoundError(
                f"empty KV table at {self.path}"
                + (f" as of batch {as_of_batch}" if as_of_batch is not None else "")
            )
        return self._latest(spark, files)

    def _latest(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Latest row per key over an EXPLICIT file list, tombstones
        dropped — the read path over a captured snapshot of the log (so
        compaction folds exactly what it later GCs)."""
        log = spark.read.parquet(*files)
        ord_ = (
            F.struct(F.col("_batch_id"), F.col(self.ts_col))
            if self.ts_col
            else F.col("_batch_id")
        )
        latest = log.groupBy(*self.key_cols).agg(
            *[F.max_by(c, ord_).alias(c) for c in self.value_cols]
        )
        alive = F.lit(False)
        for c in self.value_cols:
            alive = alive | F.col(c).isNotNull()
        return latest.filter(alive)

    def compact(self, spark: SparkSession) -> None:
        """Fold every delta into a single base delta (changelog truncation).

        The base file is named after the HIGHEST folded batch id, so the
        ``batch_id <= last_applied`` guard in ``__call__`` still rejects
        redeliveries of folded batches.

        Crash-safe at every instant: the fold is staged OUTSIDE
        the delta glob space, renamed in as ``delta-{max}.g{N}.parquet``
        (a generation suffix — the plain ``delta-{max}`` name is taken
        by the delta being folded) BEFORE any old file is deleted, and
        only then are the folded files GC'd. A crash pre-rename leaves
        the old log intact; mid-GC the fold supersedes every surviving
        old row per key by batch id (tombstoned keys stay dead: the fold
        omits them and the surviving tombstone row still wins over older
        values), so reads are value-identical at any instant — the
        previous delete-then-rename order had a window where ONLY the
        invisible staging dir held the table.

        Single-maintainer BY MECHANISM: holds an exclusive flock beside
        the table dir; a second concurrent compactor fails loudly. The
        checkpoint-fenced writer (``__call__``) never conflicts: a delta
        committed after the capture below has a higher batch id than the
        fold and survives GC untouched."""
        if len(self._deltas()) <= 1:
            return
        lock = self.path.rstrip("/") + ".maint.lock"
        with maintenance_lock(lock, "KV-table compaction"):
            files = self._deltas()  # CAPTURED: every path below derives
            if len(files) <= 1:     # from this snapshot of the log
                return
            log_schema = spark.read.parquet(*files).schema
            max_id = int(
                os.path.basename(files[-1])[len("delta-"):].split(".")[0]
            )
            gen = 1 + max(
                (
                    int(m.group(1))
                    for f in files
                    for m in [re.search(r"\.g(\d+)\.parquet$", f)]
                    if m
                ),
                default=0,
            )
            target = os.path.join(
                self.path, f"delta-{max_id:020d}.g{gen}.parquet"
            )
            out = self._latest(spark, files).withColumn(
                "_batch_id", F.lit(max_id)
            )
            if self.ts_col:
                ts_type = log_schema[self.ts_col].dataType
                out = out.withColumn(
                    self.ts_col, F.lit(None).cast(ts_type)
                )
            # a crashed compaction's stage carries its own fold name, which
            # this one need not reuse: collect every such stage first
            drop_stale_stages(self.path, "*.compacting")
            # commit point on exit: the fold becomes visible
            with staged_rename(target, target + ".compacting") as staged:
                out.write.mode("overwrite").parquet(staged)
            for f in files:
                shutil.rmtree(f, ignore_errors=True)
