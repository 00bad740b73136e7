"""Changelog bootstrap: materialize an existing changelog into a table —
the analog of the reference's kafka-client-bootstrap module
(bootstrap/ChangelogMigrationTool.java:41-96), which replays a changelog
topic into a remote FACT table with putIfAbsent batches of 10k records
(:74-78) so an application can start against the remote store without
restoring from Kafka.

Spark mapping: the "changelog" is any ordered keyed relation (parquet dir,
Kafka topic); materialization is latest-per-key (table semantics) or
first-per-key (FACT putIfAbsent semantics) compacted in ONE pass —
map-side partial max_by/min_by then a single shuffle on the key, no
replay loop. The output parquet/Delta dir is the "remote store": a
streaming job then starts from it plus a checkpoint, which is exactly
restore-free recovery (SURVEY.md §3.2)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compact_changelog(
    changelog: DataFrame,
    key: Sequence[str],
    ts_col: str = "ts",
    tiebreak: Sequence[str] = (),
    mode: str = "latest",
    drop_tombstones: "str | None" = None,
) -> DataFrame:
    """Compact a changelog to one row per key.

    mode='latest': table semantics (ChangelogMigrationTool.java:88-96 —
    builder.table materialization). mode='first': FACT putIfAbsent
    write-once semantics (:74-78). ``drop_tombstones`` names a value column
    whose null marks a delete — a key whose LATEST version is a tombstone
    is removed (compacted-topic delete)."""
    keys = list(key)
    ordcols = [ts_col, *tiebreak]
    ord_ = F.struct(*[F.col(c) for c in ordcols])
    pick = F.max_by if mode == "latest" else F.min_by
    value_cols = [c for c in changelog.columns if c not in keys]
    snap = changelog.groupBy(*keys).agg(
        *[pick(F.col(c), ord_).alias(c) for c in value_cols]
    )
    if drop_tombstones is not None:
        snap = snap.filter(F.col(drop_tombstones).isNotNull())
    return snap

