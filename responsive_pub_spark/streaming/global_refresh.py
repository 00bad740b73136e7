"""Per-micro-batch global-table join: the streaming path where the
replicated dim REFRESHES at every batch boundary.

Reference semantics: a global store is not a frozen snapshot — its
processor consumes the global topic and applies updates at runtime
(kafka-client/.../internal/stores/GlobalOperations.java:49-85; exercised
by integration/GlobalStoreIntegrationTest.java:147-153, where records
produced to the global topic mid-run are visible to subsequent joins).

Spark build: a stream-static join pins the static side's file listing at
plan time, so a dim that changes mid-stream would silently serve stale
rows. Instead the join runs inside ``foreachBatch``: each micro-batch
re-resolves the dim from its source (``GlobalKTable.refresh()``), then
broadcast-joins it — refresh granularity == micro-batch == the commit
boundary, matching the reference's "updates visible to later records"
contract. The stream side still never shuffles (broadcast join), and the
per-batch re-read cost is one dim scan per trigger — a dim small enough to
broadcast is small enough to re-scan."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from responsive_pub_spark.streaming.runtime import run_to_sink


def stream_global_join(
    stream: DataFrame,
    table,  # GlobalKTable (with loader for refresh semantics)
    out_path: str,
    checkpoint: str,
    key_extractor: "Column | str | None" = None,
    stream_key: "list[str] | None" = None,
    how: str = "inner",
):
    """Drain the refreshing global join through ``runtime.run_to_sink``;
    joined rows append to ``out_path`` (parquet). Returns the terminated
    StreamingQuery."""

    def _join_batch(bdf: DataFrame, batch_id: int) -> None:
        t = table.refresh()
        if key_extractor is not None:
            ke = (
                F.expr(key_extractor)
                if isinstance(key_extractor, str)
                else key_extractor
            )
            lks = [ke]
        else:
            # resolve against bdf explicitly: stream and dim may share names
            lks = [bdf[k] for k in (stream_key or table.key)]
        cond = None
        for lk, rk in zip(lks, t.key):
            c = lk.eqNullSafe(t.df[rk])
            cond = c if cond is None else (cond & c)
        joined = bdf.join(F.broadcast(t.df), cond, how)
        for rk in t.key:
            joined = joined.drop(t.df[rk])
        joined.write.mode("append").parquet(out_path)

    return run_to_sink(stream, _join_batch, checkpoint)
