"""Async processing stage: concurrent per-record UDF execution with
per-key ordering — the reference's async framework re-expressed for Spark.

Reference semantics (SURVEY.md §2.8): ``AsyncProcessorSupplier`` wraps a
processor so records execute on a thread pool while SAME-KEY records remain
strictly ordered (api/async/AsyncProcessorSupplier.java:34-115; scheduling
via internal/async/queues/KeyOrderPreservingQueue.java:36-130). The commit
barrier flushes all in-flight events (internal/async/AsyncProcessor.java:
62-67). Use case: slow per-record RPCs (LLM calls) — the e2e app injects a
fake RPC (e2e-test/.../E2ETestApplication.java:127).

Spark mapping and the ordering guarantee, which holds GLOBALLY per key (the
KeyOrderPreservingQueue contract), not just within one Arrow batch:

1. records are hash-repartitioned on the key (default ON — the analog of
   the reference requiring key-partitioned input topics), so one task owns
   every in-flight record of a key;
2. inside the task, ALL Arrow batches are drained and concatenated before
   execution, so Arrow chunking can never split a key across concurrent
   submissions; ``order_by`` pins the per-key replay order (arrival/offset
   analog);
3. keys fan out across a thread pool; rows within a key run sequentially
   on one worker; the task yields only after every future resolves — the
   commit barrier (delayed writes/forwards finalize at the batch boundary,
   AsyncProcessor.java:62-67);
4. across micro-batches, Structured Streaming fully processes batch N
   before N+1, closing the cross-batch window.

At 100 TB: concurrency*executors in-flight RPCs; backpressure comes from
micro-batch size (maxFilesPerTrigger/maxOffsetsPerTrigger), the analog of
responsive.async.max.events.queued.per.key (ResponsiveConfig.java:253-282).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame


def _drain(batches: Iterable[pd.DataFrame]) -> pd.DataFrame | None:
    pdfs = [p for p in batches if not p.empty]
    if not pdfs:
        return None
    return pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]


def async_map_ordered(
    df: DataFrame,
    key: Sequence[str],
    fn: Callable[[dict], dict],
    output_schema: "str",
    max_workers: int = 16,
    repartition_by_key: bool = True,
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Apply ``fn(record_dict) -> out_dict`` concurrently with per-key order.

    - cross-key: up to ``max_workers`` concurrent calls per task
    - same-key: strictly sequential in ``order_by`` order (or input order),
      across Arrow-batch boundaries — see module docstring
    - output rows appear in input-row order (deterministic output)

    ``repartition_by_key=False`` is an explicit opt-out for input already
    hash-partitioned on the key (saves the shuffle; the caller owns the
    co-location guarantee).
    """
    keys = list(key)

    def run(batches: Iterable[pd.DataFrame]):
        pdf = _drain(batches)
        if pdf is None:
            return
        if order_by:
            pdf = pdf.sort_values(list(order_by), kind="mergesort")
        cols = list(pdf.columns)
        # object rows, not itertuples: the same values (as in
        # state._replay) at a fraction of the cost
        records = [dict(zip(cols, r)) for r in pdf.to_numpy(dtype=object).tolist()]
        # group row indices by key, preserving in-key input order
        by_key: dict[tuple, list[int]] = {}
        for i, rec in enumerate(records):
            by_key.setdefault(tuple(rec[k] for k in keys), []).append(i)
        results: list = [None] * len(records)

        def run_key(idxs: list[int]) -> None:
            for i in idxs:  # same-key strictly ordered
                results[i] = fn(records[i])

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures = [pool.submit(run_key, idxs) for idxs in by_key.values()]
            for f in futures:  # commit barrier: yield only when all done
                f.result()
        yield pd.DataFrame(results)

    out_df = df.repartition(*keys) if repartition_by_key else df
    return out_df.mapInPandas(run, output_schema)


def async_process_stateful(
    df: DataFrame,
    key: Sequence[str],
    processor_factory,
    output_schema: "str",
    ts_col: str = "ts",
    order_by: Sequence[str] = (),
    ttl_seconds: float | None = None,
    max_workers: int = 16,
) -> DataFrame:
    """Async wrapper around a STATEFUL ``state.Processor`` — the
    ``AsyncProcessorSupplier`` analog for processors with store writes
    (api/async/AsyncProcessorSupplier.java:34-115).

    Each key gets its own processor + store instance running sequentially
    on one pool worker (same-key order + read-your-writes within the key,
    exactly the async store contract); KEYS execute concurrently. Because
    stores are per-key, delayed-write finalization reduces to the batch
    barrier: the task emits all keys' forwards in deterministic key order
    only after every key's replay completes (FinalizingQueue drain at the
    commit barrier, internal/async/AsyncProcessor.java:62-67).

    Output is identical to ``state.process`` with the same processor
    (asserted in tests/test_async.py) — async changes the SCHEDULE, never
    the semantics. Batch mode; for streaming, state lives in per-key
    GroupState (state.process_streaming), which already parallelizes keys
    across partitions — pair it with async I/O inside the processor when
    RPC latency dominates.
    """
    from responsive_pub_spark.streaming.state import (
        KeyValueStore,
        ProcessorContext,
        _replay,
    )

    keys = list(key)

    def run(batches: Iterable[pd.DataFrame]):
        pdf = _drain(batches)
        if pdf is None:
            return
        groups = pdf.groupby(list(keys), sort=True, dropna=False)

        def run_group(item) -> pd.DataFrame:
            key_vals, gpdf = item
            if not isinstance(key_vals, tuple):
                key_vals = (key_vals,)
            proc = processor_factory()
            store = KeyValueStore(ttl_seconds)
            ctx = ProcessorContext(key_vals, store)
            proc.init(ctx)
            _replay(proc, ctx, gpdf, ts_col, order_by)
            proc.close(ctx)
            return ctx._to_pdf()

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            outs = list(pool.map(run_group, groups))  # barrier + key order
        outs = [o for o in outs if not o.empty]
        if outs:
            yield pd.concat(outs, ignore_index=True)

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    from pyspark.sql import functions as F

    return df.repartition(n, *[F.col(k) for k in keys]).mapInPandas(
        run, output_schema
    )
