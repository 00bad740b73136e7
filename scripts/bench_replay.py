#!/usr/bin/env python
"""Per-key microbenchmark of the processor replay, without Spark.

Captures the per-key function that ``state.process_streaming`` hands to
``applyInPandasWithState`` and calls it directly, the way a Python worker
does for each grouping key: restore the key's state blob, replay the key's
records, flush the store, build the output frame. Three processors:

- ``fk_stage0``: the FK join's transition processor, one record per key;
- ``fk_stage1``: the FK join's subscription-store processor, a subscribe
  and a right-side update per key against a restored store;
- ``running_count``: the running-count processor of the streaming soak,
  one record per key and ``--rows`` records per key.

Usage: python scripts/bench_replay.py [--keys 2000] [--reps 5] [--rows 64]
Prints one line per case with the median ms/key over the repetitions, then
one JSON line with the same figures.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from responsive_pub_spark.operators import fk_join  # noqa: E402
from responsive_pub_spark.streaming import state  # noqa: E402


class _Capture:
    """Stands in for the streaming DataFrame: keeps the per-key function."""

    fn = None

    def groupBy(self, *keys):  # noqa: N802 - the DataFrame method name
        return self

    def applyInPandasWithState(self, fn, *args):  # noqa: N802
        self.fn = fn
        return self


class _GroupState:
    """The slice of pyspark's GroupState the lane uses."""

    def __init__(self, blob: bytes | None = None):
        self.blob = blob

    @property
    def exists(self) -> bool:
        return self.blob is not None

    @property
    def get(self) -> tuple:
        return (self.blob,)

    def update(self, value: tuple) -> None:
        self.blob = value[0]


class _RunningCount(state.Processor):
    def process(self, ctx, rec):
        n = (ctx.store.get("n") or 0) + 1
        ctx.store.put("n", n)
        ctx.forward(user_id=rec["user_id"], n=n)


def _key_fn(factory, output_schema: str, order_by) -> "callable":
    cap = _Capture()
    state.process_streaming(
        cap, key=["k"], processor_factory=factory,
        output_schema=output_schema, ts_col="ts", order_by=order_by,
    )
    return cap.fn


def _stage0_frames(keys: int) -> list:
    return [
        pd.DataFrame({
            "join_key": [f"c{i % 1500}"], "left_key": [f"o{i}"],
            "payload": [f"p{i}"], "ts": [1000.0 + i],
        })
        for i in range(keys)
    ]


def _stage1_frames(keys: int) -> list:
    return [
        pd.DataFrame({
            "kind": ["S", "R"], "join_key": [f"c{i}", f"c{i}"],
            "left_key": [f"o{i}", None], "payload": [f"p{i}", f"name{i}"],
            "ts": [2000.0 + i, 2000.0 + i],
        })
        for i in range(keys)
    ]


def _count_frames(keys: int, rows: int) -> list:
    return [
        pd.DataFrame({
            "user_id": [i] * rows,
            "ts": [float(3000 + (r * 7) % rows) for r in range(rows)],
            "event_id": list(range(rows, 0, -1)),
        })
        for i in range(keys)
    ]


def _seed_blobs(fn, keys: int) -> list:
    """Per-key stage-1 stores holding a right row and three subscribers,
    the shape a warm FK-join lane restores on each advance."""
    blobs = []
    for i in range(keys):
        st = _GroupState()
        pdf = pd.DataFrame({
            "kind": ["R", "S", "S", "S"], "join_key": [f"c{i}"] * 4,
            "left_key": [None, f"a{i}", f"b{i}", f"d{i}"],
            "payload": ["n0", "x", "y", "z"], "ts": [1.0, 2.0, 3.0, 4.0],
        })
        for _ in fn((f"c{i}",), iter([pdf]), st):
            pass
        blobs.append(st.blob)
    return blobs


def _time_per_key(fn, frames: list, blobs: list, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for i, pdf in enumerate(frames):
            for _out in fn((i,), iter([pdf]), _GroupState(blobs[i])):
                pass
        walls.append((time.perf_counter() - t0) / len(frames))
    return 1000 * statistics.median(walls)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--keys", type=int, default=2000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--rows", type=int, default=64)
    args = ap.parse_args()
    n = args.keys

    stage0 = _key_fn(
        fk_join._FkTransitionProcessor, fk_join._STAGE1_SCHEMA,
        ["join_key", "payload"],
    )
    stage1 = _key_fn(
        fk_join._FkJoinProcessor, fk_join._OUT_SCHEMA,
        ["kind", "left_key", "payload"],
    )
    count = _key_fn(_RunningCount, "user_id LONG, n LONG", ("event_id",))
    cases = {
        "fk_stage0": (stage0, _stage0_frames(n), [None] * n),
        "fk_stage1": (stage1, _stage1_frames(n), _seed_blobs(stage1, n)),
        "running_count_1row": (count, _count_frames(n, 1), [None] * n),
        f"running_count_{args.rows}rows": (
            count, _count_frames(n // 8 or 1, args.rows), [None] * (n // 8 or 1)
        ),
    }
    result = {}
    for name, (fn, frames, blobs) in cases.items():
        _time_per_key(fn, frames[:50], blobs, 1)  # warm imports and caches
        result[name] = round(_time_per_key(fn, frames, blobs, args.reps), 4)
        print(f"{name:24s} {result[name]:8.4f} ms/key", flush=True)
    print(json.dumps({"metric": "replay_ms_per_key", "keys": n, **result}))


if __name__ == "__main__":
    main()
