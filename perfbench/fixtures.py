"""Stages the fixture tables the engine's queries read.

``data/sf0.01`` holds a copy of the repository's sf0.01 fixture set (the
deterministic seed-42 tables described in FIXTURES.md and TESTDATA.md), so
the benchmark runs on the same value distributions as the engine's oracle
tests. The workload seed sets the row order of every staged table: a seed
names one physical input, while the oracle results stay those of the
fixture.

Tables are read and written with pyarrow only; no Spark is involved in
staging.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def stage_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table, rows in a seeded order, as
    ``<out_dir>/<name>.parquet`` (the layout ``sources.readers.table_path``
    expects). Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        tab = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        tab = tab.take(rng.permutation(tab.num_rows))
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tab.num_rows
    return rows
