#!/usr/bin/env python
"""Where an FK-join streaming advance spends its time, layer by layer.

Stages the ``changelog_waves`` fixture of ``perfbench/`` (its seeded
``ChangelogModel``), loads it with one untimed advance, then runs
``--advances`` timed ``FkJoinStreaming.advance`` calls, each after
``--waves`` bench-shaped waves of order changes (and a customer update
every fourth wave). For each timed advance it reports:

- the advance's wall;
- each query's ``durationMs`` phases and state-operator metrics, from a
  streaming-query listener;
- a per-stage and per-task timeline from Spark's event log: each stage's
  offset into the advance and its wall, and each task's launch offset,
  deserialize, run and result-serialize times.

``--py-profile`` also cProfiles every Python worker task. The workers then
start with ``scripts/py_profile_hook`` on their ``PYTHONPATH``; its
``sitecustomize`` wraps ``pyspark.worker.main`` and dumps one profile per
task into the directory named by ``PROFILE_ADVANCE_OUT``, which this
script sets. The report adds the top functions summed over every task.

Reads ``perfbench/`` (fixture model, query listener) and changes nothing
in it.

Usage: python scripts/profile_advance.py [--seed 1] [--advances 3]
           [--waves 36] [--py-profile] [--json OUT]
"""

from __future__ import annotations

import argparse
import glob
import io
import json
import os
import pstats
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from changelog_waves import (  # noqa: E402
    CUSTOMER_UPDATE_EVERY,
    LEFT_SCHEMA,
    RIGHT_SCHEMA,
    ChangelogModel,
    _wave_table,
    _write,
)
from tracing import QueryLog  # noqa: E402

_TASK_FIELDS = {
    "deserialize_ms": "Executor Deserialize Time",
    "run_ms": "Executor Run Time",
    "result_ser_ms": "Result Serialization Time",
    "gc_ms": "JVM GC Time",
}


def _timeline(event_log: str, windows: list[tuple[float, float]]) -> list[list[dict]]:
    """Per window (epoch s), the stages submitted in it with their tasks,
    offsets in ms from the window start."""
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stages[info["Stage ID"]] = {
                        "stage": info["Stage ID"],
                        "name": info["Stage Name"][:60],
                        "submitted": info["Submission Time"] / 1000,
                        "wall_ms": info["Completion Time"] - info["Submission Time"],
                        "tasks": info["Number of Tasks"],
                    }
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "launch": ti["Launch Time"] / 1000,
                    "wall_ms": ti["Finish Time"] - ti["Launch Time"],
                    **{k: tm.get(v, 0) for k, v in _TASK_FIELDS.items()},
                })
    out = []
    for t0, t1 in windows:
        rows = []
        for sid, st in sorted(stages.items()):
            if not t0 <= st["submitted"] <= t1:
                continue
            ts = sorted(tasks.get(sid, []), key=lambda t: t["launch"])
            rows.append({
                **{k: v for k, v in st.items() if k != "submitted"},
                "at_ms": round((st["submitted"] - t0) * 1000),
                "task_list": [
                    {"at_ms": round((t["launch"] - t0) * 1000),
                     **{k: v for k, v in t.items() if k != "launch"}}
                    for t in ts
                ],
            })
        out.append(rows)
    return out


def _queries(log: QueryLog, t0: float, t1: float) -> list[dict]:
    from tracing import _ts

    out = []
    for p in log.progress:
        if not t0 <= _ts(p["timestamp"]) <= t1:
            continue
        out.append({
            "sink": p["sink"]["description"].rsplit("/", 1)[-1].rstrip("]"),
            "batch": p["batchId"],
            "input_rows": p["numInputRows"],
            "duration_ms": p["durationMs"],
            "state": [
                {k: op.get(k) for k in (
                    "numRowsTotal", "numRowsUpdated", "numRowsRemoved",
                    "commitTimeMs", "memoryUsedBytes",
                )} | {"custom": op.get("customMetrics", {})}
                for op in p.get("stateOperators", [])
            ],
        })
    return out


def _top_functions(prof_dir: str, n: int = 25) -> tuple[int, str]:
    files = sorted(glob.glob(os.path.join(prof_dir, "*.prof")))
    if not files:
        return 0, "no worker profiles were written"
    buf = io.StringIO()
    stats = pstats.Stats(*files, stream=buf)
    stats.sort_stats("cumulative").print_stats(n)
    return len(files), buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--advances", type=int, default=3)
    ap.add_argument("--waves", type=int, default=36)
    ap.add_argument("--py-profile", action="store_true")
    ap.add_argument("--json", help="also write the report here")
    args = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="profile-advance-")
    prof_dir = os.path.join(tmp, "worker-profiles")
    # Python workers inherit PYTHONPATH: they import the engine from here
    paths = [ROOT, os.environ.get("PYTHONPATH")]
    if args.py_profile:
        os.makedirs(prof_dir)
        os.environ["PROFILE_ADVANCE_OUT"] = prof_dir
        paths.insert(0, os.path.join(HERE, "py_profile_hook"))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)

    from responsive_pub_spark.operators.fk_join import FkJoinStreaming
    from responsive_pub_spark.session import build_spark

    log_dir = os.path.join(tmp, "eventlog")
    os.makedirs(log_dir)
    cores = os.cpu_count() or 4
    spark = build_spark(
        app_name="profile-advance", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = os.path.join(tmp, "fkjoin")
    staging = os.path.join(tmp, "staging")
    os.makedirs(staging)
    join = FkJoinStreaming(
        spark, work, LEFT_SCHEMA, RIGHT_SCHEMA, left_key="o_orderkey",
        fk="o_custkey", right_key="c_custkey", left_payload="payload",
        right_payload="c_name", ts_col="ts",
    )
    model = ChangelogModel(args.seed)
    cust, orders = model.initial()
    _write(cust, staging, join.right_dir, "c000000.parquet")
    _write(orders, staging, join.left_dir, "w000000-init.parquet")
    join.advance()  # the initial load
    log = QueryLog()
    spark.streams.addListener(log)

    wave = cfile = 0
    windows, walls = [], []
    for _ in range(args.advances):
        for _ in range(args.waves):
            wave += 1
            k, f, p, ts = model.wave()
            _write(_wave_table(k, f, p, ts, time.time()), staging,
                   join.left_dir, f"w{wave:06d}.parquet")
            if wave % CUSTOMER_UPDATE_EVERY == 0:
                cfile += 1
                _write(model.rename(model.customer_update()), staging,
                       join.right_dir, f"c{cfile:06d}.parquet")
        t0 = time.time()
        join.advance()
        t1 = time.time()
        windows.append((t0, t1))
        walls.append(t1 - t0)
    time.sleep(1.0)  # let the listener deliver the last progress events
    queries = [_queries(log, t0, t1) for t0, t1 in windows]
    spark.stop()  # flushes the event log
    logs = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    timeline = _timeline(os.path.join(log_dir, logs[0]), windows)

    report = []
    for i, wall in enumerate(walls):
        report.append({
            "advance": i, "wall_s": round(wall, 3),
            "queries": queries[i], "stages": timeline[i],
        })
        print(f"advance {i}: {wall:.3f} s")
        for q in queries[i]:
            d = q["duration_ms"]
            print(f"  query {q['sink']} batch {q['batch']} rows {q['input_rows']}: "
                  + ", ".join(f"{k} {v}" for k, v in sorted(d.items())))
            for op in q["state"]:
                print(f"    state: {json.dumps(op)}")
        for st in timeline[i]:
            print(f"  stage {st['stage']} +{st['at_ms']} ms wall {st['wall_ms']} ms "
                  f"{st['tasks']} tasks ({st['name']})")
            for t in st["task_list"]:
                print("    task +{at_ms} ms wall {wall_ms} deser {deserialize_ms} "
                      "run {run_ms} result {result_ser_ms} gc {gc_ms}".format(**t))
    out = {"seed": args.seed, "waves_per_advance": args.waves, "advances": report}
    if args.py_profile:
        n, text = _top_functions(prof_dir)
        print(f"\nPython worker tasks profiled: {n}\n{text}")
        out["python_tasks_profiled"] = n
        out["python_top_cumulative"] = text
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
