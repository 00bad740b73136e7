"""Benchmark of the responsive_pub_spark engine, end to end and per layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload changelog_waves --seed 1 --seconds 9 --trace 0

Workloads are described in ``perfbench/README.md``. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs with spans, the streaming-query
listener and Spark's event log, and prints the per-layer metrics. The last
line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

The line before it records the run's context (cores, Spark's default
parallelism, fixture, seed, source revision, and a host-speed probe taken
before and after the run). All scratch files live under
``.perfbench_tmp/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "responsive_pub_spark")
WORKLOADS = ("changelog_waves", "batch_topologies")
DRIVER_MEM = "2g"


def _revision() -> str:
    """Git HEAD when the checkout is a repository, else a hash of the
    engine's sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for d, _dirs, files in sorted(os.walk(PACKAGE)):
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def host_probe_ms() -> float:
    """Median wall of a fixed single-threaded Python loop, in ms. It does
    not touch the engine, so it tracks how fast the host runs at the time:
    on a shared host it moves with the wall times of the workloads."""
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i
        walls.append(1000 * (time.perf_counter() - t0))
    return statistics.median(walls)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    # Python workers inherit the environment when the JVM starts: they must
    # import the engine from this checkout and keep their temp files here
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # a bounded driver heap keeps the JVM's footprint, and so peak memory,
    # from depending on when the garbage collector chose to grow the heap
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    from common import Run
    from tracing import MemorySampler, stop_processes

    probe_ms = [host_probe_ms()]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    run.context |= {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "revision": _revision()}
    cwd = os.getcwd()
    os.chdir(tmp)  # anything Spark drops in its working directory stays in scratch
    try:
        with MemorySampler() as mem:
            if args.workload == "changelog_waves":
                import changelog_waves as wl
            else:
                import batch_topologies as wl
            wl.run_workload(run)
            peak = mem.peak_mb
        run.e2e["peak_pss_mb"] = peak
        run.layer["harness.ops_failed_frac"] = run.failed / max(1, run.attempted)
        run.spark.stop()
        if run.trace:
            run.read_event_log(*run.event_window)
            run.tracer.dump(os.path.join(scratch, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        stop_processes(run.spark)
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
    probe_ms.append(host_probe_ms())
    run.context["host_probe_ms"] = [round(x, 3) for x in probe_ms]
    print(json.dumps({"context": run.context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.metrics(),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
