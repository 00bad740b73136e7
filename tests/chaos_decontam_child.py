"""Child driver for the SIGKILL-mid-decision-rebuild chaos e2e (run as
a subprocess by tests/test_chaos_r14.py — NOT a pytest module).

The r14 decontamination DECISION table (streaming/decontam_stream.py)
is maintained as a versioned BASE snapshot behind an fsync'd pointer
flip plus handoff-watermarked deltas; ``ingest_evals`` arms a REBUILD
flag and the next ``advance()`` runs the O(corpus) retroactive re-check
into a new base version. This child lets the parent SIGKILL the whole
process group inside EVERY window of that publish protocol
(``SPARK_GRAFT_CHAOS_ENABLE=1`` + ``SPARK_GRAFT_DECONTAM_KILL=<label>``)
and then assert, from a fresh process, that the served decision is
never torn and that a clean retry converges — mirroring the
reference's process-kill chaos posture (e2etest/E2ETestDriver.java,
UncaughtStreamsAntithesisHandler.java).

Modes:

- ``setup``: corpus wave 1 + the first benchmark, advance (base v1 via
  the rebuild path); corpus wave 2, advance (delta path).
- ``rebuild``: reopen the lane, register a SECOND benchmark (arms the
  flag) and advance — the parent's kill label lands inside
  ``_rebuild_base``.
- ``advance``: one clean advance (the recovery path).
- ``dump``: print the served ``decision()`` and derived ``report()``
  rows plus the base version / flag / on-disk base dirs, for the
  parent's assertions.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# distinct-vocabulary texts (the tests/test_derived_reads.py fixture
# convention) so shingle overlap is exactly the planted one
T1 = "apple banana cherry durian elderberry fig grape"
T2 = "alpha beta gamma delta epsilon zeta eta theta"
T4 = "red orange yellow green blue indigo violet"


def main() -> None:
    workdir = sys.argv[1]
    mode = sys.argv[2]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from responsive_pub_spark.streaming.decontam_stream import (
        DecontamStreaming,
    )

    lane = DecontamStreaming(spark, workdir)
    docs = "doc_id BIGINT, text STRING"

    if mode == "setup":
        lane.ingest_corpus(spark.createDataFrame([(1, T1), (2, T2)], docs))
        lane.ingest_evals(spark.createDataFrame([(100, T2)], docs))
        lane.advance()  # rebuild path: base v1 covers wave 1
        lane.ingest_corpus(
            spark.createDataFrame([(3, T2 + " extra"), (4, T4)], docs)
        )
        lane.advance()  # delta path
        print("SETUP-DONE", flush=True)
    elif mode == "rebuild":
        # second benchmark: the retroactive O(corpus) re-check — the
        # parent's kill label lands inside _rebuild_base's publish
        lane.ingest_evals(spark.createDataFrame([(101, T1)], docs))
        lane.advance()
        print("REBUILD-DONE", flush=True)
    elif mode == "advance":
        lane.advance()
        print("ADVANCE-DONE", flush=True)
    else:  # dump
        ver, cov = lane.decision_base.info()
        print(f"VER {ver} {cov}", flush=True)
        print(f"FLAG {int(os.path.exists(lane.rebuild_flag))}", flush=True)
        bases = sorted(
            n
            for n in os.listdir(lane.decision_dir)
            if n.startswith("base-v") and not n.startswith(".")
        )
        print("BASES " + ",".join(bases), flush=True)
        for r in lane.decision().collect():
            print(
                f"DEC {int(r.doc_id)} {int(r.n_shingles)} "
                f"{int(r.n_shared)} {int(r.n_eval_docs)} {r.contam_frac!r}",
                flush=True,
            )
        for r in lane.report().collect():
            print(
                f"REP {int(r.doc_id)} {int(r.n_shingles)} "
                f"{int(r.n_shared)} {int(r.n_eval_docs)} {r.contam_frac!r}",
                flush=True,
            )

    spark.stop()


if __name__ == "__main__":
    main()
