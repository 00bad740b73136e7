"""Streaming NEAR-duplicate dedup on banded-MinHash bucket state.

The reference names deduplication as the FACT store's first use case
(api/stores/ResponsiveStores.java:79-96, putIfAbsent first-write-wins at
bootstrap/ChangelogMigrationTool.java:74-78). ``KStream.deduplicate``
(api.py) covers the exact-key form; this lane extends it to near-dup:
an arriving doc is dropped iff it is a verified near-duplicate (LSH band
collision + exact Jaccard >= threshold) of ANY earlier doc — the greedy
first-arrival semantics whose batch twin is ``operators.dedup.greedy_keep``
(replay in doc_id order is asserted bit-equal in
tests/test_dedup_stream.py, including across checkpointed restarts).

Three checkpointed queries per ``advance()`` — the FkJoinStreaming /
RegroupStreaming internal-topic wiring:

  query S: docs topic -> per-row signature projection (doc_id, hs,
           mh0..mhN, ts; ``dedup._sig_df`` — the SAME JVM expressions as
           the batch operator) -> signatures topic. This IS the
           "checkpointed signature table" of the batch operator's 100 TB
           posture: written once, joined many times.
  query C: signatures -> posexplode(``dedup._band_array()``) -> per-
           (band_id, band_hash) BUCKET STATE holding member (doc_id, ts)
           entries ONLY — ids, not shingle sets, so state is ~16 bytes per
           member per band regardless of document size — emitting a
           candidate (doc_a, doc_b) pair per (earlier member, new doc);
           ``probe_depth`` caps the members probed per arrival (1 = the
           first-arrival-representative scheme, linear candidate volume
           on dup-heavy streams; None = exact greedy parity).
  query V: candidates (stream) JOIN the STATIC signatures topic ->
           exact-Jaccard verify via the shared ``dedup._verify_pairs``
           expression -> drops changelog (doc_a, doc_b, jaccard, ts).

Verdicts compact batch-side (``verdicts()``): a doc is a duplicate iff it
appears as doc_b of any verified drop. Dropped docs still enter bucket
state — a near-dup of a dropped doc is transitively a near-dup of
something kept, mirroring how batch LSH candidate generation sees ALL
docs, not only survivors.

Retention (watermark/TTL eviction): members with
``ts < bucket_max_ts - retention`` are pruned whenever their bucket is
touched, and a bucket whose members ALL aged out removes its state entry
entirely — so a long-running stream's state is bounded by the dup
horizon, not the corpus. A bucket that is never touched again keeps its
last entry; on a continuous runner, pair this with
``GroupStateTimeout.EventTimeTimeout`` + a watermark to reap those too
(processing-time timeouts stall the one-shot drain of
``runtime.run_to_sink`` — the MultiBatchExecutor waits out pending
timers — so this harness prunes on access only).

Scale posture: the bucket shuffle is on (band_id, band_hash) — the same
key the batch band join shuffles on; candidate traffic is (id, id) pairs;
the verify join ships shingle sets for CANDIDATES only. No stage ever
holds more than one band row per doc per band in flight.
"""

from __future__ import annotations

import os
import pickle

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from responsive_pub_spark.operators import dedup
from responsive_pub_spark.streaming.commitlog import chaos_stall
from responsive_pub_spark.streaming.runtime import run_to_sink

DOCS_SCHEMA = "doc_id BIGINT, text STRING, ts DOUBLE"
SIG_SCHEMA = (
    "doc_id BIGINT, hs ARRAY<BIGINT>, "
    + ", ".join(f"mh{j} BIGINT" for j in range(dedup.NUM_HASHES))
    + ", ts DOUBLE"
)
CAND_SCHEMA = "doc_a BIGINT, doc_b BIGINT, ts DOUBLE"
DROPS_SCHEMA = "doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE, ts DOUBLE"


def _bucket_stage(
    bands: DataFrame,
    retention: float | None,
    probe_depth: int | None = None,
    continuous: bool = False,
) -> DataFrame:
    """Per-(band_id, band_hash) first-arrival bucket state -> candidate
    pairs. State: pickled (members, max_ts) where members is a list of
    (doc_id, ts) in arrival order.

    ``probe_depth`` bounds how many EARLIEST members a new doc pairs
    with. ``None`` pairs against every member — exact greedy-twin parity,
    but a bucket holding an m-member dup cluster emits O(m^2) candidates
    over its lifetime. ``probe_depth=1`` is the reference-shaped
    "first-arrival representative per bucket" scheme
    (ResponsiveStores.java:79-96 positioning): candidate volume is linear
    in arrivals, and the only parity loss is a doc whose bucket
    representative hash-collided WITHOUT being similar while a deeper
    member would have verified — on dup-cluster-shaped corpora (the
    fixture included) the two configurations produce identical verdicts
    (tests/test_dedup_stream.py).

    ``continuous=True`` (requires ``retention`` and a WATERMARKED input)
    arms EVENT-TIME timeout eviction — the path the module docstring
    reserves for long-running deployments: every bucket update sets a
    timer at ``bucket_max_ts + retention``; when the stream's watermark
    passes it, the bucket's state entry is REAPED even though the bucket
    was never touched again — closing the prune-on-access leak where a
    bucket that stops colliding keeps its last members forever.
    ``run_to_sink`` drains remain correct: event-time timers fire on the
    data batches that advance the watermark (only processing-time timers
    stall the MultiBatchExecutor)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return bands.groupBy("band_id", "band_hash").applyInPandasWithState(
        _make_bucket_fn(retention, probe_depth, continuous),
        CAND_SCHEMA,
        "blob BINARY",
        "append",
        GroupStateTimeout.EventTimeTimeout
        if continuous
        else GroupStateTimeout.NoTimeout,
    )


def _make_bucket_fn(
    retention: float | None,
    probe_depth: int | None,
    continuous: bool = False,
):
    """Build the bucket-state processor (module-level so tests can drive
    it directly with a fake state handle)."""
    import pandas as pd

    def _empty():
        return pd.DataFrame(
            {
                "doc_a": pd.Series([], dtype="int64"),
                "doc_b": pd.Series([], dtype="int64"),
                "ts": pd.Series([], dtype="float64"),
            }
        )

    def run(key_vals, pdf_iter, state_h):
        chaos_stall()
        if continuous and state_h.hasTimedOut:
            # the watermark passed (bucket_max_ts + retention) with no new
            # arrival: reap the whole bucket — the continuous-runner twin
            # of the prune-on-access whole-bucket eviction below
            state_h.remove()
            yield _empty()
            return
        members: list = []
        max_ts = float("-inf")
        if state_h.exists and state_h.get[0]:
            members, max_ts = pickle.loads(state_h.get[0])
        out_a, out_b, out_ts = [], [], []
        # a group larger than the Arrow batch size arrives as SEVERAL
        # chunks: arrival order must be established over the WHOLE group
        # (a per-chunk sort would process chunk boundaries in feed order,
        # flipping greedy pair orientation for spanning buckets)
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(
                chunks, ignore_index=True
            )
            pdf = pdf.sort_values(["ts", "doc_id"], kind="mergesort")
            for doc_id, ts in zip(
                pdf["doc_id"].astype("int64"), pdf["ts"].astype("float64")
            ):
                doc_id, ts = int(doc_id), float(ts)
                max_ts = max(max_ts, ts)
                if retention is not None:
                    horizon = max_ts - retention
                    members = [m for m in members if m[1] >= horizon]
                probes = (
                    members if probe_depth is None else members[:probe_depth]
                )
                for m_id, _m_ts in probes:
                    out_a.append(m_id)
                    out_b.append(doc_id)
                    out_ts.append(ts)
                members.append((doc_id, ts))
        if retention is not None:
            # final prune at the batch's closing horizon: a late straggler
            # older than (bucket max_ts - retention) ages out IMMEDIATELY —
            # including itself — which is what makes whole-bucket eviction
            # reachable (the in-loop prune runs before each append, so it
            # alone can never empty the member list)
            horizon = max_ts - retention
            members = [m for m in members if m[1] >= horizon]
        if not members:
            # every member aged out: evict the whole bucket instead of
            # keeping an empty tombstone
            state_h.remove()
        else:
            state_h.update(
                (pickle.dumps((members, max_ts), protocol=pickle.HIGHEST_PROTOCOL),)
            )
            if continuous and retention is not None:
                # arm the reaper: fire when the watermark passes the last
                # touch + retention. Spark requires the timer to sit
                # strictly beyond the CURRENT watermark — a bucket whose
                # horizon already passed gets the next representable
                # instant and is reaped on the following batch.
                timeout_ms = int((max_ts + retention) * 1000)
                wm_ms = state_h.getCurrentWatermarkMs()
                state_h.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))
        yield pd.DataFrame(
            {
                "doc_a": pd.Series(out_a, dtype="int64"),
                "doc_b": pd.Series(out_b, dtype="int64"),
                "ts": pd.Series(out_ts, dtype="float64"),
            }
        )

    return run


class NearDupStreaming:
    """Checkpointed streaming near-dup dedup lane (see module docstring).

    ``advance()`` drains all three queries through
    ``runtime.run_to_sink`` (a cold start from the checkpoints on every
    call). ``retention`` (event-time seconds) bounds how
    far back a doc can be deduplicated against; ``None`` keeps the full
    horizon (the parity-with-batch configuration).

    ``continuous=True`` (requires ``retention``) additionally arms the
    event-time-timeout reaper: the bucket stage watermarks the signature
    stream by ``retention`` seconds and removes any bucket the watermark
    passes ``retention`` past its last touch — state stays bounded by the
    ACTIVE dup horizon on a long-running runner, instead of leaking
    never-again-touched buckets (which prune-on-access alone cannot
    reach). The watermark also formalizes the late-data contract: a doc
    arriving more than ``retention`` behind the stream is dropped by the
    bucket stage rather than deduplicated against already-reaped state.

    Epoch-boundary footgun (measured, r13): in continuous mode a record
    with ``ts == 0.0`` sits exactly ON the initial watermark (epoch 0
    ms) and Spark's stateful late-row filter drops it from the bucket
    stage — the doc never becomes a bucket member, so later copies of
    it are not flagged. Real event times are far from the epoch; test
    fixtures that enumerate ``ts`` from 0.0 must offset it.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        threshold: float = dedup.MINHASH_JACCARD_THRESHOLD,
        retention: float | None = None,
        probe_depth: int | None = None,
        continuous: bool = False,
    ):
        if continuous and retention is None:
            raise ValueError(
                "NearDupStreaming: continuous=True needs retention= "
                "(the event-time eviction horizon)"
            )
        self.spark = spark
        self.threshold = threshold
        self.retention = retention
        self.probe_depth = probe_depth
        self.continuous = continuous
        self.docs_dir = os.path.join(workdir, "docs")
        self.sig_dir = os.path.join(workdir, "signatures")
        self.cand_dir = os.path.join(workdir, "candidates")
        self.drops_dir = os.path.join(workdir, "drops")
        self.ck_sig = os.path.join(workdir, "ck-sig")
        self.ck_cand = os.path.join(workdir, "ck-cand")
        self.ck_drop = os.path.join(workdir, "ck-drop")
        for d in (self.docs_dir, self.sig_dir, self.cand_dir, self.drops_dir):
            os.makedirs(d, exist_ok=True)
        # the drops changelog under the deterministic stamp discipline
        # (r13 verdict task 1a): verdicts are immutable once emitted
        # (first copy wins), so stamping each drain's files lets a
        # consumer anti-join ONLY verdicts-since-its-watermark instead
        # of recompacting the full docs topic every advance
        from responsive_pub_spark.streaming.handoff import StampedTopic

        self.drops_topic = StampedTopic(
            os.path.join(workdir, "drops-meta"), self.drops_dir
        )

    def advance(self) -> None:
        # query S: docs -> signature topic (write-once signature table)
        docs = self.spark.readStream.schema(DOCS_SCHEMA).parquet(self.docs_dir)
        run_to_sink(dedup._sig_df(docs, extra=("ts",)), self.sig_dir, self.ck_sig)

        # query C: signatures -> band explode -> bucket state -> candidates
        sig = self.spark.readStream.schema(SIG_SCHEMA).parquet(self.sig_dir)
        bands = sig.select(
            "doc_id",
            "ts",
            F.posexplode(dedup._band_array()).alias("band_id", "band_hash"),
        )
        if self.continuous:
            # event-time timers need a watermark; delay = retention, the
            # same horizon the dedup semantics already promise (a doc
            # later than that would only have matched already-reaped
            # members anyway). Millisecond units: int(retention) SECONDS
            # would truncate a sub-second retention to '0 seconds' (every
            # bucket instantly reapable) and make any fractional retention
            # tighter than the float horizon the prune-on-access path and
            # the timer arithmetic (max_ts + retention) use (r10 ADVICE)
            bands = bands.withColumn(
                "event_ts", F.timestamp_seconds("ts")
            ).withWatermark(
                "event_ts", f"{int(self.retention * 1000)} milliseconds"
            )
        run_to_sink(
            _bucket_stage(
                bands, self.retention, self.probe_depth, self.continuous
            ),
            self.cand_dir,
            self.ck_cand,
        )

        # query V: candidates (stream) x static signature topic -> verified
        # drops, via the SAME exact-Jaccard expression as the batch operator
        cand = self.spark.readStream.schema(CAND_SCHEMA).parquet(self.cand_dir)
        sets = (
            self.spark.read.schema(SIG_SCHEMA)
            .parquet(self.sig_dir)
            .select("doc_id", "hs")
        )
        drops = dedup._verify_pairs(cand, sets, self.threshold).select(
            "doc_a", "doc_b", "jaccard", "ts"
        )
        # drained under the stamp discipline: each drain's files join
        # the strictly-increasing sequence, so drop_ids_since() can
        # serve verdicts-since-a-watermark from new files only
        self.drops_topic.append(
            lambda: run_to_sink(drops, self.drops_dir, self.ck_drop)
        )

    def drops(self) -> DataFrame:
        """The verified-drop changelog: doc_b is a near-dup of earlier
        doc_a. A pair colliding in several bands appears once per band —
        it is a changelog; verdicts() compacts."""
        return self.spark.read.schema(DROPS_SCHEMA).parquet(self.drops_dir)

    def drop_ids_since(
        self, upto: int
    ) -> "tuple[DataFrame, int, list[str]]":
        """Distinct dropped doc_ids from the drop files stamped AFTER
        ``upto`` — the O(new-work) read the composed pipelines' ship
        legs anti-join against (r13 verdict task 1a), instead of
        compacting :meth:`verdicts` from the full docs topic per
        advance. Returns ``(drop_ids, new_watermark, files_read)``;
        the caller publishes ``new_watermark`` as the leg's drops
        pointer AFTER its ship commits.

        Correctness of the watermark discipline: a doc's verdict is
        emitted (and stamped) in the drain of the doc's OWN wave, which
        runs before any ship of that wave, so every verdict relevant to
        a not-yet-shipped doc sits in files stamped after the pointer
        published at the previous ship. OVER-reading (a stale pointer
        after a crash between ship and publish) is harmless: doc_ids
        are never re-ingested, so an already-shipped wave's doc_b ids
        cannot match a newer wave's docs in the anti-join. UNDER-reading
        cannot happen because the pointer only advances after a ship
        that covered every ingested doc."""
        files = self.drops_topic.stamped_files()
        dmax = max([s for s, _ in files] + [int(upto)])
        new = [p for s, p in files if s > int(upto)]
        if not new:
            empty = self.spark.createDataFrame([], "doc_id BIGINT")
            return empty, dmax, []
        ids = (
            self.spark.read.schema(DROPS_SCHEMA)
            .parquet(*new)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        return ids, dmax, new

    def verdicts(self) -> DataFrame:
        """Compacted (doc_id, is_duplicate) over every ingested doc —
        the streaming equivalent of ``operators.dedup.greedy_keep``."""
        ingested = (
            self.spark.read.schema(DOCS_SCHEMA)
            .parquet(self.docs_dir)
            .select("doc_id")
        )
        dropped = (
            self.drops()
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("is_duplicate", F.lit(True))
        )
        return ingested.join(dropped, "doc_id", "left").select(
            "doc_id",
            F.coalesce("is_duplicate", F.lit(False)).alias("is_duplicate"),
        )
