"""Processor-API (PAPI) analog: per-key stateful processors with the
reference's store operation surface and stream-time punctuators.

Reference surface being reproduced (SURVEY.md §2.6):
- KV store ops (internal/stores/PartitionedOperations.java): put:326,
  delete:341 (returns old value), get:356, range:393, reverseRange:413,
  prefix:419, all:427, reverseAll:435, approximateNumEntries:441. The
  reference leaves reverseRange/reverseAll unimplemented (they throw); our
  sorted-dict store supports them — a strict superset.
- putIfAbsent FACT semantics (bootstrap/ChangelogMigrationTool.java:74-78).
- Punctuators: stream-time timers (KeyBatchExample.java:137-141 —
  ``context.schedule(30s, STREAM_TIME, ...)``).
- Row-level TTL on reads (internal/stores/TtlResolver.java; reads filter
  ``timestamp >= streamTime - ttl``, CassandraKeyValueTable get /
  MongoKVTable.java:164).

Execution model (Spark-first, SURVEY.md §7 M5): the SAME user ``Processor``
runs in two modes:

- **batch**: ``df.groupBy(key).applyInPandas(...)`` — each key's records are
  replayed in (ts, tiebreak) order through the processor with an in-memory
  ``KeyValueStore``; stream-time punctuators fire as event time advances.
  Deterministic, so every processor topology can be DuckDB-oracled.
- **streaming**: ``applyInPandasWithState`` — the store contents live in
  Spark's per-key GroupState (pickled), restored from the checkpoint on
  restart; per micro-batch the same replay code runs over the batch's
  records for that key.

Arrow moves the batches (vectorized Python boundary); per-record Python work
happens only inside this deliberately-imperative layer — everything
declarative stays in Catalyst (SURVEY.md §4).

Stream-time scoping: the reference tracks stream time per Kafka PARTITION.
The per-key lanes here (``process``/``process_streaming*``) track it per
KEY — a documented delta where oracle queries are per-key and the two
definitions coincide. ``process_partitioned`` (batch) and
``process_streaming_partitioned`` (checkpointed streaming) reproduce the
task model exactly (r4): one processor per partition, the store shared
across every key in the partition (cross-key range/all scans work), and
stream time advancing per partition.
"""

from __future__ import annotations

import bisect
import pickle
from collections.abc import Callable, Iterable, Iterator, Sequence
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StructField, StructType

STREAM_TIME = "stream_time"
WALL_CLOCK = "wall_clock"


class KeyValueStore:
    """Sorted per-processor-key KV store (PartitionedOperations surface).

    Store keys are any totally-ordered python values (str/int/tuple — mixed
    types within one store are not supported, mirroring byte-ordered keys).
    Values are arbitrary picklable objects. ``ts`` on write enables TTL
    filtering on read (TtlResolver semantics).
    """

    def __init__(self, ttl_seconds: float | None = None):
        self._data: dict = {}
        self._ts: dict = {}
        self._sorted: list = []
        self.ttl_seconds = ttl_seconds
        self.stream_time: float = float("-inf")

    # -- write path (PartitionedOperations.put:326 / delete:341) ------------
    def put(self, key, value, ts: float | None = None) -> None:
        if key not in self._data:
            bisect.insort(self._sorted, key)
        self._data[key] = value
        self._ts[key] = ts if ts is not None else self.stream_time

    def put_if_absent(self, key, value, ts: float | None = None):
        """FACT-store first-write-wins (ChangelogMigrationTool.java:74-78).
        Returns the existing value if present, else None after writing."""
        old = self.get(key)
        if old is None:
            self.put(key, value, ts)
        return old

    def delete(self, key):
        """Returns the old value (PartitionedOperations.delete:341)."""
        old = self.get(key)
        if key in self._data:
            del self._data[key]
            del self._ts[key]
            idx = bisect.bisect_left(self._sorted, key)
            self._sorted.pop(idx)
        return old

    # -- read path (read-through + TTL filter) ------------------------------
    def _live(self, key) -> bool:
        if self.ttl_seconds is None:
            return True
        return self._ts[key] >= self.stream_time - self.ttl_seconds

    def get(self, key):
        if key in self._data and self._live(key):
            return self._data[key]
        return None

    def range(self, key_from, key_to) -> Iterator[tuple]:
        """Inclusive [from, to] ordered scan (PartitionedOperations.range:393)."""
        lo = bisect.bisect_left(self._sorted, key_from)
        hi = bisect.bisect_right(self._sorted, key_to)
        for k in self._sorted[lo:hi]:
            if self._live(k):
                yield k, self._data[k]

    def reverse_range(self, key_from, key_to) -> Iterator[tuple]:
        """Descending scan — unimplemented in the reference
        (PartitionedOperations.reverseRange:413 throws); supported here."""
        yield from reversed(list(self.range(key_from, key_to)))

    def prefix(self, prefix: str) -> Iterator[tuple]:
        """Prefix scan over string keys (PartitionedOperations.prefix:419)."""
        lo = bisect.bisect_left(self._sorted, prefix)
        for k in self._sorted[lo:]:
            if not str(k).startswith(prefix):
                break
            if self._live(k):
                yield k, self._data[k]

    def prefix_tuple(self, prefix: tuple) -> Iterator[tuple]:
        """Prefix scan over tuple keys: all keys whose leading components
        equal ``prefix`` (the composite-key analog of byte-prefix scans —
        WindowedKey/SessionKey layouts, internal/utils/WindowedKey.java)."""
        lo = bisect.bisect_left(self._sorted, prefix)
        n = len(prefix)
        for k in self._sorted[lo:]:
            if not (isinstance(k, tuple) and k[:n] == prefix):
                break
            if self._live(k):
                yield k, self._data[k]

    def all(self) -> Iterator[tuple]:
        for k in self._sorted:
            if self._live(k):
                yield k, self._data[k]

    def reverse_all(self) -> Iterator[tuple]:
        yield from reversed(list(self.all()))

    def approximate_num_entries(self) -> int:
        """Cardinality estimate (PartitionedOperations:441). Exact here."""
        return len(self._data)

    # -- (de)serialization for GroupState -----------------------------------
    def dump(self) -> bytes:
        return pickle.dumps(
            (self._data, self._ts, self.stream_time, self.ttl_seconds),
            protocol=pickle.HIGHEST_PROTOCOL,
        )

    @classmethod
    def load(cls, blob: bytes | None, ttl_seconds: float | None = None) -> "KeyValueStore":
        st = cls(ttl_seconds)
        if blob:
            st._data, st._ts, st.stream_time, st.ttl_seconds = pickle.loads(blob)
            st._sorted = sorted(st._data)
        return st


class VersionedKeyValueStore:
    """Timestamp-versioned KV store — the KS 3.5 ``VersionedKeyValueStore``
    surface (put(k,v,ts) / get(k) / get(k, asOfTimestamp) / delete(k,ts)
    with history retention). Each key holds its version history as a
    ts-sorted list; a same-timestamp put REPLACES that version (KS
    last-writer-wins per timestamp); ``None`` values are tombstones.

    Timestamps are caller-chosen ordered numbers — the gate row uses
    integer microseconds so as-of comparisons are bit-exact across engines.

    History retention: versions whose validTo falls behind
    (observed stream time - retention) are dropped on write; an as-of read
    older than the retention horizon returns None even if a version
    survives (the KS contract: expired history is undefined, we pin it to
    "gone")."""

    def __init__(self, history_retention: float | None = None):
        self._versions: dict = {}  # key -> list[(ts, value)] ts-ascending
        self.history_retention = history_retention
        self.stream_time: float = float("-inf")

    def put(self, key, value, ts) -> None:
        versions = self._versions.setdefault(key, [])
        i = bisect.bisect_left([t for t, _ in versions], ts)
        if i < len(versions) and versions[i][0] == ts:
            versions[i] = (ts, value)
        else:
            versions.insert(i, (ts, value))
        if ts > self.stream_time:
            self.stream_time = ts
        self._expire(key)

    def delete(self, key, ts):
        """Tombstone at ``ts``; returns the value active just before it."""
        prev = self.get_asof(key, ts)
        self.put(key, None, ts)
        return None if prev is None else prev[0]

    def get(self, key):
        """Latest record version's value (None if absent or tombstone)."""
        versions = self._versions.get(key)
        return versions[-1][1] if versions else None

    def get_asof(self, key, as_of_ts):
        """Record active at ``as_of_ts`` as (value, valid_from, valid_to)
        — valid_to None for the open current version. None when: no
        version at-or-before the timestamp, the active version is a
        tombstone, or the timestamp is past the retention horizon."""
        if (
            self.history_retention is not None
            and as_of_ts < self.stream_time - self.history_retention
        ):
            return None
        versions = self._versions.get(key)
        if not versions:
            return None
        i = bisect.bisect_right([t for t, _ in versions], as_of_ts) - 1
        if i < 0:
            return None
        ts, value = versions[i]
        if value is None:
            return None
        valid_to = versions[i + 1][0] if i + 1 < len(versions) else None
        return (value, ts, valid_to)

    def _expire(self, key) -> None:
        if self.history_retention is None:
            return
        horizon = self.stream_time - self.history_retention
        versions = self._versions[key]
        # a version is droppable once SHADOWED before the horizon: its
        # validTo (the next version's ts) is at-or-behind the horizon.
        # The latest version always survives.
        keep = 0
        while keep + 1 < len(versions) and versions[keep + 1][0] <= horizon:
            keep += 1
        if keep:
            del versions[:keep]

    def approximate_num_entries(self) -> int:
        return len(self._versions)

    #: blob magic so IQ / multi-store readers can tell a versioned store
    #: from a SegmentedKeyValueStore without trying to decode it as one
    BLOB_MAGIC = b"VKV1"

    def dump(self) -> bytes:
        return self.BLOB_MAGIC + pickle.dumps(
            (self._versions, self.stream_time, self.history_retention),
            protocol=pickle.HIGHEST_PROTOCOL,
        )

    #: multi-store checkpoint-blob interface (ProcessorContext extras)
    to_blob = dump

    @classmethod
    def load(
        cls, blob: bytes | None, history_retention: float | None = None
    ) -> "VersionedKeyValueStore":
        st = cls(history_retention)
        if blob:
            if blob[: len(cls.BLOB_MAGIC)] == cls.BLOB_MAGIC:
                blob = blob[len(cls.BLOB_MAGIC):]
            st._versions, st.stream_time, pickled_ret = pickle.loads(blob)
            # an EXPLICITLY passed retention wins over the pickled config:
            # ctx.get_versioned_store(name, new_retention) on a restored
            # checkpoint must reconfigure, not silently keep the old value
            if history_retention is None:
                st.history_retention = pickled_ret
        return st


class WindowStore:
    """Windowed-store view over a :class:`KeyValueStore` — the
    RemoteWindowOperations surface (SURVEY.md §2.6:
    internal/stores/RemoteWindowOperations.java put:290 delete:295
    fetch(key,ts):300 fetch(key,from,to):315 fetchAll:343 all:351; the
    reference's backwardFetch variants throw — supported here).

    Keys are ``(key, window_start)`` tuples, the WindowedKey layout
    (internal/utils/WindowedKey.java:18-24); ordered scans come from the
    store's sorted keyspace. ``expire(retention)`` drops windows older than
    stream_time - retention — the Segmenter whole-segment-drop analog
    (internal/db/partitioning/Segmenter.java:24-75)."""

    def __init__(self, kv: KeyValueStore):
        self.kv = kv

    def put(self, key, window_start: float, value) -> None:
        self.kv.put((key, float(window_start)), value, ts=window_start)

    def delete(self, key, window_start: float):
        return self.kv.delete((key, float(window_start)))

    def fetch(self, key, window_start: float):
        return self.kv.get((key, float(window_start)))

    def fetch_range(self, key, t_from: float, t_to: float) -> Iterator[tuple]:
        """All windows of ``key`` with start in [t_from, t_to] (inclusive,
        matching KS WindowStore.fetch)."""
        for (k, ws), v in self.kv.range((key, float(t_from)), (key, float(t_to))):
            yield (k, ws), v

    def fetch_all(self, t_from: float, t_to: float) -> Iterator[tuple]:
        for (k, ws), v in self.kv.all():
            if t_from <= ws <= t_to:
                yield (k, ws), v

    def fetch_key_range(
        self, key_from, key_to, t_from: float, t_to: float
    ) -> Iterator[tuple]:
        """Key-range fetch — ``fetch(keyFrom, keyTo, timeFrom, timeTo)``
        (internal/stores/RemoteWindowOperations.java:333): every window
        with key in [key_from, key_to] AND start in [t_from, t_to], all
        bounds inclusive (KS WindowStore.fetch contract), ordered by
        (key, window_start). One sorted range scan over the WindowedKey
        tuple keyspace — time is the MINOR tuple component, so the scan
        bounds prune on key and the time bounds filter per entry."""
        lo = (key_from, float("-inf"))
        hi = (key_to, float("inf"))
        for (k, ws), v in self.kv.range(lo, hi):
            if t_from <= ws <= t_to:
                yield (k, ws), v

    def backward_fetch_key_range(
        self, key_from, key_to, t_from: float, t_to: float
    ) -> Iterator[tuple]:
        """Descending key-range fetch — the reference's backwardFetch
        key-range variant throws (RemoteWindowOperations.java:339);
        supported here."""
        yield from reversed(
            list(self.fetch_key_range(key_from, key_to, t_from, t_to))
        )

    def all(self) -> Iterator[tuple]:
        return self.kv.all()

    def backward_fetch_range(self, key, t_from: float, t_to: float) -> Iterator[tuple]:
        yield from reversed(list(self.fetch_range(key, t_from, t_to)))

    def expire(self, retention_s: float) -> int:
        """Drop windows with start < stream_time - retention; returns count."""
        cutoff = self.kv.stream_time - retention_s
        doomed = [k for k, _ in self.kv.all() if k[1] < cutoff]
        for k in doomed:
            self.kv.delete(k)
        return len(doomed)


class SessionStore:
    """Session-store view — SessionOperationsImpl surface (SURVEY.md §2.6:
    put:224 delete:232 fetch:237 fetchAll:253; findSessions merge scan
    ResponsiveSessionStore.java:166-224). Keys are
    ``(key, session_start, session_end)`` — the SessionKey layout
    (internal/utils/SessionKey.java:19-31)."""

    def __init__(self, kv: KeyValueStore):
        self.kv = kv

    def put(self, key, start: float, end: float, value) -> None:
        self.kv.put((key, float(start), float(end)), value, ts=end)

    def delete(self, key, start: float, end: float):
        return self.kv.delete((key, float(start), float(end)))

    def fetch(self, key) -> Iterator[tuple]:
        """All sessions for a key, ordered by (start, end)."""
        return self.kv.prefix_tuple((key,))

    def fetch_all(self) -> Iterator[tuple]:
        return self.kv.all()

    def find_sessions(self, key, earliest_end: float, latest_start: float) -> list:
        """Sessions overlapping [earliest_end, latest_start] — the
        merge-candidate scan used for inactivity-gap session merging."""
        out = []
        for (k, s, e), v in self.kv.prefix_tuple((key,)):
            if e >= earliest_end and s <= latest_start:
                out.append(((k, s, e), v))
        return out

    def find_sessions_range(
        self, key_from, key_to, earliest_end: float, latest_start: float
    ) -> list:
        """Key-range merge-candidate scan — the KS
        ``findSessions(keyFrom, keyTo, earliestSessionEndTime,
        latestSessionStartTime)`` overload (the reference's session op
        surface stops at the per-key form; supported here like the
        window-store key-range fetch). One sorted range scan over the
        (key, start, end) SessionKey tuple keyspace, overlap-filtered
        per entry; ordered by (key, start, end)."""
        lo = (key_from, float("-inf"), float("-inf"))
        hi = (key_to, float("inf"), float("inf"))
        out = []
        for (k, s, e), v in self.kv.range(lo, hi):
            if e >= earliest_end and s <= latest_start:
                out.append(((k, s, e), v))
        return out

    def backward_find_sessions_range(
        self, key_from, key_to, earliest_end: float, latest_start: float
    ) -> list:
        """Descending variant (the reference's backwardFindSessions
        throws; supported here)."""
        return list(
            reversed(
                self.find_sessions_range(
                    key_from, key_to, earliest_end, latest_start
                )
            )
        )

    def merge_in(self, key, ts: float, value, gap_s: float, merger):
        """KS session-aggregate update: merge all sessions within ``gap_s``
        of ``ts`` plus the new event into one session
        (ResponsiveSessionStore.java:131-165 semantics)."""
        cands = self.find_sessions(key, ts - gap_s, ts + gap_s)
        start, end, agg = ts, ts, value
        for (k, s, e), v in cands:
            self.delete(k, s, e)
            start, end = min(start, s), max(end, e)
            agg = merger(agg, v)
        self.put(key, start, end, agg)
        return (start, end, agg)


@dataclass
class _Timer:
    interval_s: float
    next_fire: float
    callback: Callable[["ProcessorContext", float], None]
    aligned: bool


class Cancellable:
    """Handle returned by ``schedule`` — the KS ``Cancellable`` contract
    (ProcessorContext.schedule returns one; punctuate callbacks commonly
    self-cancel for one-shot timers). Cancellation is DURABLE in streaming:
    it pins the timer's next fire to +inf, which round-trips through the
    checkpointed fire list, so a cancelled punctuator stays cancelled
    across micro-batch restarts unless re-scheduled logic re-arms it."""

    def __init__(self, timer: _Timer):
        self._timer = timer

    def cancel(self) -> None:
        self._timer.next_fire = float("inf")


class ProcessorContext:
    """What a processor sees: its store, the record clock, ``forward`` to
    emit, and ``schedule`` for punctuators (KeyBatchExample.java:126-218)."""

    def __init__(self, key: tuple, store: KeyValueStore):
        self.key = key
        self.store = store
        self.timestamp: float = float("-inf")  # current record event-time
        #: current record's Kafka headers (list of {"key", "value"} dicts,
        #: or None) — the reference threads headers through its processor
        #: contexts (internal/async/contexts/DelegatingProcessorContext
        #: .java, internal/async/AsyncUtils.java); set per record by
        #: _replay when the input carries a ``headers`` column. Decode
        #: with functions/headers.headers_get; forward onward by emitting
        #: a headers column (``ctx.forward(headers=[...])``).
        self.headers = None
        # columnar accumulation: building one pandas DataFrame from column
        # lists is ~10x cheaper than from 100k per-row dicts
        self._out_cols: list[str] | None = None
        self._out_data: list[list] = []
        self._timers: list[_Timer] = []
        self._wc_timers: list[_Timer] = []
        # named secondary stores (KS processors may attach several state
        # stores — ProcessorContext.getStateStore(name)); created lazily,
        # restored from checkpointed blobs by the streaming runner
        self._extra_stores: dict = {}
        self._extra_blobs: dict = {}

    def get_store(self, name: str):
        """Named state store (the ``context.getStateStore(name)`` surface,
        PartitionedOperations per store). ``name='default'`` is the primary
        ``ctx.store``; other names create (or restore, in streaming) an
        independent store of the same class/TTL. Wrap in ``WindowStore`` /
        ``SessionStore`` for the windowed layouts."""
        if name == "default":
            return self.store
        if name not in self._extra_stores:
            cls = type(self.store)
            if not getattr(cls, "SUPPORTS_DYNAMIC_SIBLINGS", True):
                raise NotImplementedError(
                    f"store {name!r} was not declared: this lane creates "
                    "state handles in init — declare it via store_names="
                    "[...] (the KS addStateStore shape) or use a blob lane"
                )
            if name in self._extra_blobs:
                st, _f, _w = cls.from_blob(
                    self._extra_blobs.pop(name), self.store.ttl_seconds
                )
            else:
                st = cls(self.store.ttl_seconds)
            st.stream_time = max(st.stream_time, self.store.stream_time)
            self._extra_stores[name] = st
        return self._extra_stores[name]

    def get_versioned_store(
        self, name: str, history_retention: float | None = None
    ) -> "VersionedKeyValueStore":
        """Named VERSIONED store (the KS 3.5 ``VersionedKeyValueStore``
        next to the plain KV surface). In streaming it participates in the
        same multi-store checkpoint blob as other named stores, so version
        histories survive micro-batch boundaries and restarts; in batch the
        group's full history replays each run, so a fresh store is
        equivalent."""
        if name == "default":
            raise ValueError("'default' is the primary KV store")
        if name not in self._extra_stores:
            if name in self._extra_blobs:
                st = VersionedKeyValueStore.load(
                    self._extra_blobs.pop(name), history_retention
                )
            else:
                st = VersionedKeyValueStore(history_retention)
            self._extra_stores[name] = st
        st = self._extra_stores[name]
        if not isinstance(st, VersionedKeyValueStore):
            raise TypeError(f"store {name!r} exists and is not versioned")
        return st

    def _all_stores(self):
        yield self.store
        yield from self._extra_stores.values()

    def forward(self, **row) -> None:
        if self._out_cols is None:
            self._out_cols = list(row)
            self._out_data = [[] for _ in self._out_cols]
        for i, c in enumerate(self._out_cols):
            self._out_data[i].append(row.get(c))

    def forward_bulk(self, **cols) -> None:
        """Emit many rows at once (column lists, all equal length) — the
        vectorized fan-out path: a right-side update fanning out to 100k
        subscribers extends the output columns once instead of looping
        100k per-row forward() calls (the FK-join hot path at scale)."""
        lens = {c: len(v) for c, v in cols.items()}
        if len(set(lens.values())) > 1:
            raise ValueError(
                f"forward_bulk column lists have ragged lengths: {lens} — "
                "misaligned columns would silently row-shift the output"
            )
        if self._out_cols is None:
            self._out_cols = list(cols)
            self._out_data = [[] for _ in self._out_cols]
        elif set(cols) != set(self._out_cols):
            raise ValueError(
                f"forward_bulk columns {sorted(cols)} do not match the "
                f"output schema established by a prior forward: "
                f"{sorted(self._out_cols)}"
            )
        for i, c in enumerate(self._out_cols):
            self._out_data[i].extend(cols[c])

    def emitted(self) -> list[dict]:
        """Emitted rows as dicts (test/debug view)."""
        if self._out_cols is None:
            return []
        return [dict(zip(self._out_cols, vals)) for vals in zip(*self._out_data)]

    def _to_pdf(self) -> pd.DataFrame:
        if self._out_cols is None:
            return pd.DataFrame()
        # copy=False skips block consolidation and a given index skips its
        # inference: together a third of a small frame's cost. The dtypes
        # are inferred as with the defaults.
        n = len(self._out_data[0]) if self._out_data else 0
        return pd.DataFrame(
            dict(zip(self._out_cols, self._out_data)),
            index=pd.RangeIndex(n),
            copy=False,
        )

    def schedule(
        self,
        interval_s: float,
        callback: Callable[["ProcessorContext", float], None],
        punctuation_type: str = STREAM_TIME,
        aligned: bool = True,
    ) -> "Cancellable":
        """Register a stream-time punctuator; returns a :class:`Cancellable`
        (KS contract — cancel() makes it permanent, including across
        streaming restarts). ``aligned=True`` fires at
        multiples of the interval (deterministic + SQL-oracle-able);
        ``aligned=False`` fires at registration-time + k*interval, the
        reference's context.schedule semantics. WALL_CLOCK punctuators fire
        in STREAMING mode at micro-batch boundaries when due (the commit-
        aligned approximation of KS wall-clock punctuation; interval <= 0
        means every batch); in a deterministic batch replay processing time
        does not exist, so they never fire there."""
        t = _Timer(interval_s, float("nan"), callback, aligned)
        if punctuation_type == WALL_CLOCK:
            self._wc_timers.append(t)
        else:
            self._timers.append(t)
        return Cancellable(t)

    def _fire_wall_clock(self, now: float) -> None:
        """Fire due wall-clock punctuators (streaming, at batch end).

        KS WALL_CLOCK_TIME contract (PunctuationType javadoc; the reference
        schedules these in KeyBatchExample.java:137-141): a punctuator that
        missed several intervals fires ONCE, not once per missed interval —
        so here an interval smaller than the micro-batch period coalesces
        to exactly one fire per batch, and an interval larger than the
        batch period fires once at the first batch boundary past due.
        Pinned by tests/test_streaming.py::test_wall_clock_punctuator_coalescing."""
        for t in self._wc_timers:
            if t.interval_s <= 0:
                t.callback(self, now)
                continue
            if t.next_fire != t.next_fire:  # first batch arms the timer
                t.next_fire = now + t.interval_s
                continue
            if now >= t.next_fire:
                t.callback(self, now)
                t.next_fire = now + t.interval_s

    # -- engine internals ---------------------------------------------------
    def _advance(self, ts: float) -> None:
        """Advance stream time to ``ts``; fire due punctuators first (KS
        fires punctuations before processing the record that advanced the
        clock past them)."""
        for t in self._timers:
            if t.next_fire != t.next_fire:  # NaN -> first record initializes
                if t.aligned:
                    t.next_fire = (ts // t.interval_s + 1) * t.interval_s
                else:
                    t.next_fire = ts + t.interval_s
                continue
            while ts >= t.next_fire:
                for st in self._all_stores():
                    st.stream_time = max(st.stream_time, t.next_fire)
                t.callback(self, t.next_fire)
                t.next_fire += t.interval_s
        self.timestamp = ts
        for st in self._all_stores():
            st.stream_time = max(st.stream_time, ts)


class Processor:
    """User base class — the PAPI ``Processor<KIn,VIn,KOut,VOut>`` analog."""

    def init(self, ctx: ProcessorContext) -> None:  # noqa: B027
        pass

    def process(self, ctx: ProcessorContext, record: dict) -> None:
        raise NotImplementedError

    def close(self, ctx: ProcessorContext) -> None:  # noqa: B027
        pass


def _replay(
    proc: Processor,
    ctx: ProcessorContext,
    pdf: pd.DataFrame,
    ts_col: str,
    order_by: Sequence[str],
    arrival_col: str | None = None,
) -> None:
    """Replay records through the processor. Default order is event time
    (+tiebreaks); ``arrival_col`` replays in ARRIVAL order instead — records
    may then be out-of-order in event time, exactly like a Kafka partition,
    which is what KS grace/lateness semantics are defined against.

    The order is that of a stable ``sort_values(order, kind="mergesort")``
    with missing values last, and each record holds the values
    ``itertuples`` would give. Most keys bring one or a few records per
    micro-batch, so the body works on plain row lists: pandas' sort, row
    iteration and Series access cost far more per key than the records
    themselves (tests/test_property_state.py pins the equivalence)."""
    cols = list(pdf.columns)
    order = [arrival_col] if arrival_col is not None else [
        ts_col, *[c for c in order_by if c != ts_col]
    ]
    missing = [c for c in order if c not in cols]
    if missing:
        raise KeyError(missing[0])
    if pdf.empty:
        return
    # dtype=object keeps each column's own scalars (int stays int)
    rows = pdf.to_numpy(dtype=object).tolist()
    ti = cols.index(ts_col)
    ts_vals = [r[ti] for r in rows]
    if not all(type(t) is float for t in ts_vals):
        ts = pdf[ts_col]
        if str(ts.dtype).startswith("datetime64"):
            # normalize to ns first: datetime64[us] would floor-div wrong
            ts = ts.astype("datetime64[ns]").astype("int64").to_numpy() / 1e9
        ts_vals = ts.astype("float64").tolist()
    recs = list(zip(ts_vals, rows))
    if len(recs) > 1:
        oi = [cols.index(c) for c in order]
        recs.sort(key=lambda tr: [_na_last(tr[1][i]) for i in oi])
    has_headers = "headers" in cols
    for ts_s, row in recs:
        ctx._advance(ts_s)
        rec = dict(zip(cols, row))
        if has_headers:
            # the KS Record.headers() surface: current record's headers
            # visible on the context for the duration of process()
            ctx.headers = rec["headers"]
        proc.process(ctx, rec)


def _na_last(v) -> tuple:
    """Sort key of one value with pandas' ``na_position="last"``: None,
    NaN, NaT and NA sort after every value and tie with each other."""
    if v is None or v is pd.NA or v != v:
        return (1, 0)
    return (0, v)


def process(
    df: DataFrame,
    key: Sequence[str],
    processor_factory: Callable[[], Processor],
    output_schema: "StructType | str",
    ts_col: str = "ts",
    order_by: Sequence[str] = (),
    ttl_seconds: float | None = None,
    arrival_col: str | None = None,
) -> DataFrame:
    """``stream.process(supplier, stores...)`` analog (KeyBatchExample.java:
    64-65). Batch mode: deterministic per-key replay via applyInPandas.

    For streaming DataFrames use :func:`process_streaming` (same processor
    code, state in Spark's checkpointed GroupState).
    """
    keys = list(key)
    # Pin the stage's parallelism with an explicit hash repartition on the
    # key: AQE sizes post-shuffle partitions by BYTES, and a per-record
    # Python stage is CPU-bound, not byte-bound — letting AQE coalesce a
    # small-by-bytes shuffle to 1 partition serializes every group through
    # one worker (measured 6x slower at sf0.1). A user-numbered repartition
    # is exempt from AQE coalescing, and HashPartitioning(keys) satisfies
    # applyInPandas' clustering requirement so no second shuffle happens.
    from pyspark.sql import functions as F  # local: keep module import-light

    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(n, *[F.col(k) for k in keys])

    def run(key_vals: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        proc = processor_factory()
        store = KeyValueStore(ttl_seconds)
        ctx = ProcessorContext(key_vals, store)
        proc.init(ctx)
        _replay(proc, ctx, pdf, ts_col, order_by, arrival_col)
        proc.close(ctx)
        return ctx._to_pdf()

    return df.groupBy(*keys).applyInPandas(run, output_schema)


def process_partitioned(
    df: DataFrame,
    key: Sequence[str],
    num_partitions: int,
    processor_factory: Callable[[], Processor],
    output_schema: "StructType | str",
    ts_col: str = "ts",
    order_by: Sequence[str] = (),
    ttl_seconds: float | None = None,
    partitioner=None,
    arrival_col: str | None = None,
) -> DataFrame:
    """The reference's TASK model for batch replay: ONE processor instance
    per PARTITION — the store is SHARED across every key routed to the
    partition and stream time advances per partition, exactly the
    per-Kafka-partition semantics of PartitionedOperations.java:333-346.
    This closes the two documented deltas of the per-key model
    (SURVEY.md §2.5): per-partition stream time, and cross-key store
    scans within a task (a KS store holds ALL keys of its task, so
    range()/all() see the whole partition — per-key GroupState cannot).

    ``ctx.key`` is ``(partition_id,)``; records keep their own key columns
    in ``rec``. ``partitioner`` is the partition-id Column — default
    ``pmod(hash(key), N)`` (Spark's hash, the murmur analog of KS's
    default partitioner); pass an explicit expression (e.g. ``key % N``)
    when an external oracle must reproduce the assignment.

    Scale note: parallelism is capped at ``num_partitions`` tasks by
    construction (the KS model's own property — partition count IS the
    parallelism); keep N >= the cluster's core count for batch replays."""
    from pyspark.sql import functions as F  # local: keep module import-light

    keys = list(key)
    if partitioner is None:
        partitioner = F.pmod(
            F.hash(*[F.col(k) for k in keys]), F.lit(int(num_partitions))
        )
    df2 = df.withColumn("__part__", partitioner.cast("int"))
    df2 = df2.repartition(int(num_partitions), F.col("__part__"))

    def run(key_vals: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        proc = processor_factory()
        store = KeyValueStore(ttl_seconds)
        ctx = ProcessorContext((int(key_vals[0]),), store)
        proc.init(ctx)
        pdf = pdf.drop(columns=["__part__"])
        _replay(proc, ctx, pdf, ts_col, order_by, arrival_col)
        proc.close(ctx)
        return ctx._to_pdf()

    return df2.groupBy("__part__").applyInPandas(run, output_schema)


_STATE_SCHEMA = StructType([StructField("blob", BinaryType())])


def _schema_field_names(schema: "StructType | str") -> list[str]:
    """Top-level field names of a StructType or DDL string, without needing
    a SparkContext (runs inside executor Python workers)."""
    if not isinstance(schema, str):
        return [f.name for f in schema.fields]
    names, depth, token_start = [], 0, 0
    s = schema.strip()
    for i, ch in enumerate(s + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            field = s[token_start:i].strip()
            if field:
                names.append(field.split(":")[0].split()[0].strip("`"))
            token_start = i + 1
    return names


def _empty_output(schema: "StructType | str") -> pd.DataFrame:
    """The output frame of a key that forwarded nothing: every schema
    column, no rows. A lane builds it once and yields the same frame for
    every such key (PySpark only reads it)."""
    return pd.DataFrame(
        {n: pd.Series(dtype="object") for n in _schema_field_names(schema)}
    )


def process_streaming(
    sdf: DataFrame,
    key: Sequence[str],
    processor_factory: Callable[[], Processor],
    output_schema: StructType,
    ts_col: str = "ts",
    order_by: Sequence[str] = (),
    ttl_seconds: float | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Streaming PAPI: same processor, state checkpointed per key.

    The store lives in GroupState as a segmented delta-log blob
    (:mod:`responsive_pub_spark.streaming.segstore` — the CommitBuffer.java
    delta-flush analog): per micro-batch only the batch's writes are
    pickled as a new delta segment and unchanged segment bytes pass
    through, so a 1-row update to a huge store is O(delta), not O(store).
    Recovery comes from Spark's checkpoint (SURVEY.md §3.2). Within each
    micro-batch the key's records replay in event-time order; across
    batches the store persists. Stream-time punctuators fire during replay
    exactly as in batch mode.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from responsive_pub_spark.streaming.segstore import SegmentedKeyValueStore

    keys = list(key)
    empty = _empty_output(output_schema)

    def run(key_vals, pdf_iter: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        raw = state.get[0] if (state.exists and state.get[0]) else None
        extra_blobs: dict = {}
        if raw is not None:
            # multi-store wrapper (written only when a processor used
            # get_store): b"MST1" + pickle((primary_blob, {name: blob}))
            if raw[:4] == b"MST1":
                raw, extra_blobs = pickle.loads(raw[4:])
                extra_blobs = dict(extra_blobs)
            store, fires, wc_fires = SegmentedKeyValueStore.from_blob(
                raw, ttl_seconds
            )
        else:
            store, fires, wc_fires = SegmentedKeyValueStore(ttl_seconds), [], []
        proc = processor_factory()
        ctx = ProcessorContext(key_vals, store)
        ctx._extra_blobs = extra_blobs
        proc.init(ctx)
        for t, nf in zip(ctx._timers, fires):
            t.next_fire = nf
        for t, nf in zip(ctx._wc_timers, wc_fires):
            t.next_fire = nf
        for pdf in pdf_iter:
            _replay(proc, ctx, pdf, ts_col, order_by)
        import time as _time

        ctx._fire_wall_clock(_time.time())
        proc.close(ctx)
        payload = store.to_blob(
            [t.next_fire for t in ctx._timers],
            [t.next_fire for t in ctx._wc_timers],
        )
        # named stores: untouched restored blobs pass through byte-for-byte
        # (delta-flush across stores, not just within one)
        if ctx._extra_stores or ctx._extra_blobs:
            extras = dict(ctx._extra_blobs)
            extras.update(
                {n: st.to_blob() for n, st in ctx._extra_stores.items()}
            )
            payload = b"MST1" + pickle.dumps(
                (payload, extras), protocol=pickle.HIGHEST_PROTOCOL
            )
        state.update((payload,))
        out = ctx._to_pdf()
        yield empty if out.empty else out

    return sdf.groupBy(*keys).applyInPandasWithState(
        run, output_schema, _STATE_SCHEMA, output_mode, GroupStateTimeout.NoTimeout
    )


class TwsMapStateStore:
    """KeyValueStore-compatible adapter over a live TWS ``MapState``.

    THE scale fix for hot keys: the GroupState lane persists each
    processor key's store as ONE blob, so every touched key rewrites its
    full state bytes per batch — O(store size), however small the delta. RocksDB map
    state keeps one ROW PER STORE ENTRY: ``put``/``delete`` write only the
    touched entries, so a key holding 100k entries that updates 2 of them
    writes 2 rows. The reference's CommitBuffer has the same property
    (delta flush, CommitBuffer.java:340-395).

    Contract deltas vs :class:`KeyValueStore` (both documented, both
    conformance-tested in tests/test_tws_lane.py):

    - ordered scans (``range``/``prefix``/``all``…) materialize and sort
      the key set per call — RocksDB map iteration is UNORDERED.  Point
      ops stay O(1); scan-heavy processors should prefer the blob lanes.
    - store keys/values are pickled per entry (arbitrary Python values,
      same as the blob lanes — just encoded per row instead of per store).
    """

    #: TWS handles exist only if declared in init — ctx.get_store must not
    #: fabricate siblings of this class (see ProcessorContext.get_store)
    SUPPORTS_DYNAMIC_SIBLINGS = False

    def __init__(self, map_state, ttl_seconds: float | None = None):
        self._ms = map_state
        self.ttl_seconds = ttl_seconds
        self.stream_time: float = float("-inf")
        # write-back batch cache (r4 VERDICT stretch #9): the lane's
        # throughput ceiling was ONE state-server socket round trip per
        # store op — a counter processor doing get+put per record paid
        # 2 round trips x records.  The cache absorbs every re-read and
        # re-write of a store key within the micro-batch and flush()
        # writes each touched entry ONCE at batch end, keeping the
        # per-entry delta-write property (untouched entries never write).
        # Negative lookups cache too (_ABSENT).  Scans merge the cache
        # overlay with the backing map.  A task failure flushes nothing —
        # TWS state commits at batch end anyway, so EOS is unchanged.
        self._cache: dict = {}  # key-bytes -> (key, value | _ABSENT, ts)
        self._dirty: set = set()  # key-bytes needing flush
        # iterator-preload state (r6 VERDICT stretch #8; PAGED in r8,
        # r7 VERDICT task 6): Spark 4.1.2's state-server proto has NO
        # batch/prefix GetValue (verified: StateMessage_pb2 carries only
        # GetValue/Iterator/Keys/Values/ContainsKey point+scan calls) —
        # but Iterator responses are CHUNKED (many pairs per round trip),
        # so cold reads sweep the map into the cache. The sweep is LAZY
        # and PAGED: the first cold read consumes one _PAGE-entry page;
        # every subsequent cache MISS consumes one more page before
        # falling back to a single point get, so the iterator is consumed
        # AT MOST ONCE total and a processor touching K store keys on an
        # E-entry map pays <= min(K, ceil(E/_PAGE)) point gets on top of
        # the one chunked sweep (~ceil(E/chunk) socket round trips) —
        # instead of abandoning the sweep past a size cap and paying K
        # point gets on exactly the large sparse maps this lane exists
        # for. Once the iterator exhausts, every further miss is KNOWN
        # absent with zero round trips. A 1-entry map (the counter-lane
        # shape) stays at the protocol's 1-round-trip-per-grouping-key
        # floor.
        self._swept = False
        self._fully_loaded = False
        self._iter = None

    #: cache sentinel for "known absent" (read miss or tombstone)
    _ABSENT = object()

    #: entries consumed from the backing iterator per page: the first
    #: cold read takes one page; each later miss takes one more — bounds
    #: the worst case of a few gets against a huge map at
    #: ~misses x (_PAGE/chunk) round trips while keeping the
    #: touch-everything case at one full sweep
    _PAGE = 4096
    #: back-compat alias (r6 name; tests and docs reference it)
    _PRELOAD_MAX = _PAGE

    @staticmethod
    def _k(key) -> bytes:
        return pickle.dumps(key, protocol=pickle.HIGHEST_PROTOCOL)

    def _live(self, ts: float) -> bool:
        if self.ttl_seconds is None:
            return True
        return ts >= self.stream_time - self.ttl_seconds

    # -- write path ---------------------------------------------------------
    def put(self, key, value, ts: float | None = None) -> None:
        kb = self._k(key)
        self._cache[kb] = (
            key,
            value,
            float(ts if ts is not None else self.stream_time),
        )
        self._dirty.add(kb)

    def put_if_absent(self, key, value, ts: float | None = None):
        old = self.get(key)
        if old is None:
            self.put(key, value, ts)
        return old

    def delete(self, key):
        old = self.get(key)
        kb = self._k(key)
        self._cache[kb] = (key, self._ABSENT, None)
        self._dirty.add(kb)
        return old

    def flush(self) -> None:
        """Write the batch's touched entries to the backing MapState —
        one updateValue/removeKey per FINAL value per key (values pickle
        once here, not per put)."""
        for kb in self._dirty:
            key, val, ts = self._cache[kb]
            if val is self._ABSENT:
                if self._ms.containsKey((kb,)):
                    self._ms.removeKey((kb,))
            else:
                self._ms.updateValue(
                    (kb,),
                    (pickle.dumps(val, protocol=pickle.HIGHEST_PROTOCOL), ts),
                )
        self._dirty.clear()

    # -- read path ----------------------------------------------------------
    def _consume_page(self) -> None:
        """Consume up to ``_PAGE`` entries from the (single) backing
        iterator into the cache; exhaustion flips ``_fully_loaded`` so
        later misses are free. The iterator is created once and only
        ever advanced — the whole map is read at most once per store
        instance (= per grouping key per micro-batch) regardless of how
        many pages the miss pattern pulls."""
        if self._fully_loaded:
            return
        if self._iter is None:
            self._iter = iter(self._ms.iterator())
        n = 0
        for (kb,), (vb, ts) in self._iter:
            if kb not in self._cache:  # overlay (newer write/delete) wins
                self._cache[kb] = (pickle.loads(kb), pickle.loads(vb), ts)
            n += 1
            if n >= self._PAGE:
                return
        self._fully_loaded = True
        self._iter = None

    def _preload(self) -> None:
        """First cold read: start the lazy paged sweep (one page now;
        get() pulls further pages on later misses — see __init__)."""
        self._swept = True
        self._consume_page()

    def get(self, key):
        kb = self._k(key)
        ent = self._cache.get(kb)
        if ent is None and not self._swept:
            self._preload()
            ent = self._cache.get(kb)
        if ent is None and not self._fully_loaded:
            # miss with the sweep still in flight: advance one page —
            # the key may be in it, and the page's round trips amortize
            # across every later hit
            self._consume_page()
            ent = self._cache.get(kb)
        if ent is None:
            if self._fully_loaded:
                # complete sweep: anything uncached is KNOWN absent —
                # no round trip
                ent = (key, self._ABSENT, None)
            else:
                # getValue returns None for a missing key — ONE
                # state-server round trip per COLD get (cache hits are
                # free); misses cache as _ABSENT so repeat probes don't
                # re-pay the socket
                entry = self._ms.getValue((kb,))
                if entry is None:
                    ent = (key, self._ABSENT, None)
                else:
                    vb, ts = entry
                    ent = (key, pickle.loads(vb), ts)
            self._cache[kb] = ent
        _, val, ts = ent
        if val is self._ABSENT or not self._live(ts):
            return None
        return val

    def _entries_sorted(self) -> list:
        merged = []
        for (kb,), (vb, ts) in self._ms.iterator():
            if kb in self._cache:  # overlay wins (newer write or tombstone)
                continue
            if self._live(ts):
                merged.append((pickle.loads(kb), pickle.loads(vb)))
        for _, (key, val, ts) in self._cache.items():
            if val is self._ABSENT or not self._live(ts):
                continue
            merged.append((key, val))
        merged.sort(key=lambda e: e[0])
        return merged

    def range(self, key_from, key_to) -> Iterator[tuple]:
        for k, v in self._entries_sorted():
            if key_from <= k <= key_to:
                yield k, v

    def reverse_range(self, key_from, key_to) -> Iterator[tuple]:
        yield from reversed(list(self.range(key_from, key_to)))

    def prefix(self, prefix: str) -> Iterator[tuple]:
        for k, v in self._entries_sorted():
            if str(k).startswith(prefix):
                yield k, v

    def prefix_tuple(self, prefix: tuple) -> Iterator[tuple]:
        n = len(prefix)
        for k, v in self._entries_sorted():
            if isinstance(k, tuple) and k[:n] == prefix:
                yield k, v

    def all(self) -> Iterator[tuple]:
        yield from self._entries_sorted()

    def reverse_all(self) -> Iterator[tuple]:
        yield from reversed(self._entries_sorted())

    def approximate_num_entries(self) -> int:
        # iterator(), not keys(): its ((kb,), (vb, ts)) element shape is
        # the one the scan path already pins; cache overlay (unflushed
        # writes AND tombstones) must be visible to the estimate
        n = sum(
            1 for (kb,), _v in self._ms.iterator() if kb not in self._cache
        )
        n += sum(
            1 for _, val, _ts in self._cache.values() if val is not self._ABSENT
        )
        return n


def process_streaming_tws_map(
    sdf: DataFrame,
    key: Sequence[str],
    processor_factory: Callable[[], Processor],
    output_schema: "StructType | str",
    ts_col: str = "ts",
    order_by: Sequence[str] = (),
    ttl_seconds: float | None = None,
    output_mode: str = "append",
    store_names: Sequence[str] = (),
) -> DataFrame:
    """Streaming PAPI over TWS **map state**: per-ENTRY delta writes
    (see :class:`TwsMapStateStore`) instead of the one-blob-per-key layout
    of :func:`process_streaming`.

    Same user ``Processor`` code; stream time and punctuator fire times
    persist in a small per-key ``meta`` ValueState (written once per key
    per batch — O(1), not O(store)). Named extra stores
    (``ctx.get_store``) must be DECLARED UP FRONT via ``store_names`` —
    TWS state handles are created in ``init`` only, which is also the
    faithful KS shape (stores are registered with addStateStore when the
    topology is built, never mid-stream); each named store gets its own
    MapState with the same per-entry delta-write property. A processor
    touching an undeclared store name raises."""
    from responsive_pub_spark.compat import (
        apply_to_spark_context,
        ensure_protobuf_runtime,
    )

    ensure_protobuf_runtime()
    apply_to_spark_context(sdf.sparkSession.sparkContext)
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    keys = list(key)
    factory = processor_factory
    ttl = ttl_seconds

    extra_names = [n for n in store_names if n != "default"]
    empty = _empty_output(output_schema)

    class _TwsMap(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._map = handle.getMapState("kv", "k BINARY", "v BINARY, ts DOUBLE")
            self._meta = handle.getValueState("meta", _STATE_SCHEMA)
            self._extra = {
                n: handle.getMapState(f"kv_{n}", "k BINARY", "v BINARY, ts DOUBLE")
                for n in extra_names
            }

        def handleInputRows(self, key_vals, rows, timer_values):
            store = TwsMapStateStore(self._map, ttl)
            fires: list = []
            wc_fires: list = []
            meta = self._meta.get()
            if meta is not None and meta[0]:
                store.stream_time, fires, wc_fires = pickle.loads(meta[0])
            proc = factory()
            ctx = ProcessorContext(tuple(key_vals), store)
            # pre-register the declared named stores as live map adapters:
            # ctx.get_store(name) returns these instead of creating a
            # dynamic blob store; every write is a per-entry delta
            for n, ms in self._extra.items():
                st = TwsMapStateStore(ms, ttl)
                st.stream_time = store.stream_time
                ctx._extra_stores[n] = st
            proc.init(ctx)
            undeclared = set(ctx._extra_stores) - set(extra_names)
            if undeclared:
                raise NotImplementedError(
                    f"store(s) {sorted(undeclared)} not declared: the "
                    "map-state lane creates TWS handles in init — pass "
                    "store_names=[...] (the KS addStateStore shape) or use "
                    "the blob lanes"
                )
            for t, nf in zip(ctx._timers, fires):
                t.next_fire = nf
            for t, nf in zip(ctx._wc_timers, wc_fires):
                t.next_fire = nf
            for pdf in rows:
                _replay(proc, ctx, pdf, ts_col, order_by)
            import time as _time

            ctx._fire_wall_clock(_time.time())
            proc.close(ctx)
            undeclared = set(ctx._extra_stores) - set(extra_names)
            if undeclared:
                raise NotImplementedError(
                    f"store(s) {sorted(undeclared)} not declared: pass "
                    "store_names=[...] or use the blob lanes"
                )
            # write-back flush: each touched entry hits the state server
            # ONCE with its final value (the per-record get/put round
            # trips were absorbed by the cache)
            store.flush()
            for st in ctx._extra_stores.values():
                st.flush()
            self._meta.update(
                (
                    pickle.dumps(
                        (
                            store.stream_time,
                            [t.next_fire for t in ctx._timers],
                            [t.next_fire for t in ctx._wc_timers],
                        ),
                        protocol=pickle.HIGHEST_PROTOCOL,
                    ),
                )
            )
            out = ctx._to_pdf()
            yield empty if out.empty else out

        def close(self) -> None:
            pass

    return sdf.groupBy(*keys).transformWithStateInPandas(
        statefulProcessor=_TwsMap(),
        outputStructType=output_schema,
        outputMode=output_mode,
        timeMode="None",
    )


def process_streaming_partitioned(
    sdf: DataFrame,
    key: Sequence[str],
    num_partitions: int,
    processor_factory: Callable[[], Processor],
    output_schema: "StructType | str",
    ts_col: str = "ts",
    order_by: Sequence[str] = (),
    ttl_seconds: float | None = None,
    output_mode: str = "append",
    partitioner=None,
) -> DataFrame:
    """Streaming twin of :func:`process_partitioned` — the KS task model
    on the checkpointed lane: GroupState is keyed by PARTITION id, so one
    segmented delta-log store serves every key routed to the partition
    (cross-key scans work, stream time is per partition, and the
    punctuator clock survives restarts with the rest of the blob).

    The partition's whole store lives in one GroupState entry — the
    segstore layout keeps per-batch flush O(batch writes), but restore
    still reads the partition's segments; size partitions accordingly
    (this is exactly the reference's per-partition state shape). ctx.key
    is ``(partition_id,)``; records carry their own key columns."""
    from pyspark.sql import functions as F  # local: keep module import-light

    keys = list(key)
    if partitioner is None:
        partitioner = F.pmod(
            F.hash(*[F.col(k) for k in keys]), F.lit(int(num_partitions))
        )
    tagged = sdf.withColumn("__part__", partitioner.cast("int"))
    return process_streaming(
        tagged,
        key=["__part__"],
        processor_factory=processor_factory,
        output_schema=output_schema,
        ts_col=ts_col,
        order_by=order_by,
        ttl_seconds=ttl_seconds,
        output_mode=output_mode,
    )
