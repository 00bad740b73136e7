"""KStream/KTable-flavored fluent API compiling to Spark DataFrame plans.

The engine analog of the reference's topology surface: a user builds a
dataflow with ``Pipeline``/``KStream``/``KTable`` and every method
immediately compiles to a declarative DataFrame operation, so Catalyst
performs predicate pushdown, column pruning, join selection and AQE — the
optimizer layer the reference does not have (SURVEY.md §4).

Reference parity map (SURVEY.md §2):
- ``Pipeline``            ~ ResponsiveKafkaStreams + StreamsBuilder
  (api/ResponsiveKafkaStreams.java:96)
- ``KStream``             ~ org.apache.kafka.streams.kstream.KStream used via
  Responsive stores (api/stores/ResponsiveDslStoreSuppliers.java:23-51)
- ``KTable``              ~ KTable (latest-per-key changelog snapshot;
  builder.table at STJoinExample.java:63-64)
- ``GlobalKTable``        ~ builder.globalTable
  (integration/GlobalStoreIntegrationTest.java:147-153) — broadcast join
- ``KGroupedStream``      ~ groupByKey() (MinimalIntegrationTest.java:136-139)
- windowed/session aggs   ~ ResponsiveWindowStore / ResponsiveSessionStore
  integration tests (SURVEY.md §2.5)

Batch and streaming share this plan-building layer: the same topology runs
on a static DataFrame (batch correctness, DuckDB-oracled) or a streaming
DataFrame (Structured Streaming), the analog of the reference's
ResponsiveTopologyTestDriver vs production runtime split
(responsive-test-utils/.../ResponsiveTopologyTestDriver.java:47).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from responsive_pub_spark.functions.portable import ts_to_double
from responsive_pub_spark.windows import JoinWindows, SessionWindows, TimeWindows


def _as_list(cols: "str | Sequence[str]") -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def _epoch(col: Column) -> Column:
    """Event-time column -> epoch seconds BIGINT (oracle-stable output)."""
    return F.unix_timestamp(col).cast("bigint")


@dataclass
class Pipeline:
    """Owns the SparkSession, sources, and sink/checkpoint configuration.

    Analog of ``new ResponsiveKafkaStreams(topology, props)``
    (api/ResponsiveKafkaStreams.java:96): the object a user constructs first
    and from which all streams/tables hang.
    """

    spark: SparkSession
    checkpoint_dir: str | None = None

    # -- sources (SURVEY.md §2.1) ------------------------------------------
    def stream(
        self,
        source: "str | DataFrame",
        key: "str | Sequence[str]",
        ts_col: str = "ts",
        fmt: str = "parquet",
        streaming: bool = False,
        schema=None,
    ) -> "KStream":
        """builder.stream(topic) analog. `source` is a path or a DataFrame."""
        if isinstance(source, DataFrame):
            df = source
        elif streaming:
            reader = self.spark.readStream.format(fmt)
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.load(source)
        else:
            df = self.spark.read.format(fmt).load(source)
        return KStream(df, _as_list(key), ts_col)

    def table(
        self,
        source: "str | DataFrame",
        key: "str | Sequence[str]",
        ts_col: str | None = None,
        fmt: str = "parquet",
    ) -> "KTable":
        """builder.table(topic) analog: changelog -> latest-per-key snapshot.

        With a ts_col, duplicate keys collapse to the latest row (changelog
        upsert semantics, ChangelogMigrationTool.java:88-96); without, the
        input must already be one-row-per-key.
        """
        df = source if isinstance(source, DataFrame) else self.spark.read.format(fmt).load(source)
        stream = KStream(df, _as_list(key), ts_col or "ts")
        if ts_col is not None:
            return stream.to_table()
        return KTable(df, _as_list(key))

    def global_table(
        self, source: "str | DataFrame", key: "str | Sequence[str]", fmt: str = "parquet"
    ) -> "GlobalKTable":
        """builder.globalTable analog — fully replicated via broadcast join
        (GlobalStoreIntegrationTest.java:147-153). A path source makes the
        table refreshable: the streaming per-batch join re-resolves the
        snapshot every micro-batch, so mid-stream dim updates are visible
        (GlobalOperations.java:49-85 runtime-update semantics)."""
        if isinstance(source, DataFrame):
            return GlobalKTable(source, _as_list(key))
        loader = lambda: self.spark.read.format(fmt).load(source)  # noqa: E731
        return GlobalKTable(loader(), _as_list(key), loader)


@dataclass
class KStream:
    """Unbounded (or batch-bounded) event stream with designated key columns
    and an event-time column — the ``(key, value, timestamp)`` record model
    (internal/stores/PartitionedOperations.java:326-338) with typed columns
    instead of opaque bytes (SURVEY.md §1.5)."""

    df: DataFrame
    key: list[str]
    ts_col: str = "ts"

    def _with(self, df: DataFrame) -> "KStream":
        return KStream(df, list(self.key), self.ts_col)

    # -- stateless ops (SURVEY.md §2.2) ------------------------------------
    def filter(self, cond: "Column | str") -> "KStream":
        return self._with(self.df.filter(cond))

    def filter_not(self, cond: "Column | str") -> "KStream":
        c = F.expr(cond) if isinstance(cond, str) else cond
        return self._with(self.df.filter(~c))

    def map_values(self, **cols: "Column | str") -> "KStream":
        """mapValues analog: add/replace value columns (key preserved)."""
        out = self.df
        for name, expr in cols.items():
            out = out.withColumn(name, F.expr(expr) if isinstance(expr, str) else expr)
        return self._with(out)

    def select(self, *cols: "Column | str") -> "KStream":
        return self._with(self.df.select(*cols))

    def flat_map_values(self, explode_expr: "Column | str", alias: str) -> "KStream":
        """flatMapValues analog: one input row -> N rows via explode."""
        e = F.expr(explode_expr) if isinstance(explode_expr, str) else explode_expr
        return self._with(self.df.withColumn(alias, F.explode(e)))

    def select_key(self, *key_cols: str) -> "KStream":
        """selectKey analog (STJoinExample.java:94): re-key the stream.
        The shuffle happens lazily at the next keyed operation, exactly like
        KS marking the stream for repartitioning."""
        return KStream(self.df, list(key_cols), self.ts_col)

    def peek(self, fn: Callable[[DataFrame], None] | None = None) -> "KStream":
        """peek analog (STJoinExample.java:81-88). In a declarative engine a
        driver-side callback on the full stream would break distribution, so
        peek is observation-only; use `observe` metrics for production."""
        if fn is not None:
            fn(self.df)
        return self

    def merge(self, other: "KStream") -> "KStream":
        return self._with(self.df.unionByName(other.df, allowMissingColumns=False))

    def branch(self, *conds: "Column | str") -> list["KStream"]:
        """split/branch analog: N filtered streams + default branch. Every
        record lands in exactly one branch (KS split() contract): a predicate
        that evaluates to NULL counts as not-matched, so the default-branch
        filter coalesces each predicate to FALSE instead of negating a
        possibly-NULL disjunction (which would drop the row everywhere)."""
        if not conds:
            return [self]
        branches = [self.filter(c) for c in conds]
        neg = None
        for c in conds:
            cc = F.expr(c) if isinstance(c, str) else c
            cc = F.coalesce(cc, F.lit(False))
            neg = cc if neg is None else (neg | cc)
        branches.append(self._with(self.df.filter(~neg)))
        return branches

    def repartition(self, num_partitions: int | None = None) -> "KStream":
        """.repartition(Repartitioned) analog — explicit reshuffle on key."""
        cols = [F.col(c) for c in self.key]
        if num_partitions:
            return self._with(self.df.repartition(num_partitions, *cols))
        return self._with(self.df.repartition(*cols))

    # -- grouping ----------------------------------------------------------
    def group_by_key(self) -> "KGroupedStream":
        return KGroupedStream(self.df, list(self.key), self.ts_col)

    def group_by(self, *cols: str) -> "KGroupedStream":
        return KGroupedStream(self.df, list(cols), self.ts_col)

    # -- joins (SURVEY.md §2.4) --------------------------------------------
    def join(
        self,
        table: "KTable",
        how: str = "inner",
        select: Sequence["Column | str"] | None = None,
    ) -> "KStream":
        """Stream-table join (STJoinExample.java:68-77): each event is
        enriched with the table's current row for its key."""
        on = [self.df[k].eqNullSafe(table.df[tk]) for k, tk in zip(self.key, table.key)]
        cond = on[0]
        for c in on[1:]:
            cond = cond & c
        joined = self.df.join(table.df, cond, "left" if how == "left" else "inner")
        # drop the table's duplicate key columns
        for tk in table.key:
            joined = joined.drop(table.df[tk])
        out = self._with(joined)
        if select:
            out = out.select(*select)
        return out

    def join_global(
        self,
        table: "GlobalKTable",
        key_extractor: "Column | str | None" = None,
        how: str = "inner",
    ) -> "KStream":
        """Global-table join (GlobalStoreIntegrationTest.java:153): per-record
        lookup into a replicated table == broadcast hash join; never shuffles
        the (100 TB) stream side."""
        left_keys = (
            [key_extractor] if key_extractor is not None else [F.col(k) for k in self.key]
        )
        left_keys = [F.expr(k) if isinstance(k, str) else k for k in left_keys]
        cond = None
        for lk, rk in zip(left_keys, table.key):
            c = lk.eqNullSafe(table.df[rk])
            cond = c if cond is None else (cond & c)
        joined = self.df.join(F.broadcast(table.df), cond, how)
        for rk in table.key:
            joined = joined.drop(table.df[rk])
        return self._with(joined)

    def join_versioned(
        self,
        changelog: "KStream",
        value_cols: Sequence[str],
        prefix: str = "v_",
    ) -> "KStream":
        """TEMPORAL stream-table join — the KS 3.5 semantics when the
        table is backed by a VersionedKeyValueStore: each stream record
        joins the table VERSION active at the record's own timestamp
        (at-or-before), not the latest row. ``changelog`` is the
        versioned table's update stream (same key columns; one version
        per (key, ts) — a same-ts version and stream record match, the
        version winning the tie, per versioned-store put-then-read
        order). Records before the first version get NULLs.

        Plan: the union trick (operators/asof.py — both sides tagged and
        hash-shuffled ONCE on the key, one ordered window pass carries
        the active version forward) — no range-join candidate blow-up,
        the same single-shuffle shape the as-of gate row locks in."""
        from pyspark.sql.types import StructType

        vals = list(value_cols)
        # the whole version travels as ONE struct through last(ignorenulls):
        # per-column last() would resurrect an OLDER version's value for any
        # column the active version carries as NULL
        ver_type = StructType([changelog.df.schema[c] for c in vals])
        left = self.df.select(
            *[F.col(c) for c in self.df.columns],
            F.lit(True).alias("__is_left"),
            F.lit(None).cast(ver_type).alias("__ver"),
        )
        # right projection: the changelog's ts column feeds self.ts_col even
        # if named differently (otherwise right rows sort NULLS FIRST and
        # every stream record would see an arbitrary "latest" version)
        right_cols = set(changelog.key) | set(vals)
        right_proj = []
        for c in self.df.columns:
            if c == self.ts_col:
                right_proj.append(F.col(changelog.ts_col).alias(self.ts_col))
            elif c in right_cols:
                right_proj.append(F.col(c))
            else:
                right_proj.append(
                    F.lit(None).cast(self.df.schema[c].dataType).alias(c)
                )
        right = changelog.df.select(
            *right_proj,
            F.lit(False).alias("__is_left"),
            F.struct(*[F.col(c) for c in vals]).alias("__ver"),
        )
        unioned = left.unionByName(right)
        w = (
            Window.partitionBy(*self.key)
            .orderBy(F.col(self.ts_col).asc(), F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = unioned.select(
            *[F.col(c) for c in self.df.columns],
            "__is_left",
            F.last("__ver", ignorenulls=True).over(w).alias("__ver"),
        )
        return self._with(
            carried.filter(F.col("__is_left")).select(
                *[F.col(c) for c in self.df.columns],
                *[F.col(f"__ver.{c}").alias(f"{prefix}{c}") for c in vals],
            )
        )

    def join_windowed(
        self,
        other: "KStream",
        windows: JoinWindows,
        how: str = "inner",
        left_alias: str = "l",
        right_alias: str = "r",
    ) -> DataFrame:
        """Stream-stream windowed join (ResponsiveStores.streamStreamJoin,
        api/stores/ResponsiveStores.java:200-246): join events of equal key
        within [-before, +after]. Duplicate events both match — the
        reference's retainDuplicates STREAM store semantics
        (internal/stores/DuplicateKeyBuffer.java:28-59) — because a join has
        one output row per matching pair. Returns an aliased DataFrame
        (column namespaces `l`/`r`)."""
        left = self.df.alias(left_alias)
        right = other.df.alias(right_alias)
        cond = None
        for lk, rk in zip(self.key, other.key):
            c = F.col(f"{left_alias}.{lk}") == F.col(f"{right_alias}.{rk}")
            cond = c if cond is None else (cond & c)
        lts = ts_to_double(
            self.df, self.ts_col, col=F.col(f"{left_alias}.{self.ts_col}")
        )
        rts = ts_to_double(
            other.df, other.ts_col, col=F.col(f"{right_alias}.{other.ts_col}")
        )
        cond = cond & (rts >= lts - windows.before_s) & (rts <= lts + windows.after_s)
        return left.join(right, cond, how)

    # -- stream -> table ----------------------------------------------------
    def to_table(self, tiebreak: Sequence[str] = ()) -> "KTable":
        """Materialize as latest-per-key (KTable semantics). Batch: max_by on
        (ts, tiebreak...); streaming: update-mode stateful latest (see
        streaming/state.py)."""
        ordcols = [self.ts_col, *tiebreak]
        ord_struct = F.struct(*[F.col(c) for c in ordcols])
        value_cols = [c for c in self.df.columns if c not in self.key]
        aggs = [F.max_by(F.col(c), ord_struct).alias(c) for c in value_cols]
        snap = self.df.groupBy(*self.key).agg(*aggs)
        return KTable(snap, list(self.key))

    def to_fact_table(self, tiebreak: Sequence[str] = ()) -> "KTable":
        """FACT-store semantics: FIRST write per key wins (write-once facts /
        dedup, api/stores/ResponsiveStores.java:73-96). min_by on event time."""
        ordcols = [self.ts_col, *tiebreak]
        ord_struct = F.struct(*[F.col(c) for c in ordcols])
        value_cols = [c for c in self.df.columns if c not in self.key]
        aggs = [F.min_by(F.col(c), ord_struct).alias(c) for c in value_cols]
        snap = self.df.groupBy(*self.key).agg(*aggs)
        return KTable(snap, list(self.key))

    # -- PAPI (SURVEY.md §2.6) ----------------------------------------------
    def process(
        self,
        processor_factory,
        output_schema,
        order_by: Sequence[str] = (),
        ttl_seconds: float | None = None,
    ) -> "KStream":
        """stream.process(supplier, stores...) analog (KeyBatchExample.java:
        64-65): run a stateful Processor per key with the full store surface
        (put/get/delete/range/prefix/...), stream-time punctuators and TTL.
        Batch DataFrames replay deterministically; streaming DataFrames run
        on checkpointed per-key state (streaming/state.py)."""
        from responsive_pub_spark.streaming import state as _state

        runner = _state.process_streaming if self.df.isStreaming else _state.process
        out = runner(
            self.df,
            key=self.key,
            processor_factory=processor_factory,
            output_schema=output_schema,
            ts_col=self.ts_col,
            order_by=order_by,
            ttl_seconds=ttl_seconds,
        )
        return KStream(out, list(self.key), self.ts_col)

    def process_async(
        self,
        fn,
        output_schema,
        max_workers: int = 16,
        repartition_by_key: bool = True,
        order_by: Sequence[str] = (),
    ) -> "KStream":
        """Async per-record stage with same-key ordering (SURVEY.md §2.8 —
        AsyncProcessorSupplier analog; streaming/async_stage.py). Key
        co-location is ON by default (the global same-key order guarantee);
        pass repartition_by_key=False only for already-key-partitioned
        input."""
        from responsive_pub_spark.streaming.async_stage import async_map_ordered

        out = async_map_ordered(
            self.df, self.key, fn, output_schema,
            max_workers=max_workers, repartition_by_key=repartition_by_key,
            order_by=order_by,
        )
        return KStream(out, list(self.key), self.ts_col)

    def deduplicate(
        self,
        id_cols: "Sequence[str] | None" = None,
        within: "str | None" = None,
        order_by: Sequence[str] = (),
    ) -> "KStream":
        """Exact-dedup as a stream operator — the FACT-store use case
        (ResponsiveStores.java:79-96 names dedup as what the write-once
        store exists for) surfaced on the DSL.

        ``id_cols`` identify a duplicate (default: the stream key).
        Streaming: maps to ``dropDuplicatesWithinWatermark`` when
        ``within`` (a duration string, e.g. "10 minutes") is given — state
        for an id is evictable once the watermark passes, the bounded-state
        shape for infinite streams — else exact ``dropDuplicates`` with
        unbounded state. Batch twin: FIRST occurrence per id by
        (event time, ``order_by``) — putIfAbsent replay order
        (ChangelogMigrationTool.java:74-78), deterministic given a total
        order."""
        ids = list(id_cols) if id_cols else list(self.key)
        if self.df.isStreaming:
            if within is not None:
                out = self.df.withWatermark(
                    self.ts_col, within
                ).dropDuplicatesWithinWatermark(ids)
            else:
                out = self.df.dropDuplicates(ids)
            return self._with(out)
        w = Window.partitionBy(*ids).orderBy(
            ts_to_double(self.df, self.ts_col),
            *[F.col(c) for c in order_by],
        )
        return self._with(
            self.df.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )

    def suppress_until_time_limit(
        self, interval_s: int, tiebreak: "str | Sequence[str]" = ()
    ) -> DataFrame:
        """``suppress(Suppressed.untilTimeLimit(T, unbounded()))`` analog:
        rate-limit a changelog to AT MOST ONE update per key per
        ``interval_s`` of stream time — the latest update wins, emitted
        with the interval's close time (the throttle users put before
        ``.toStream().to(topic)`` to protect downstream consumers).

        Documented delta vs Kafka Streams: intervals here are FIXED
        epoch-aligned buckets (Spark's tumbling ``window``), while KS
        anchors each key's timer at its first buffered update. Both bound
        the emission rate to 1/key/interval; the grid form is what makes
        batch, streaming and the DuckDB oracle bit-identical.

        Batch: one row_number pick per (key, bucket) — a single keyed
        shuffle. Streaming: watermarked tumbling-window ``max_by`` in
        APPEND mode (the suppression buffer is the window state itself,
        same suppression point as ``suppress_until_window_closes``); the
        result is tagged for :func:`output_mode_for`. ``tiebreak`` makes
        the in-bucket order total when timestamps can tie (e.g. a unique
        id column).

        Output: key columns, ``emit_ts`` (bucket close, epoch-second
        BIGINT), then every other input column from the winning update.
        """
        tb = _as_list(tiebreak) if tiebreak else []
        val_cols = [
            c
            for c in self.df.columns
            if c not in set(self.key) | {self.ts_col}
        ]
        win = F.window(F.col(self.ts_col), f"{int(interval_s)} seconds")
        if self.df.isStreaming:
            s = self.df.withWatermark(self.ts_col, f"{int(interval_s)} seconds")
            agg = s.groupBy(win.alias("w"), *[F.col(k) for k in self.key]).agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in val_cols]),
                    F.struct(
                        F.col(self.ts_col), *[F.col(c) for c in tb]
                    ),
                ).alias("__v__")
            )
            out = agg.select(
                *[F.col(k) for k in self.key],
                _epoch(F.col("w.end")).alias("emit_ts"),
                *[F.col(f"__v__.{c}").alias(c) for c in val_cols],
            )
            _EMIT_FINAL.add(out)
            return out
        d = self.df.withColumn("__w__", win)
        w = Window.partitionBy(*self.key, "__w__").orderBy(
            F.desc(self.ts_col), *[F.desc(c) for c in tb]
        )
        return (
            d.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select(
                *[F.col(k) for k in self.key],
                _epoch(F.col("__w__.end")).alias("emit_ts"),
                *[F.col(c) for c in val_cols],
            )
        )

    # -- sink ---------------------------------------------------------------
    def to(self, path: str, fmt: str = "parquet", mode: str = "append", **options):
        """.to(topic) analog (STJoinExample.java:94-98): write the stream."""
        if self.df.isStreaming:
            writer = self.df.writeStream.format(fmt).outputMode(mode)
            for k, v in options.items():
                writer = writer.option(k, v)
            return writer.start(path)
        self.df.write.format(fmt).mode(mode).options(**options).save(path)
        return None

    def to_kafka(self, value_cols: Sequence[str], topic: str, **kwargs):
        """.to(topic) with Produced serdes (STJoinExample.java:94-98): key =
        the stream's key columns through the engine serde, value = JSON of
        ``value_cols``. See sources/kafka.to_kafka for sink modes."""
        from responsive_pub_spark.sources.kafka import to_kafka as _to_kafka

        return _to_kafka(
            self.df, self.key, value_cols, topic, ts_col=self.ts_col, **kwargs
        )


@dataclass
class KGroupedStream:
    """Result of groupByKey()/groupBy() — aggregation entry point.

    Aggregations shuffle once on the grouping key with map-side partial
    aggregation (Spark's HashAggregate partial/final), the scale analog of
    the reference's CommitBuffer batching write path
    (internal/stores/CommitBuffer.java:340-395)."""

    df: DataFrame
    key: list[str]
    ts_col: str

    # -- unwindowed (SURVEY.md §2.3) ---------------------------------------
    def count(self, alias: str = "cnt") -> "KTable":
        """groupByKey().count() (MinimalIntegrationTest.java:136-139)."""
        return KTable(self.df.groupBy(*self.key).agg(F.count("*").alias(alias)), list(self.key))

    def reduce(self, *aggs: Column) -> "KTable":
        """groupByKey().reduce(fn) for algebraic folds (sum/min/max...)."""
        return KTable(self.df.groupBy(*self.key).agg(*aggs), list(self.key))

    def aggregate(self, *aggs: Column) -> "KTable":
        """groupByKey().aggregate(init, agg): generic fold. Order-sensitive
        folds must sort on (ts, tiebreak) inside the agg expression, e.g.
        array_sort(collect_list(struct(ts, v))) — exactly how the reference's
        concat-agg tests fix order via per-partition input
        (ResponsiveKeyValueStoreIntegrationTest.java:213)."""
        return KTable(self.df.groupBy(*self.key).agg(*aggs), list(self.key))

    def windowed_by(self, windows: "TimeWindows | SessionWindows") -> "TimeWindowedKStream":
        return TimeWindowedKStream(self.df, self.key, self.ts_col, windows)

    def cogroup(self, *aggs: Column) -> "CogroupedKStream":
        """KS ``CogroupedKStream`` entry point: start a cogroup with this
        stream's aggregators; chain further streams with ``.cogroup(...)``
        and finish with ``.aggregate()`` — one output row per key holding
        every stream's aggregate (KafkaStreams cogroup contract: each
        stream updates its own slice of the shared keyed state)."""
        return CogroupedKStream([(self, list(aggs))])


@dataclass
class CogroupedKStream:
    """Builder for multi-stream cogrouped aggregation (KS 2.5+ surface).

    Spark-first mapping: each participating grouped stream aggregates
    independently (shuffle on the shared key with map-side partials), and
    the per-stream aggregates FULL-OUTER join on the key — identical final
    state to KS's shared-store cogroup, since each KS aggregator only ever
    reads/writes its own slice. Keys present in any stream emit; a stream
    with no records for a key contributes NULL (KS: that slice simply was
    never initialized). All joins reuse one hash partitioning on the key."""

    groups: list

    def cogroup(self, grouped: "KGroupedStream", *aggs: Column) -> "CogroupedKStream":
        return CogroupedKStream([*self.groups, (grouped, list(aggs))])

    def aggregate(self) -> "KTable":
        first_key = list(self.groups[0][0].key)
        out = None
        for grouped, aggs in self.groups:
            if list(grouped.key) != first_key:
                raise ValueError(
                    f"cogrouped streams must share the key: {grouped.key} "
                    f"!= {first_key}"
                )
            part = grouped.df.groupBy(*grouped.key).agg(*aggs)
            out = part if out is None else out.join(part, first_key, "full_outer")
        return KTable(out, first_key)


#: DataFrames produced by a suppressed windowed aggregation — consult via
#: :func:`output_mode_for` when starting the sink. Weak references: entries
#: vanish with the DataFrame, no lifecycle management needed.
import weakref

_EMIT_FINAL: "weakref.WeakSet" = weakref.WeakSet()


def output_mode_for(df: DataFrame, default: str = "update") -> str:
    """The writeStream output mode a windowed aggregate asked for:
    ``append`` if it was built through ``suppress_until_window_closes()``
    (emit-final — one row per window once the watermark closes it),
    else ``default``. Spark's suppression point is the SINK's output mode,
    not an operator in the plan — this carries the KS-style declaration
    from the builder to the sink."""
    return "append" if df in _EMIT_FINAL else default


@dataclass
class TimeWindowedKStream:
    """Windowed aggregation builder (tumbling / hopping / session)."""

    df: DataFrame
    key: list[str]
    ts_col: str
    windows: "TimeWindows | SessionWindows"
    suppressed: bool = False

    def suppress_until_window_closes(self) -> "TimeWindowedKStream":
        """``suppress(untilWindowCloses(unbounded()))`` analog: emit ONE
        final row per window, only after the watermark passes the window
        end. In Spark that IS the APPEND output mode of a watermarked
        windowed aggregation (the suppression buffer is the streaming
        state store itself — no extra operator; equivalence pinned by
        tests/test_streaming.py::test_suppress_until_window_closes_analog).
        Requires a grace period: the watermark is what closes windows.
        The produced DataFrame is tagged so sinks can pick the mode via
        :func:`output_mode_for`."""
        if self.windows.grace_s is None:
            raise ValueError(
                "suppress(untilWindowCloses) needs a grace period: the "
                "watermark (stream time - grace) is what closes a window — "
                "use TimeWindows.of_size_and_grace(...)"
            )
        return TimeWindowedKStream(
            self.df, list(self.key), self.ts_col, self.windows, suppressed=True
        )

    def _grace_filtered(self) -> DataFrame:
        """Apply grace: drop records older than (max event time - grace) —
        KS grace semantics (ResponsiveWindowStoreIntegrationTest.java:290-293
        late-record drop vectors). Batch analog of the final watermark; in
        streaming this becomes withWatermark(ts, grace)."""
        g = self.windows.grace_s
        if g is None:
            return self.df
        if self.df.isStreaming:
            return self.df.withWatermark(self.ts_col, f"{int(g)} seconds")
        wm = self.df.agg(F.max(ts_to_double(self.df, self.ts_col)).alias("m"))
        return self.df.join(F.broadcast(wm)).filter(
            ts_to_double(self.df, self.ts_col) >= F.col("m") - F.lit(g)
        ).drop("m")

    def agg(self, *aggs: Column) -> DataFrame:
        """Aggregate per (key, window). Output columns: key..., window_start
        and window_end as epoch-second BIGINTs, then the aggregates."""
        df = self._grace_filtered()
        if self.suppressed and not self.df.isStreaming:
            # batch analog of suppress(untilWindowCloses): in a ts-ordered
            # replay the running watermark (ts - grace) never passes a
            # record's own window end, so nothing is late — the final
            # aggregate of a CLOSED window includes everything that arrived
            # before close.  Applying the final-watermark late-drop here
            # instead would delete every record of every closed window
            # (all are older than max ts - grace) and emit nothing.
            df = self.df
        w = self.windows
        if isinstance(w, SessionWindows):
            win = F.session_window(F.col(self.ts_col), w.gap_str)
        elif w.advance_s != w.size_s:
            win = F.window(F.col(self.ts_col), w.size_str, w.advance_str)
        else:
            win = F.window(F.col(self.ts_col), w.size_str)
        out = df.groupBy(win.alias("w"), *[F.col(k) for k in self.key]).agg(*aggs)
        res = out.select(
            *[F.col(k) for k in self.key],
            _epoch(F.col("w.start")).alias("window_start"),
            _epoch(F.col("w.end")).alias("window_end"),
            *[F.col(a) for a in out.columns if a != "w" and a not in self.key],
        )
        if self.suppressed:
            if not df.isStreaming:
                # batch analog of APPEND-mode final emission: only windows
                # CLOSED by the final watermark (max event time - grace)
                # emit; a window still inside grace when the stream ends is
                # open state, never an output row.  Broadcast 1-row scalar.
                wm = self.df.agg(
                    (
                        F.max(ts_to_double(self.df, self.ts_col))
                        - F.lit(float(self.windows.grace_s))
                    ).alias("__wm")
                )
                res = (
                    res.join(F.broadcast(wm))
                    .filter(F.col("window_end") <= F.col("__wm"))
                    .drop("__wm")
                )
            _EMIT_FINAL.add(res)
        return res

    def count(self, alias: str = "cnt") -> DataFrame:
        return self.agg(F.count("*").alias(alias))


@dataclass
class KTable:
    """Changelog-table snapshot: exactly one row per key."""

    df: DataFrame
    key: list[str]

    def _with(self, df: DataFrame) -> "KTable":
        return KTable(df, list(self.key))

    def filter(self, cond: "Column | str") -> "KTable":
        return self._with(self.df.filter(cond))

    def map_values(self, **cols: "Column | str") -> "KTable":
        out = self.df
        for name, expr in cols.items():
            out = out.withColumn(name, F.expr(expr) if isinstance(expr, str) else expr)
        return self._with(out)

    def to_stream(self, ts_col: str = "ts") -> KStream:
        return KStream(self.df, list(self.key), ts_col)

    def materialize(self, path: str, checkpoint: "str | None" = None,
                    ts_col: "str | None" = None):
        """Durably materialize as a keyed KV table — the analog of
        ``Materialized.as(store)`` on a Responsive remote store
        (api/stores/ResponsiveStores.java:116-127): batch writes one delta;
        a streaming changelog runs update-mode through the exactly-once
        ``KeyValueTableSink`` (commit-aligned flush + batch-id fencing,
        SURVEY.md §3.2). Returns the sink; ``sink.read(spark)`` is the
        interactive-query surface over the materialized table."""
        from responsive_pub_spark.streaming.kv_sink import KeyValueTableSink
        from responsive_pub_spark.streaming.runtime import run_to_sink

        value_cols = [c for c in self.df.columns if c not in self.key and c != ts_col]
        sink = KeyValueTableSink(path, list(self.key), value_cols, ts_col=ts_col)
        if self.df.isStreaming:
            if checkpoint is None:
                raise ValueError("streaming materialize requires a checkpoint dir")
            run_to_sink(self.df, sink, checkpoint, output_mode="update")
        else:
            sink(self.df, sink._last_applied() + 1)
        return sink

    def join(self, other: "KTable", how: str = "inner") -> "KTable":
        """Primary-key table-table join (SURVEY.md §2.4): both sides are
        latest-per-key snapshots joined on the shared key."""
        on = list(zip(self.key, other.key))
        right = other.df
        # align right key column names to left for equi-join
        for lk, rk in on:
            if rk != lk:
                right = right.withColumnRenamed(rk, lk)
        joined = self.df.join(right, on=[lk for lk, _ in on], how=how)
        return KTable(joined, list(self.key))

    def fk_join(
        self,
        other: "KTable",
        fk: "str | Sequence[str]",
        how: str = "inner",
        select: Sequence["Column | str"] | None = None,
    ) -> "KTable":
        """Foreign-key table-table join
        (integration/ResponsiveForeignKeyJoinIntegrationTest.java:150-154):
        join on a foreign key extracted from the LEFT value against the
        RIGHT primary key. The reference implements this with internal
        subscription/response topics re-keying by FK; declaratively it is an
        equi-join on the FK — Catalyst plans the re-key shuffle, and a
        right-side update re-emits all referencing left rows on recompute
        (update fan-out covered by the streaming layer)."""
        fks = _as_list(fk)
        cond = None
        for f_, rk in zip(fks, other.key):
            c = self.df[f_].eqNullSafe(other.df[rk])
            cond = c if cond is None else (cond & c)
        joined = self.df.join(other.df, cond, how)
        for rk in other.key:
            if rk not in fks:
                joined = joined.drop(other.df[rk])
        out = KTable(joined, list(self.key))
        if select:
            out = KTable(joined.select(*select), list(self.key))
        return out

    def group_by(self, *cols: str) -> "KGroupedTable":
        """KGroupedTable re-aggregation (SURVEY.md §2.3): re-key the table
        and aggregate; add/subtract retraction semantics are implicit in
        recomputing over the current snapshot."""
        return KGroupedTable(self.df, list(cols))


@dataclass
class KGroupedTable:
    df: DataFrame
    key: list[str]

    def _check_batch(self) -> None:
        # Spark rejects chaining two stateful aggregations (latest-per-key,
        # then re-agg) in one update-mode query, and a naive re-agg over an
        # update stream would double-count without retraction
        if self.df.isStreaming:
            raise ValueError(
                "streaming KGroupedTable re-aggregation needs RETRACTION "
                "(get-before-put subtract/add) and runs as two chained "
                "checkpointed queries over a retraction topic: use "
                "streaming/regroup.RegroupStreaming (gate row "
                "table_regroup_streaming shows the harness)"
            )

    def count(self, alias: str = "cnt") -> KTable:
        self._check_batch()
        return KTable(self.df.groupBy(*self.key).agg(F.count("*").alias(alias)), list(self.key))

    def aggregate(self, *aggs: Column) -> KTable:
        self._check_batch()
        return KTable(self.df.groupBy(*self.key).agg(*aggs), list(self.key))


@dataclass
class GlobalKTable:
    """Fully replicated table — always broadcast on join.

    With a ``loader``, the table is REFRESHABLE: ``refresh()`` re-resolves
    the snapshot from the source, and the per-batch streaming join
    (streaming/global_refresh.py) calls it at every micro-batch boundary —
    the analog of the reference's global stores consuming updates at
    runtime (internal/stores/GlobalOperations.java:49-85,
    integration/GlobalStoreIntegrationTest.java:147-153). A static-only
    GlobalKTable (no loader) is a pinned snapshot."""

    df: DataFrame
    key: list[str]
    loader: "Callable[[], DataFrame] | None" = None

    def refresh(self) -> "GlobalKTable":
        """Fresh snapshot from the source (no-op without a loader)."""
        if self.loader is None:
            return self
        return GlobalKTable(self.loader(), list(self.key), self.loader)
