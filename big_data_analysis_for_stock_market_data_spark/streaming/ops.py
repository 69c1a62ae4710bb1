"""Streaming operators: watermarked windows, dedup, stateful recurrences.

Scale notes
-----------
- Every op keys its state by a partition column (user/symbol): state is
  sharded across executors by the same hash shuffle batch ops use; no
  global ordering is ever required (the batch engine's Q3 rule, applied to
  streams).
- Watermarks bound state: windowed aggregates drop windows older than the
  watermark; ``dropDuplicatesWithinWatermark`` evicts seen-key state.
  Without a watermark, 100 TB of stream would accumulate unbounded state.
- ``streaming_ema`` carries O(1) state per key (last EMA + last timestamp),
  the minimal sufficient statistic of the recurrence — state size is
  |keys|, independent of stream length.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterable, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

AggSpec = "dict[str, tuple[str, str] | Column]"


def _agg_exprs(aggs) -> list[Column]:
    """out_col -> ('avg','value') shorthand, or a full Column expression
    (callers needing exact-decimal sums pass the Column form)."""
    exprs = []
    for out, spec in aggs.items():
        if isinstance(spec, Column):
            exprs.append(spec.alias(out))
        else:
            fn, col = spec
            exprs.append(getattr(F, fn)(col).alias(out))
    return exprs


def read_stream_parquet(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """File-source stream. Streaming reads REQUIRE an explicit schema (no
    inference pass is possible on an unbounded source) — the engine's
    explicit-schema default (S1) is mandatory here, not a style choice.
    Applies the same TIMESTAMP(NANOS)->micros normalization as the batch
    reader (sources/io.py) so batch and stream agree on types."""
    from big_data_analysis_for_stock_market_data_spark.sources.io import (
        _footer_nano_columns,
        _nanos_to_timestamp,
    )

    # Footer-sniff which timestamp columns are physically TIMESTAMP(NANOS):
    # only those are declared LongType (Spark cannot read NANOS as
    # TimestampType) and converted back; micros/millis-backed timestamp
    # columns stream straight through as TimestampType. Treating every
    # timestamp as nanos would shrink micros epochs ~1000x (into Jan 1970).
    footer_nanos = _footer_nano_columns(path)
    if footer_nanos and (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true"
    ):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read_fields = []
    nanos_cols = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType) and f.name in footer_nanos:
            read_fields.append(T.StructField(f.name, T.LongType(), f.nullable))
            nanos_cols.append(f.name)
        else:
            read_fields.append(f)
    reader = spark.readStream.schema(T.StructType(read_fields))
    # The file source requires a directory; a single-file path becomes
    # parent-dir + pathGlobFilter so callers can point at one table file
    # (e.g. /root/testdata/sf0.01/events.parquet) like the batch reader.
    import os

    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    for name in nanos_cols:
        df = df.withColumn(name, _nanos_to_timestamp(name))
    return df


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs,
    slide: str | None = None,
    watermark: str = "1 day",
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Tumbling (or sliding, with ``slide``) event-time windowed aggregate
    with a late-data watermark. ``aggs`` maps out_col -> (fn, in_col) or
    out_col -> Column expression.
    Output columns: group keys, window_start, window_end, aggregates."""
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    exprs = _agg_exprs(aggs)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*group_by, w.alias("__w"))
        .agg(*exprs)
        .select(
            *group_by,
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            *[F.col(out) for out in aggs],
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs,
    watermark: str = "1 day",
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Session windows: rows within ``gap`` of each other merge into one
    session per group key (dynamic-length windows; state merges sessions as
    late rows arrive up to the watermark)."""
    exprs = _agg_exprs(aggs)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*group_by, F.session_window(ts_col, gap).alias("__w"))
        .agg(*exprs)
        .select(
            *group_by,
            F.col("__w.start").alias("session_start"),
            F.col("__w.end").alias("session_end"),
            *[F.col(out) for out in aggs],
        )
    )


#: Spark's default state store holds every key's state in executor heap
#: (HDFSBackedStateStoreProvider) — fine for bounded keyspaces, fatal when
#: streaming state outgrows memory (billions of keys at 100 TB ingest).
#: RocksDB spills state to local disk with changelog checkpointing so a
#: state store upload ships deltas, not full snapshots.
ROCKSDB_STATE_CONFIGS: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


class rocksdb_state:
    """Context manager scoping the RocksDB state store provider to one
    streaming query start: state-store choice is read at query START, so
    setting it around ``run_to_memory``/``start()`` is sufficient, and
    restoring the previous confs keeps other queries on their provider.
    Output is provider-independent (the provider stores state; it never
    changes semantics) — test_streaming pins RocksDB == default output."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in ROCKSDB_STATE_CONFIGS.items():
            try:
                self._saved[k] = self.spark.conf.get(k)
            except Exception:
                self._saved[k] = None
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, old in self._saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)
        return False


def chained_windowed_rollup(
    df: DataFrame,
    ts_col: str,
    inner: str,
    outer: str,
    value_col: str,
    watermark: str = "1 hour",
    group_by: Sequence[str] = (),
) -> DataFrame:
    """TWO chained stateful aggregations in one streaming query — the
    multiple-stateful-operators capability (SPARK-40925, Spark 3.4+):
    an ``inner``-grain windowed aggregate whose event-time column
    (``window_time``) feeds a second, ``outer``-grain windowed aggregate.
    The streaming twin of the batch hour→day cascade in
    ``operators/incremental.py`` (`mv_rollup_cascade`): the day row is
    built from hour partials, never from raw events, so per-key state at
    the outer grain is bounded by |inner buckets per outer bucket|, not
    by event count.

    Emits, per (group, outer window): event count, exact-decimal value
    sum (associative — partials merge losslessly), and the number of
    non-empty inner buckets. Requires append mode; an outer window emits
    only once the propagated watermark passes its end, so a drained
    replay equals the batch rollup strictly BELOW the final watermark
    horizon (the registry entry applies the same horizon filter to both
    sides — the honest completeness contract, as in the left-outer
    stream-stream join)."""
    w1 = (
        df.withWatermark(ts_col, watermark)
        .groupBy(*group_by, F.window(ts_col, inner).alias("__w1"))
        .agg(
            F.count(value_col).alias("__n"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__s"),
        )
    )
    w2 = (
        w1.groupBy(
            *group_by, F.window(F.window_time("__w1"), outer).alias("__w2")
        )
        .agg(
            F.sum("__n").alias("n_events"),
            F.sum("__s").cast("double").alias("sum_value"),
            F.count(F.lit(1)).alias("n_inner_buckets"),
        )
    )
    return w2.select(
        *group_by,
        F.col("__w2.start").alias("window_start"),
        F.col("__w2.end").alias("window_end"),
        "n_events",
        "n_inner_buckets",
        "sum_value",
    )


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup on ``keys``. With a watermark, uses
    ``dropDuplicatesWithinWatermark`` so per-key state is EVICTED once the
    key is older than the watermark — the only form that survives an
    unbounded stream. Without one, state grows with distinct keys
    (exploration only)."""
    if watermark:
        if not ts_col:
            raise ValueError("watermarked dedup requires ts_col")
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def streaming_ema(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    span: int = 10,
) -> DataFrame:
    """Per-key streaming EMA via ``applyInPandasWithState`` — the streaming
    twin of the batch recursive indicators (operators/indicators.py).

    State per key is the recurrence's sufficient statistic: (last_ema,
    last_ts_micros). Each micro-batch folds its rows in timestamp order into
    the carried EMA, so a full replay reproduces the batch
    ``ewm(span, adjust=False)`` exactly. Out-of-order rows *within* a batch
    are sorted; rows older than the carried timestamp are late arrivals and
    are passed through with null ema (they cannot be retro-folded into an
    already-emitted recurrence — the documented streaming-vs-batch delta).

    Output: key, ts, value, ema.
    """
    alpha = 2.0 / (span + 1)
    out_schema = T.StructType(
        [
            T.StructField("key", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ema", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ema", T.DoubleType()),
            T.StructField("last_ts_micros", T.LongType()),
        ]
    )

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            last_ema, last_ts = state.get
        else:
            last_ema, last_ts = None, -(2**62)
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            ts_micros = pdf[ts_col].astype("int64") // 1000
            values = pdf[value_col].astype("float64")
            emas = []
            for t, x in zip(ts_micros, values):
                if t < last_ts:
                    emas.append(None)  # late row: passthrough, not folded
                    continue
                last_ema = x if last_ema is None else (
                    alpha * x + (1.0 - alpha) * last_ema
                )
                last_ts = t
                emas.append(last_ema)
            yield pd.DataFrame(
                {
                    "key": key[0],
                    "ts": pdf[ts_col],
                    "value": values,
                    "ema": pd.array(emas, dtype="float64"),
                }
            )
        state.update((last_ema, last_ts))

    return df.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RUNNING_TOTALS_OUT = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_so_far", T.LongType()),
        T.StructField("sum_micros", T.LongType()),
        T.StructField("max_so_far", T.DoubleType()),
    ]
)
_RUNNING_TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.LongType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _fold_running_totals(key, pdf: pd.DataFrame, ts_col, value_col, n, s, mx):
    """Shared fold: one sorted micro-batch into running (n, sum_micros,
    max). Integer adds + max are association-free, so a replay is exactly
    the batch running-window twin. Micros round half away from zero (the
    ANSI round semantics), keeping the fold and a SQL twin bit-identical."""
    import numpy as np

    pdf = pdf.sort_values(ts_col, kind="mergesort")
    vals = pdf[value_col].to_numpy(dtype="float64")
    ns = np.empty(len(vals), dtype="int64")
    ss = np.empty(len(vals), dtype="int64")
    ms = np.empty(len(vals), dtype="float64")
    for i, v in enumerate(vals):
        n += 1
        micros = v * 1_000_000.0
        s += int(np.floor(abs(micros) + 0.5) * (1 if micros >= 0 else -1))
        mx = v if mx is None else max(mx, v)
        ns[i], ss[i], ms[i] = n, s, mx
    out = pd.DataFrame(
        {
            "key": key, "ts": pdf[ts_col], "value": vals,
            "n_so_far": ns, "sum_micros": ss, "max_so_far": ms,
        }
    )
    return out, n, s, mx


def streaming_running_totals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    api: str = "auto",
) -> DataFrame:
    """Per-key running totals (count, exact integer-micros sum, max so
    far) with O(1) state per key, on either stateful API:

    - ``api='apply_in_pandas'``: ``applyInPandasWithState`` (GroupState)
      — dependency-free; the verified, registry-pinned path;
    - ``api='transform_with_state'``: Spark 4's
      ``transformWithStateInPandas`` (StatefulProcessor + ValueState).
      EXPERIMENTAL here: its Python worker needs ``protobuf``, absent in
      this environment, so the branch is mirror-maintained but has no
      executable test — do not route verified entries through it;
    - ``api='auto'``: modern API when protobuf is importable, else the
      GroupState path. Outputs are designed to be identical either way
      (every statistic is association-free).
    """
    if api == "auto":
        try:
            import google.protobuf  # noqa: F401
            api = "transform_with_state"
        except ImportError:
            api = "apply_in_pandas"

    if api == "apply_in_pandas":
        def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
            n, s, mx = state.get if state.exists else (0, 0, None)
            # Arrow may deliver a key's micro-batch rows as SEVERAL chunks
            # in arbitrary chunk order; folding chunk-by-chunk would apply
            # the running statistics out of timestamp order. Concatenate the
            # whole micro-batch for this key, then sort ONCE and fold ONCE.
            # State stays O(1) per key; only one micro-batch is buffered.
            chunks = [pdf for pdf in pdfs if len(pdf)]
            if chunks:
                whole = (
                    chunks[0]
                    if len(chunks) == 1
                    else pd.concat(chunks, ignore_index=True)
                )
                out, n, s, mx = _fold_running_totals(
                    key[0], whole, ts_col, value_col, n, s, mx
                )
                yield out
            state.update((n, s, mx))

        return df.groupBy(key_col).applyInPandasWithState(
            fold,
            outputStructType=_RUNNING_TOTALS_OUT,
            stateStructType=_RUNNING_TOTALS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    if api != "transform_with_state":
        raise ValueError(f"unknown api {api!r}")

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", _RUNNING_TOTALS_STATE
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, s, mx = self._totals.get()
            else:
                n, s, mx = 0, 0, None
            # Same chunk-order hazard as the GroupState path: concat the
            # key's whole micro-batch, sort once, fold once.
            chunks = [pdf for pdf in rows if len(pdf)]
            if chunks:
                whole = (
                    chunks[0]
                    if len(chunks) == 1
                    else pd.concat(chunks, ignore_index=True)
                )
                out, n, s, mx = _fold_running_totals(
                    key[0], whole, ts_col, value_col, n, s, mx
                )
                yield out
            self._totals.update((n, s, mx))

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=_RUNNING_TOTALS_OUT,
        outputMode="append",
        timeMode="none",
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: right rows within
    ``[left_ts, left_ts + within]`` for matching keys. Both sides carry
    watermarks and the join condition is time-bounded — the two facts that
    let Spark EVICT buffered rows instead of holding both streams forever
    (an unbounded-state stream-stream join is a memory leak, not an
    operator). Column names must be disjoint apart from ``on``.

    ``how='left_outer'`` additionally emits unmatched left rows
    null-padded — but only once the watermark proves no matching right
    row can still arrive, so outer results trail the watermark by design
    (a drained replay converges to the batch left join).
    ``how='full_outer'`` extends the same contract to unmatched RIGHT
    rows (supported since Spark 3.1): each side's null-padded rows emit
    when the watermark proves the other side complete for their bound."""
    if how not in (
        "inner", "left_outer", "leftouter", "full_outer", "fullouter",
    ):
        raise ValueError(
            "stream-stream interval join supports inner/left_outer/"
            f"full_outer, got {how!r}"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for key in on:
        c = lw[key] == rw[key]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how).drop(*[rw[k] for k in on])


def stream_static_join(
    stream: DataFrame,
    static: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch against a
    static (batch) DataFrame. Stateless — nothing is buffered across
    micro-batches, no watermark needed, and with ``broadcast`` the dim ships
    to executors once per batch instead of shuffling the stream. The
    100 TB shape for enriching an event firehose with reference data; for a
    dim too big to broadcast, pre-bucket both sides on the key and set
    ``broadcast=False``."""
    dim = F.broadcast(static) if broadcast else static
    return stream.join(dim, on=list(on), how=how)


class _scoped_state_partitions:
    """Bound the number of STATE partitions for a drain (r07).

    A stateful streaming query opens one state-store instance per
    shuffle partition per stateful operator (a stream-stream join opens
    FOUR per partition), and every micro-batch pays a per-instance
    commit (delta file + fsync) regardless of how few rows the instance
    holds. With the session default of 32 partitions the full-outer
    interval join commits 128 instances twice (data batch + watermark
    eviction batch) — measured 72-122 s at sf0.1, dropping to 11-19 s
    at 8 partitions with identical results (state partitioning never
    affects values, only placement). An interleaved A/B probe
    (tools/stream_drain_probe.py, STREAM_DRAIN_PROBE.json, r08) shows
    the per-instance commit still dominates below 8: min drain 3.77 s
    at 8 partitions vs 2.34 s at 2 (identical 39546-row results; 1
    partition loses parallelism again at 2.49 s), so drains default to
    2. The number is read at the FIRST
    batch of a new checkpoint, so scoping the conf around the drain is
    sufficient and cannot leak into concurrent batch plans (plans built
    before or after keep the session default; the registry drains
    sequentially). At cluster scale pass ``state_partitions`` ~2-4x the
    executor count instead — the per-instance commit amortizes once
    instances hold real state."""

    def __init__(self, spark: SparkSession, n: "int | None"):
        self.spark = spark
        self.n = n
        self.old: str | None = None

    def __enter__(self):
        if self.n is not None:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        if self.old is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def run_to_memory(
    df: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    state_partitions: "int | None" = 2,
) -> tuple[SparkSession, str]:
    """Execute a streaming DataFrame to completion over the data available
    now (``trigger(availableNow=True)``) into a memory sink; returns the
    session and sink table name. This is how the query registry exposes
    streaming ops to the batch-shaped oracle harness: replay-the-stream ==
    run-the-batch. ``state_partitions`` bounds state-store instance count
    for the drain (see ``_scoped_state_partitions``); None keeps the
    session default."""
    sink = name or f"stream_sink_{uuid.uuid4().hex[:12]}"
    with _scoped_state_partitions(df.sparkSession, state_partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession, sink


def _rename_or_raise(fs, src, dst) -> None:
    # Hadoop's FileSystem.rename reports failure by returning false
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _recover_target(fs, target, aside) -> None:
    """Finish a swap that stopped part-way: an aside copy with no target
    is the last whole table, so it goes back in place; an aside copy next
    to a target is the old table the swap already replaced."""
    if fs.exists(aside):
        if fs.exists(target):
            fs.delete(aside, True)
        else:
            _rename_or_raise(fs, aside, target)


def _swap_into_place(fs, stage, target, aside) -> None:
    """Replace ``target`` with ``stage`` on a Hadoop-style filesystem
    (``exists``/``rename``/``delete``): old table aside, stage in, aside
    deleted. Raises if a rename fails, leaving the old table aside for
    ``_recover_target``."""
    if fs.exists(target):
        _rename_or_raise(fs, target, aside)
    _rename_or_raise(fs, stage, target)
    fs.delete(aside, True)


def run_upsert_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
) -> None:
    """Streaming SCD-1 upsert sink (``foreachBatch`` merge): each
    micro-batch is resolved to one candidate per key (max ``order`` tuple —
    same contract as ``aggregates.latest_by_key``), merged with the current
    parquet target, and the target is replaced via a staging directory:
    the old table is renamed aside, the stage renamed in, then the aside
    copy deleted (``_swap_into_place``). A crash at any step leaves one
    whole table on disk; the next batch first restores the aside copy if
    the target is missing (``_recover_target``).

    Exactly-once STATE: foreachBatch is at-least-once, but the merge is
    idempotent (max_by over a total order), so a replayed batch converges to
    the same target. At 100 TB the full-target rewrite becomes
    partition-scoped: partition the target by a key-derived bucket column
    and rewrite only the buckets the batch touches (dynamic partition
    overwrite) — the merge logic is unchanged; only the write scope narrows.
    """
    from big_data_analysis_for_stock_market_data_spark.operators.aggregates import (
        latest_by_key,
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        resolved = latest_by_key(batch_df, keys, order, payload)
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        aside = jvm.org.apache.hadoop.fs.Path(f"{path}__aside")
        fs = hpath.getFileSystem(hconf)
        _recover_target(fs, hpath, aside)
        if fs.exists(hpath):
            current = spark.read.parquet(path).select(*keys, *payload)
            resolved = latest_by_key(
                current.unionByName(resolved.select(*keys, *payload)),
                keys, order, payload,
            )
        stage = f"{path}__stage_{batch_id}"
        resolved.write.mode("overwrite").parquet(stage)
        _swap_into_place(fs, jvm.org.apache.hadoop.fs.Path(stage), hpath, aside)

    with _scoped_state_partitions(df.sparkSession, 2):
        q = (
            df.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Durable streaming sink: drain everything available now into a
    parquet directory with a checkpoint. The checkpoint's WAL + the file
    sink's transaction log give exactly-once FILE OUTPUT across restarts —
    re-running after completion (or a crash) writes nothing twice; new
    source data resumes from the recorded offsets. This is the production
    twin of ``run_to_memory`` (which exists for the batch-shaped oracle
    harness)."""
    with _scoped_state_partitions(df.sparkSession, 2):
        q = (
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
