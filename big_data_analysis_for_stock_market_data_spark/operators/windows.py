"""Window operators: label construction and rolling frames (SURVEY.md §2.5).

The reference builds its binary label with an **unpartitioned** window —
``LAG(high) OVER (ORDER BY date)`` (``G_2_rf_nordd.py:36``) — which Spark
executes by moving every row into a single partition (SURVEY.md §2.9-Q3):
fine at 671 K rows, fatal at 100 TB. Every operator here therefore takes a
``partition_by`` key (symbol, user, …). A global window remains available
explicitly via ``partition_by=None`` for small frames, but the engine warns
in the docstring rather than silently serializing the cluster.

Q1 (lag-vs-lead label bug): the reference's eight scripts alias
``LAG(high)`` — the *previous* row — as ``next_high`` and build the label
from it, while the notebook (cell 50) and the presentation (p.15) state the
intent is the *following* row's high. ``label_buy_sell`` implements the
intent (``mode='lead'``) and offers byte-compatible replication
(``mode='lag_parity'``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _ordered_window(
    order_by: str | Column,
    partition_by: str | Sequence[str] | None,
) -> WindowSpec:
    if partition_by is None:
        return Window.orderBy(order_by)
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    return Window.partitionBy(*partition_by).orderBy(order_by)


def label_buy_sell(
    df: DataFrame,
    value_col: str = "high",
    order_by: str = "date",
    partition_by: str | Sequence[str] | None = None,
    mode: str = "lead",
    out_col: str = "buy_or_sell",
) -> DataFrame:
    """Binary next-step label (reference W1/W3).

    ``mode='lead'``: label = 1 iff the *next* row's ``value_col`` exceeds the
    current one (the stated intent; ``G_2_data_exploration.ipynb cell 50``).
    ``mode='lag_parity'``: replicates the scripts' actual computation —
    ``LAG(value)`` compared against current (``G_2_rf_nordd.py:36-37``).
    """
    w = _ordered_window(order_by, partition_by)
    if mode == "lead":
        neighbor = F.lead(value_col, 1).over(w)
    elif mode == "lag_parity":
        neighbor = F.lag(value_col, 1).over(w)
    else:
        raise ValueError(f"mode must be 'lead' or 'lag_parity', got {mode!r}")
    return df.withColumn(
        out_col, F.when(neighbor > F.col(value_col), 1).otherwise(0)
    )


def with_lag(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    offset: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """``LAG(value, offset)`` (reference W1/W2). The reference's W2 variant
    orders by a day-grain key over minute rows — ties make it
    nondeterministic (Q2); callers must pass a total ordering."""
    w = _ordered_window(order_by, partition_by)
    return df.withColumn(out_col or f"lag_{value_col}", F.lag(value_col, offset).over(w))


def with_lead(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    offset: int = 1,
    out_col: str | None = None,
) -> DataFrame:
    """``LEAD(value, offset)`` (reference W3, notebook cell 50)."""
    w = _ordered_window(order_by, partition_by)
    return df.withColumn(
        out_col or f"lead_{value_col}", F.lead(value_col, offset).over(w)
    )


def shuffle_partitions(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` as an int (Spark rejects a
    non-integer value when the conf is set)."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def compute_order_cuts(df: DataFrame, order_by: str, n: int) -> list[float]:
    """n-1 quantile cut points of ``order_by`` as plain floats — ONE
    approxQuantile job, run by the caller before planning. Callers that
    hold a cheaper frame exposing the same column (e.g. the raw fact table
    before window enrichment) should compute cuts there and pass them
    down: the sketch then scans a column-pruned plan instead of re-running
    the full upstream pipeline."""
    key = F.col(order_by).cast("double")
    probs = [i / n for i in range(1, n)]
    if not probs:
        return []
    return sorted(
        set(df.select(key.alias("__k")).stat.approxQuantile("__k", probs, 0.001))
    )


def _quantile_buckets(order_by: str, cuts: Sequence[float]) -> Column:
    """Bucket id of ``order_by`` (numeric/timestamp) from precomputed cut
    points (``compute_order_cuts``): the number of cuts below the key. The
    cuts are literals in the expression, so every plan branch that
    evaluates it assigns identical buckets."""
    key = F.col(order_by).cast("double")
    # plain conditional sum, not a higher-order aggregate(): lambda
    # functions inside expressions that later become grouping keys hit
    # Catalyst binding bugs when the plan branches (observed
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); CASE chains bind everywhere
    bucket: Column = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(key > c, 1).otherwise(0)
    return bucket


def _with_range_buckets(df: DataFrame, order_by: str) -> DataFrame:
    """``df`` plus a ``__bkt`` column in ``[0, n)``, ``n =
    shuffle_partitions(df)``: equal-width buckets over the finite range of
    ``order_by`` (numeric/timestamp). The range comes from one uncorrelated
    scalar subquery that runs inside the query, so building the plan
    submits no job.

    The map is monotone in Spark's ascending order, which is all the
    two-phase scans below need to stitch exactly: NULL and −inf go to
    bucket 0, +inf and NaN to bucket n−1 (Spark sorts NULL first and NaN
    after +inf). Min and max do not depend on row order, so every plan
    branch that evaluates the subquery assigns the same buckets, even if
    it runs once per branch.

    Balance is equal-width, not equal-count: a skewed key puts more rows
    into one bucket, and a bucket is one task. Correctness never depends
    on balance."""
    n = shuffle_partitions(df)
    key = F.col(order_by).cast("double")
    # Spark orders NaN above +inf, so this keeps exactly the finite keys
    finite = F.when(F.abs(key) < float("inf"), key)
    # halves keep hi - lo finite when the keys span ±1.7e308
    rng = df.select(
        F.struct(
            (F.min(finite) * 0.5).alias("lo"),
            (F.max(finite) * 0.5 - F.min(finite) * 0.5).alias("span"),
        )
    ).scalar()
    # try_divide: a zero or NULL span (one distinct finite key, or none)
    # yields NULL, which greatest() skips — bucket 0. greatest/least put
    # −inf at 0 and +inf and NaN (Spark's largest double) at n−1.
    pos = F.try_divide(key * 0.5 - F.col("__rng.lo"), F.col("__rng.span")) * n
    bucket = F.floor(F.least(F.greatest(pos, F.lit(0.0)), F.lit(n - 1.0)))
    # the range as a column of its own: the subquery appears once per
    # plan branch instead of once per use in the bucket expression
    return (
        df.withColumn("__rng", rng).withColumn("__bkt", bucket).drop("__rng")
    )


def prefix_sum(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Distributed inclusive prefix sum (cumulative sum) in global or
    per-key order, summed as decimal(28,8) and returned as double.

    With a ``partition_by`` key this is the plain per-key running-sum
    window — one hash shuffle on the key, parallelism = |keys|, no
    auxiliary frames. That IS the scalable plan when a key exists: the
    earlier always-bucketed form built a |keys × buckets| offsets frame
    and broadcast it, which for a high-cardinality key (user_id at
    100 TB) is a multi-GB broadcast to every executor.

    Without a key it is ``prefix_sum_multi`` of the one column: the
    two-phase scan over key-range buckets. ``Window.orderBy(...)`` alone
    would compute it through ONE task."""
    keys: list[str] = (
        [] if partition_by is None
        else [partition_by] if isinstance(partition_by, str)
        else list(partition_by)
    )
    out = out_col or f"cumsum_{value_col}"
    if not keys:
        return prefix_sum_multi(df, [value_col], order_by, [out])
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    result = F.sum(F.col(value_col).cast("decimal(28,8)")).over(w)
    return df.withColumn(out, result.cast("double"))


def prefix_sum_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    order_by: str,
    out_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Global-order inclusive prefix sums of SEVERAL columns in ONE
    two-phase parallel scan: rows go to key-range buckets
    (``_with_range_buckets``: a min/max subquery inside the query, no
    sketch job), one bucket-local window pass carries all the running sums, a
    |buckets|-row totals aggregate turns into per-bucket offsets, and one
    offsets broadcast (bounded by config, never by data) shifts each
    bucket by the totals of its predecessors. Calling ``prefix_sum`` k
    times costs k full scans + k broadcasts; this is the fused form (the
    KS ECDF pair, multi-metric cumulative dashboards).

    Sums run in decimal(28,8), so the re-association is exact and the
    result is bit-identical to the sequential window whatever the bucket
    boundaries; equal-width buckets over a skewed key are unbalanced, not
    wrong."""
    cols = list(value_cols)
    outs = list(out_cols) if out_cols else [f"cumsum_{c}" for c in cols]
    if len(outs) != len(cols):
        raise ValueError("out_cols must match value_cols")

    def val(c):
        return F.col(c).cast("decimal(28,8)")

    d = _with_range_buckets(df, order_by)
    local_w = (
        Window.partitionBy("__bkt")
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for i, c in enumerate(cols):
        d = d.withColumn(f"__local{i}", F.sum(val(c)).over(local_w))
    totals = d.groupBy("__bkt").agg(
        *[F.sum(val(c)).alias(f"__tot{i}") for i, c in enumerate(cols)]
    )
    off_w = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt",
        *[F.sum(f"__tot{i}").over(off_w).alias(f"__off{i}")
          for i in range(len(cols))],
    )
    d = d.join(F.broadcast(offsets), on=["__bkt"], how="left")
    helpers = ["__bkt"]
    for i, out in enumerate(outs):
        # sum(decimal(28,8)) widens to (38,8); adding two of those would
        # overflow precision 38 and Spark silently DROPS scale to 7 —
        # quantizing the result. Cast back to (28,8) so the final addition
        # stays at scale 8 (documented bound: |total| < 1e20).
        local = F.col(f"__local{i}").cast("decimal(28,8)")
        off = F.coalesce(F.col(f"__off{i}").cast("decimal(28,8)"), F.lit(0))
        d = d.withColumn(out, (local + off).cast("double"))
        helpers += [f"__local{i}", f"__off{i}"]
    return d.drop(*helpers)


def rolling_apply_parallel(
    df: DataFrame,
    fn,
    new_cols: dict,
    lookback: int,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    *,
    cuts: Sequence[float],
) -> DataFrame:
    """Parallel bounded-history rolling computation INSIDE a partition key —
    the answer to 'one symbol's decade of history still runs on one core'.

    ``cuts``: ``compute_order_cuts`` output, computed by the caller
    (``stock.feature_hints``), ideally on a cheaper ancestor frame with
    the same ``order_by`` column. Rows are bucketed by those cut points;
    each bucket additionally receives the previous bucket's last
    ``lookback`` rows as read-only context, so any computation whose
    dependence is bounded by ``lookback`` rows (rolling means/extrema/sums,
    lags up to ``lookback``) is EXACT at bucket boundaries while buckets
    run in parallel. ``fn(pdf) -> pdf`` is applied per (keys, bucket) group
    on the timestamp-sorted frame (context included); context rows are
    dropped from the output afterwards.

    Contract: every preceding bucket must hold ≥ ``lookback`` rows
    (quantile cuts give near-equal-count buckets; use at most
    |rows| / (4·lookback) of them to be safe). Unbounded recursions
    (EMA-family) do NOT satisfy the bounded-dependence contract — use the
    exact per-key ``applyInPandas`` pass for those.
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    keys: list[str] = (
        [] if partition_by is None
        else [partition_by] if isinstance(partition_by, str)
        else list(partition_by)
    )
    d = df.withColumn("__bkt", _quantile_buckets(order_by, cuts))

    # One pass marks each bucket's last `lookback` rows and EXPLODES them
    # into (own bucket, next bucket as context) — no union of two plan
    # branches, so the ranking window runs exactly once.
    tail_w = Window.partitionBy(*keys, "__bkt").orderBy(F.col(order_by).desc())
    d = d.withColumn("__rn_end", F.row_number().over(tail_w))
    d = d.withColumn(
        "__dst",
        F.explode(
            F.when(
                F.col("__rn_end") <= lookback,
                F.array(F.col("__bkt"), F.col("__bkt") + 1),
            ).otherwise(F.array(F.col("__bkt")))
        ),
    )
    d = d.withColumn("__ctx", F.col("__dst") != F.col("__bkt"))
    drop_cols = ["__bkt", "__rn_end", "__dst", "__ctx"]

    out_schema = T.StructType(
        [f for f in df.schema.fields]
        + [T.StructField(c, t, True) for c, t in new_cols.items()]
    )

    def wrapper(pdf):
        pdf = pdf.sort_values(order_by, kind="mergesort")
        res = fn(pdf)
        res = res[~res["__ctx"]]
        return res.drop(columns=drop_cols)

    shuffle_n = shuffle_partitions(df)
    d = d.repartition(shuffle_n, *[F.col(c) for c in [*keys, "__dst"]])
    return d.groupBy(*keys, "__dst").applyInPandas(wrapper, out_schema)


def global_lag_lead(
    df: DataFrame,
    value_col: str,
    order_by: str,
    kind: str = "lag",
    out_col: str | None = None,
) -> DataFrame:
    """Globally-ordered LAG/LEAD *without* the single-partition collapse
    (the 100 TB answer to Q3 when no natural partition key exists).

    Plan: bucket rows by key range (``_with_range_buckets``: equal-width
    buckets between the key's min and max, which a scalar subquery
    computes inside the query — no plan-time job), run the window per
    bucket (parallel, partition-local), then stitch bucket boundaries: a
    |buckets|-row aggregate carries each bucket's first/last value to its
    neighbor via a broadcast join. Cost: one min/max pass + one hash
    shuffle on the bucket id — vs ``Window.orderBy(col)`` which funnels
    the entire table through ONE task.

    Explicit buckets (not ``repartitionByRange``) are load-bearing: the
    range partitioner SAMPLES its bounds per shuffle, so the window branch
    and the boundary branch could see different partition assignments and
    mis-stitch; a bucket computed from the key's min and max is identical
    everywhere it is evaluated. Balance is equal-width: a skewed key
    loads one bucket more, and the stitch stays exact.

    ``order_by`` must be a numeric/timestamp total order (unique values) —
    the same requirement any deterministic lag has (Q2). Offset is fixed at
    1: the k>1 generalization needs a k-row boundary exchange; YAGNI for
    the reference surface (every site uses offset 1).
    """
    if kind not in ("lag", "lead"):
        raise ValueError(f"kind must be 'lag' or 'lead', got {kind!r}")
    out = out_col or f"{kind}_{value_col}"
    d = _with_range_buckets(df, order_by)

    local_w = Window.partitionBy("__bkt").orderBy(order_by)
    neighbor = (F.lag if kind == "lag" else F.lead)(value_col, 1).over(local_w)
    d = d.withColumn("__local", neighbor)

    # Per-bucket boundary values (|buckets| rows — negligible):
    # struct(order, value) min/max gives the first/last row per bucket.
    bounds = d.groupBy("__bkt").agg(
        F.min(F.struct(order_by, value_col)).alias("__first"),
        F.max(F.struct(order_by, value_col)).alias("__last"),
    )
    # Previous/next NON-EMPTY bucket via a window over the tiny frame
    # (single-partition execution of |buckets| rows is fine).
    bw = Window.orderBy("__bkt")
    if kind == "lag":
        fill = bounds.select(
            "__bkt",
            F.lag(F.col("__last")[value_col], 1).over(bw).alias("__fill"),
        )
        is_boundary = F.row_number().over(local_w) == 1
    else:
        fill = bounds.select(
            "__bkt",
            F.lead(F.col("__first")[value_col], 1).over(bw).alias("__fill"),
        )
        rev_w = Window.partitionBy("__bkt").orderBy(F.col(order_by).desc())
        is_boundary = F.row_number().over(rev_w) == 1

    d = d.join(F.broadcast(fill), on="__bkt", how="left")
    d = d.withColumn(
        out, F.when(is_boundary, F.col("__fill")).otherwise(F.col("__local"))
    )
    return d.drop("__bkt", "__local", "__fill")


def rolling(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str],
    window: int,
    funcs: dict[str, str] | None = None,
) -> DataFrame:
    """Trailing ``window``-row frame aggregates (reference W4 — absent in the
    reference because indicators arrived precomputed; the engine computes
    them natively). ``funcs`` maps output-column -> aggregate name
    (avg/sum/min/max/stddev/count). Frame: ``rowsBetween(-(window-1), 0)``.
    """
    funcs = funcs or {f"rolling_avg_{value_col}": "avg"}
    w = _ordered_window(order_by, partition_by).rowsBetween(-(window - 1), 0)
    out = df
    for out_col, fn in funcs.items():
        out = out.withColumn(out_col, getattr(F, fn)(value_col).over(w))
    return out


def gap_fill_daily(
    df: DataFrame,
    keys: Sequence[str],
    day_col: str,
    fill: dict[str, Column] | None = None,
) -> DataFrame:
    """Densify a sparse per-key daily series: generate each key's full
    date spine (min..max active day, via ``sequence`` + ``explode`` — the
    spine is built per key on executors, never on the driver) and left
    join the observations back; absent days take the ``fill`` expressions
    (default: nulls, ready for forward-fill).

    Fan-out is bounded by each key's date span; the join is keyed on
    (keys, day) — at 100 TB the spine costs one explode + one keyed
    shuffle, versus the driver-side calendar broadcast a naive
    implementation ships."""
    ks = list(keys)
    span = df.groupBy(*ks).agg(
        F.min(day_col).alias("__lo"), F.max(day_col).alias("__hi")
    )
    spine = span.select(
        *ks,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"))
        ).alias(day_col),
    )
    out = spine.join(df, ks + [day_col], "left")
    for name, expr in (fill or {}).items():
        out = out.withColumn(name, F.coalesce(F.col(name), expr))
    return out


def forward_fill(
    df: DataFrame,
    keys: Sequence[str],
    order_by: str,
    cols: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward per key: each null takes the most
    recent non-null value in ``order_by`` order — ``last(ignorenulls)``
    over an unbounded-preceding frame, one key-partitioned window. The
    standard densification step after ``gap_fill_daily``."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def cumulative_distinct(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    order_by: Sequence[str],
    out: str = "n_distinct_so_far",
) -> DataFrame:
    """Exact running DISTINCT count per key — e.g. 'distinct event types a
    user has touched so far'. COUNT(DISTINCT) OVER a running frame is
    unsupported in Spark (and quadratic where supported); the standard
    decomposition is two windows on the same key shuffle:

    1. first-occurrence flag: row_number over (keys, value) == 1;
    2. running sum of the flags over (keys) in ``order_by`` order.

    Ties in ``order_by`` across DIFFERENT values of ``value_col`` make
    the running figure order-dependent — include a unique id in
    ``order_by`` for a total order (same contract as every running
    window here)."""
    ob = [F.col(c) for c in order_by]
    w_first = Window.partitionBy(*keys, value_col).orderBy(*ob)
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*ob)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn(
            "__is_first", (F.row_number().over(w_first) == 1).cast("long")
        )
        .withColumn(out, F.sum("__is_first").over(w_run))
        .drop("__is_first")
    )


def sequence_pattern_match(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step_col: str,
    pattern: str,
    tiebreak: Sequence[str] = (),
    sep: str = ">",
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern detection over each entity's
    time-ordered event chain. Builds the per-key ordered ``step_col``
    chain (joined with ``sep``) and reports how many non-overlapping
    matches of ``pattern`` it contains — the row-pattern-matching workload
    (SQL:2016 MATCH_RECOGNIZE, Flink CEP) reduced to the shape that
    distributes: one hash aggregate collecting (ts, tiebreak, step)
    structs, a JVM-side array_sort + transform + concat_ws, one regexp
    scan. No per-event window, no state machine shuffle; the chain lives
    inside its group's collected array, never as a global sort.

    ``pattern`` must stay in the Java-regex ∩ RE2 common subset (literals,
    classes, alternation, greedy quantifiers) so an external SQL engine
    replays the match count byte-identically. Left-to-right
    non-overlapping count semantics are shared by every regex engine.

    At 100 TB the bound is the longest single entity's chain (a collected
    array must fit one task); for entities with million-event histories,
    pre-chunk by (key, time bucket) the way ``dedup_within_window``
    buckets state."""
    order_struct = F.struct(ts_col, *tiebreak, step_col)
    packed = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(F.collect_list(order_struct)).alias("__seq"),
    )
    chain = F.concat_ws(
        sep, F.transform(F.col("__seq"), lambda x: x[step_col])
    )
    # pattern as a lit() Column, not an interpolated SQL string: quotes
    # and metacharacters in caller patterns must never become SQL syntax
    n_matches = F.size(
        F.regexp_extract_all(F.col("__chain"), F.lit(pattern), F.lit(0))
    )
    return (
        packed.withColumn("__chain", chain)
        .select(
            *keys,
            "n_events",
            F.col("__chain").alias("event_chain"),
            n_matches.alias("n_matches"),
            (n_matches > 0).alias("matched"),
        )
    )
