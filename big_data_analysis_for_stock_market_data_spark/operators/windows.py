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


def shuffle_partitions(df: DataFrame, default: int = 32) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating clusters
    where the conf is non-numeric (e.g. ``"auto"`` under some AQE
    setups): falls back to the DataFrame's current partition count."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        return df.rdd.getNumPartitions() or default


def compute_order_cuts(df: DataFrame, order_by: str, n: int) -> list[float]:
    """n-1 quantile cut points of ``order_by`` as plain floats — ONE
    approxQuantile pass. Callers that hold a cheaper frame exposing the
    same column (e.g. the raw fact table before window enrichment) should
    compute cuts there and pass them down: the sketch pass then scans a
    column-pruned plan instead of re-running the full upstream pipeline."""
    key = F.col(order_by).cast("double")
    probs = [i / n for i in range(1, n)]
    if not probs:
        return []
    return sorted(
        set(df.select(key.alias("__k")).stat.approxQuantile("__k", probs, 0.001))
    )


def _quantile_buckets(
    df: DataFrame, order_by: str, n: int,
    cuts: "list[float] | None" = None,
) -> Column:
    """Deterministic bucket id from n-1 quantile cut points of ``order_by``
    (numeric/timestamp). Unlike ``repartitionByRange``, the cut points are
    computed ONCE and baked into the expression, so every plan branch that
    evaluates it assigns identical buckets — recomputation-safe."""
    key = F.col(order_by).cast("double")
    if cuts is None:
        cuts = compute_order_cuts(df, order_by, n)
    if not cuts:
        return F.lit(0)
    # plain conditional sum, not a higher-order aggregate(): lambda
    # functions inside expressions that later become grouping keys hit
    # Catalyst binding bugs when the plan branches (observed
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND); CASE chains bind everywhere
    bucket: Column = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(key > c, 1).otherwise(0)
    return bucket


def prefix_sum(
    df: DataFrame,
    value_col: str,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    out_col: str | None = None,
    num_buckets: int | None = None,
    exact_decimal: bool = True,
) -> DataFrame:
    """Distributed inclusive prefix sum (cumulative sum) in global or
    per-key order.

    With a ``partition_by`` key this is the plain per-key running-sum
    window — one hash shuffle on the key, parallelism = |keys|, no
    auxiliary frames. That IS the scalable plan when a key exists: the
    earlier always-bucketed form built a |keys × buckets| offsets frame
    and broadcast it, which for a high-cardinality key (user_id at
    100 TB) is a multi-GB broadcast to every executor.

    The keyless (global-order) case uses the two-phase parallel scan:
    bucket-local running sums in parallel, then each bucket shifted by the
    cumulative total of its predecessors — an offsets frame of exactly
    |buckets| rows (bounded by config, never by data), safely broadcast.
    ``Window.orderBy(...)`` alone would compute this through ONE task.

    With ``exact_decimal`` the re-association is exact (decimal addition
    is associative), so either plan is bit-identical to the sequential
    window."""
    keys: list[str] = (
        [] if partition_by is None
        else [partition_by] if isinstance(partition_by, str)
        else list(partition_by)
    )
    out = out_col or f"cumsum_{value_col}"
    val = (
        F.col(value_col).cast("decimal(28,8)")
        if exact_decimal else F.col(value_col)
    )
    if keys:
        w = (
            Window.partitionBy(*keys)
            .orderBy(order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        result = F.sum(val).over(w)
        if exact_decimal:
            result = result.cast("double")
        return df.withColumn(out, result)

    n = int(
        num_buckets or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n))
    local_w = (
        Window.partitionBy("__bkt")
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("__local", F.sum(val).over(local_w))

    totals = d.groupBy("__bkt").agg(F.sum(val).alias("__tot"))
    off_w = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt", F.sum("__tot").over(off_w).alias("__off")
    )
    d = d.join(F.broadcast(offsets), on=["__bkt"], how="left")
    if exact_decimal:
        # sum(decimal(28,8)) widens to (38,8); adding two of those would
        # overflow precision 38 and Spark silently DROPS scale to 7 —
        # quantizing the result. Cast back to (28,8) so the final addition
        # stays at scale 8 (documented bound: |total| < 1e20).
        local = F.col("__local").cast("decimal(28,8)")
        off = F.coalesce(F.col("__off").cast("decimal(28,8)"), F.lit(0))
        total = (local + off).cast("double")
    else:
        total = F.col("__local") + F.coalesce(F.col("__off"), F.lit(0))
    return d.withColumn(out, total).drop("__bkt", "__local", "__off")


def prefix_sum_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    order_by: str,
    out_cols: Sequence[str] | None = None,
    num_buckets: int | None = None,
    exact_decimal: bool = True,
) -> DataFrame:
    """Global-order inclusive prefix sums of SEVERAL columns in ONE
    two-phase parallel scan: one quantile bucket assignment, one
    bucket-local window pass carrying all the running sums, one
    |buckets|-row totals aggregate, one offsets broadcast. Calling
    ``prefix_sum`` k times costs k full scans + k broadcasts; this is the
    fused form (the KS ECDF pair, multi-metric cumulative dashboards).
    Same exactness contract as ``prefix_sum``."""
    cols = list(value_cols)
    outs = list(out_cols) if out_cols else [f"cumsum_{c}" for c in cols]
    if len(outs) != len(cols):
        raise ValueError("out_cols must match value_cols")
    n = int(
        num_buckets or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )

    def val(c):
        return F.col(c).cast("decimal(28,8)") if exact_decimal else F.col(c)

    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n))
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
        if exact_decimal:
            local = F.col(f"__local{i}").cast("decimal(28,8)")
            off = F.coalesce(F.col(f"__off{i}").cast("decimal(28,8)"), F.lit(0))
            d = d.withColumn(out, (local + off).cast("double"))
        else:
            d = d.withColumn(
                out,
                F.col(f"__local{i}") + F.coalesce(F.col(f"__off{i}"), F.lit(0)),
            )
        helpers += [f"__local{i}", f"__off{i}"]
    return d.drop(*helpers)


def rolling_apply_parallel(
    df: DataFrame,
    fn,
    new_cols: dict,
    lookback: int,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    num_buckets: int | None = None,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """Parallel bounded-history rolling computation INSIDE a partition key —
    the answer to 'one symbol's decade of history still runs on one core'.

    ``cuts`` (optional): precomputed ``compute_order_cuts`` output. Without
    it, the cut-point sketch runs against ``df`` itself — which at plan
    time re-executes ``df``'s full upstream lineage once. Callers holding
    a cheaper ancestor frame with the same ``order_by`` column should
    sketch there and pass the cuts down (one pruned scan instead of two
    full pipeline executions — the difference between 1x and 2x input
    passes at 100 TB).

    Rows are bucketed by deterministic quantile cuts of ``order_by``; each
    bucket additionally receives the previous bucket's last ``lookback``
    rows as read-only context, so any computation whose dependence is
    bounded by ``lookback`` rows (rolling means/extrema/sums, lags up to
    ``lookback``) is EXACT at bucket boundaries while buckets run in
    parallel. ``fn(pdf) -> pdf`` is applied per (keys, bucket) group on the
    timestamp-sorted frame (context included); context rows are dropped
    from the output afterwards.

    Contract: every preceding bucket must hold ≥ ``lookback`` rows
    (quantile buckets are near-equal-count; choose ``num_buckets`` ≤
    |rows| / (4·lookback) to be safe). Unbounded recursions (EMA-family)
    do NOT satisfy the bounded-dependence contract — use the exact
    per-key ``applyInPandas`` pass for those.
    """
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    keys: list[str] = (
        [] if partition_by is None
        else [partition_by] if isinstance(partition_by, str)
        else list(partition_by)
    )
    n = int(
        num_buckets or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n, cuts=cuts))

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
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered LAG/LEAD *without* the single-partition collapse
    (the 100 TB answer to Q3 when no natural partition key exists).

    Plan: bucket rows by DETERMINISTIC range boundaries (a one-pass quantile
    sketch of ``order_by``, n-1 cut points held on the driver — bounded by
    the bucket count, never by data size), run the window per bucket
    (parallel, partition-local), then stitch bucket boundaries: a
    |buckets|-row aggregate carries each bucket's first/last value to its
    neighbor via a broadcast join. Cost: one sketch pass + one hash shuffle
    on the bucket id — vs ``Window.orderBy(col)`` which funnels the entire
    table through ONE task.

    Explicit buckets (not ``repartitionByRange``) are load-bearing: the
    range partitioner SAMPLES its bounds per shuffle, so the window branch
    and the boundary branch could see different partition assignments and
    mis-stitch; a computed bucket column is identical everywhere it is
    evaluated.

    ``order_by`` must be a numeric/timestamp total order (unique values) —
    the same requirement any deterministic lag has (Q2). Offset is fixed at
    1: the k>1 generalization needs a k-row boundary exchange; YAGNI for
    the reference surface (every site uses offset 1).
    """
    if kind not in ("lag", "lead"):
        raise ValueError(f"kind must be 'lag' or 'lead', got {kind!r}")
    out = out_col or f"{kind}_{value_col}"
    n = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n))

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


def linear_recurrence(
    df: DataFrame,
    recurrences: "dict[str, tuple[Column, Column]]",
    order_by: str,
    partition_by: str | Sequence[str],
    num_buckets: int | None = None,
) -> DataFrame:
    """Block-parallel affine scan: for each ``out -> (coef, input)`` entry,
    computes ``y_i = coef_i * y_{i-1} + input_i`` per key in ``order_by``
    order (seed ``y_{-1} = 0``; encode other seeds in the first row's
    coef/input — see ``ema_scan``).

    EMA/KAMA/RSI are all affine in the carried state, so this scan runs
    them (``ema_scan``/``kama_scan``/``rsi_scan``) with parallelism
    rows/buckets instead of the per-key fold's |keys|, for a key too deep
    for one task. ``indicators.recursive_enrich`` keeps the fold: on a
    4-core host (local[4]) at 1 key x 2M rows the scanned feature frame
    was a near-tie warm (33.9 s vs 36.3 s) and 131 s slower cold.
    Affine maps compose
    associatively (A2∘A1 = (c2·c1, c2·b1 + b2)), so the recurrence is a
    segment scan with NO per-key total order anywhere:

    1. deterministic order-range buckets from quantile cut points (the
       ``prefix_sum``/``global_lag_lead`` trick — no row_number, so a
       single giant key never serializes through one sort task);
    2. each (key, bucket) folds locally IN PARALLEL, emitting per-row
       partials (prefix coef-product ``P_i``, zero-seed partial ``B_i``);
    3. one summary row per bucket combines per key in bucket order — tiny;
    4. ``y_i = P_i * y_start(bucket) + B_i`` finalizes rowwise.

    The scanned frame is persisted (it feeds both the summary branch and
    the final join; without it Spark re-runs the Python stage twice).

    Float caveat: the re-association is NOT bit-identical to the
    sequential fold (decimal exactness is impossible for products); it is
    numerically equivalent (|rel err| ~ 1e-12, tests pin it). Underflow of
    ``P_i`` for long blocks is benign — a dead coefficient product means
    the block start genuinely cannot influence those rows.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    from pyspark import StorageLevel
    from pyspark.sql import types as T

    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    names = list(recurrences)
    npart = shuffle_partitions(df)
    n_bkt = num_buckets or npart
    d = df.withColumn("__bkt", _quantile_buckets(df, order_by, n_bkt))
    for i, out in enumerate(names):
        coef, inp = recurrences[out]
        d = d.withColumn(f"__c{i}", coef.cast("double"))
        d = d.withColumn(f"__b{i}", inp.cast("double"))

    block_schema = T.StructType(
        d.schema.fields
        + [
            T.StructField(f"__{p}{i}", T.DoubleType(), True)
            for i in range(len(names))
            for p in ("pp", "qq")
        ]
    )

    def blockfn(pdf):
        pdf = pdf.sort_values(order_by, kind="mergesort")
        for i in range(len(names)):
            c = pdf[f"__c{i}"].to_numpy(dtype="float64")
            b = pdf[f"__b{i}"].to_numpy(dtype="float64")
            with np.errstate(under="ignore"):
                pdf[f"__pp{i}"] = np.cumprod(c)
            acc = 0.0
            out = np.empty(len(b))
            for j in range(len(b)):
                acc = c[j] * acc + b[j]
                out[j] = acc
            pdf[f"__qq{i}"] = out
        return pdf

    # pin the block stage's partition count (same rationale as
    # indicators._recursive_apply): AQE's byte-based coalescing would
    # collapse this small-bytes / heavy-CPU Python stage to a few tasks,
    # which is exactly the serialization this operator exists to remove
    d = d.repartition(npart, *[F.col(c) for c in keys], F.col("__bkt"))
    scanned = d.groupBy(*keys, "__bkt").applyInPandas(
        blockfn, schema=block_schema
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # one summary row per bucket: the bucket's LAST (P, B) pair per entry
    # (max_by on the order column — no rank needed)
    ordk = F.col(order_by)
    summaries = scanned.groupBy(*keys, "__bkt").agg(
        *[
            F.max_by(F.col(f"__{p}{i}"), ordk).alias(f"__{p}{i}")
            for i in range(len(names))
            for p in ("pp", "qq")
        ]
    )

    start_schema = T.StructType(
        summaries.schema.fields
        + [T.StructField(f"__ss{i}", T.DoubleType(), True)
           for i in range(len(names))]
    )

    def combine(pdf):
        pdf = pdf.sort_values("__bkt", kind="mergesort")
        for i in range(len(names)):
            s = 0.0
            starts = np.empty(len(pdf))
            A = pdf[f"__pp{i}"].to_numpy(dtype="float64")
            B = pdf[f"__qq{i}"].to_numpy(dtype="float64")
            for j in range(len(pdf)):
                starts[j] = s
                s = A[j] * s + B[j]
            pdf[f"__ss{i}"] = starts
        return pdf

    offsets = summaries.groupBy(*keys).applyInPandas(combine, schema=start_schema)
    offsets = offsets.select(
        *keys, "__bkt", *[f"__ss{i}" for i in range(len(names))]
    )

    joined = scanned.join(offsets, on=[*keys, "__bkt"], how="left")
    for i, out in enumerate(names):
        joined = joined.withColumn(
            out,
            F.col(f"__pp{i}") * F.coalesce(F.col(f"__ss{i}"), F.lit(0.0))
            + F.col(f"__qq{i}"),
        )
    drop = ["__bkt"] + [
        f"__{p}{i}" for i in range(len(names))
        for p in ("c", "b", "pp", "qq", "ss")
    ]
    return joined.drop(*drop)


def ema_scan(
    df: DataFrame,
    spans: Sequence[int],
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    num_buckets: int | None = None,
) -> DataFrame:
    """EMA via the block-parallel affine scan (``linear_recurrence``) —
    numerically equivalent to ``indicators.ema`` (pandas
    ``ewm(adjust=False)`` seeded from the first value), but with
    parallelism rows/num_buckets instead of |symbols|. Use when few keys
    hold long series; the sequential engine stays the bit-exact default.

    The seed (y_0 = x_0) needs a first-row flag; it comes from a
    groupBy-min + join on the key — an aggregate with map-side combine,
    NOT a per-key ordered window (which would re-introduce the one-task
    sort this engine exists to remove)."""
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    mins = df.groupBy(*keys).agg(F.min(order_by).alias("__min_ord"))
    df = df.join(mins, on=keys, how="left")
    first = F.col(order_by) == F.col("__min_ord")
    recs: dict[str, tuple[Column, Column]] = {}
    for n in spans:
        a = 2.0 / (n + 1)
        recs[f"ema{n}"] = (
            F.when(first, F.lit(0.0)).otherwise(F.lit(1.0 - a)),
            F.when(first, F.col(col)).otherwise(F.lit(a) * F.col(col)),
        )
    out = linear_recurrence(
        df, recs, order_by=order_by, partition_by=keys,
        num_buckets=num_buckets,
    )
    return out.drop("__min_ord")


def kama_scan(
    df: DataFrame,
    n: int = 10,
    fast: int = 2,
    slow: int = 30,
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    num_buckets: int | None = None,
    out: str | None = None,
) -> DataFrame:
    """KAMA via the affine scan: the smoothing coefficient sc_i depends on
    the DATA (efficiency ratio), not on the carried state, so the
    recurrence ``y = (1−sc)·y_prev + sc·x`` is still affine and
    block-parallelizes. Coefficients (rolling volatility, n-lag change)
    come from one per-key JVM sort-window — a single codegen'd pass; the
    serial part the scan removes is the per-key PYTHON fold. Numerically
    equivalent to ``indicators.kama`` (rtol-level; the sequential engine
    stays the bit-exact default)."""
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    out_col = out or f"kama{n}"
    fast_sc = 2.0 / (fast + 1)
    slow_sc = 2.0 / (slow + 1)
    w = _ordered_window(order_by, keys)
    fr = w.rowsBetween(-(n - 1), 0)
    x = F.col(col)
    rn = F.row_number().over(w)
    adiff = F.abs(x - F.coalesce(F.lag(col, 1).over(w), x))
    vol = F.sum(adiff).over(fr)
    change = F.abs(x - F.lag(col, n).over(w))
    er = (
        F.when(rn <= n, F.lit(0.0))
        .when(vol > 0, change / vol)
        .otherwise(F.lit(0.0))
    )
    sc = F.pow(er * (fast_sc - slow_sc) + slow_sc, F.lit(2.0))
    d = df.withColumn("__rn1", rn).withColumn("__sc", sc)
    first = F.col("__rn1") == 1
    res = linear_recurrence(
        d,
        {out_col: (
            F.when(first, F.lit(0.0)).otherwise(1.0 - F.col("__sc")),
            F.when(first, F.col(col)).otherwise(F.col("__sc") * F.col(col)),
        )},
        order_by=order_by, partition_by=keys, num_buckets=num_buckets,
    )
    return res.drop("__rn1", "__sc")


def rsi_scan(
    df: DataFrame,
    n: int = 14,
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    num_buckets: int | None = None,
    out: str | None = None,
) -> DataFrame:
    """Wilder RSI via TWO affine scans in one pass (avg gain / avg loss,
    alpha = 1/n, pandas ewm seeding: the first non-null delta seeds the
    average). Division edge cases mirror the sequential engine: all-loss
    frames → RSI 0 via the recurrence, zero-loss with gain → 100, flat
    (0/0) → null, first row → null."""
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    out_col = out or f"rsi{n}"
    alpha = 1.0 / n
    w = _ordered_window(order_by, keys)
    rn = F.row_number().over(w)
    delta = F.col(col) - F.lag(col, 1).over(w)
    gain = F.greatest(delta, F.lit(0.0))
    loss = F.greatest(-delta, F.lit(0.0))
    d = (
        df.withColumn("__rn1", rn)
        .withColumn("__g", gain)
        .withColumn("__l", loss)
    )
    first2 = F.col("__rn1") <= 2
    res = linear_recurrence(
        d,
        {
            "__avg_gain": (
                F.when(first2, F.lit(0.0)).otherwise(F.lit(1.0 - alpha)),
                F.when(F.col("__rn1") == 1, F.lit(0.0))
                .when(F.col("__rn1") == 2, F.col("__g"))
                .otherwise(F.lit(alpha) * F.col("__g")),
            ),
            "__avg_loss": (
                F.when(first2, F.lit(0.0)).otherwise(F.lit(1.0 - alpha)),
                F.when(F.col("__rn1") == 1, F.lit(0.0))
                .when(F.col("__rn1") == 2, F.col("__l"))
                .otherwise(F.lit(alpha) * F.col("__l")),
            ),
        },
        order_by=order_by, partition_by=keys, num_buckets=num_buckets,
    )
    ag, al = F.col("__avg_gain"), F.col("__avg_loss")
    rsi = (
        F.when(F.col("__rn1") == 1, F.lit(None).cast("double"))
        .when((al == 0) & (ag > 0), F.lit(100.0))
        .when((al == 0) & (ag == 0), F.lit(None).cast("double"))
        .otherwise(100.0 - 100.0 / (1.0 + ag / al))
    )
    return (
        res.withColumn(out_col, rsi)
        .drop("__rn1", "__g", "__l", "__avg_gain", "__avg_loss")
    )


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


def holt_scan(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    partition_by: str | Sequence[str] = "symbol",
    order_by: str = "date",
    col: str = "close",
    num_buckets: int | None = None,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """Holt's linear-trend smoothing via a 2x2 MATRIX-affine block scan —
    the two-state generalization of ``linear_recurrence`` (which carries a
    scalar). The (level, trend) state evolves as s_t = M s_{t-1} + u_t
    with constant

        M = [[1-a,        1-a      ],
             [be*(1-a)-be, be*(1-a)+(1-be)]]
        u_t = (a*y_t, be*a*y_t)

    and the per-key seed row encoded as an absorbing step (M_1 = 0,
    u_1 = (y_1, 0)), so no block needs to know whether it holds the key's
    first row — the zero matrix annihilates any carried state. Matrix
    products compose associatively, so the same three-stage plan as
    ``linear_recurrence`` applies: per-(key, bucket) local fold emitting
    per-row prefix products P (4 doubles) and zero-seed partials B (2
    doubles); one summary row per bucket; tiny per-key sequential combine
    over bucket summaries; rowwise finalize s = P @ s_start + B.
    Parallelism = rows/num_buckets, independent of |keys|.

    Float caveat (same as linear_recurrence): re-association is
    numerically equivalent (rel err ~1e-12, test-pinned), not
    bit-identical to ``indicators.holt_linear`` — the sequential engine
    remains the bit-exact default and the oracle-checked one."""
    import numpy as np
    import pandas as pd  # noqa: F401

    from pyspark import StorageLevel
    from pyspark.sql import types as T

    keys = (
        [partition_by] if isinstance(partition_by, str) else list(partition_by)
    )
    oma, omb = 1.0 - alpha, 1.0 - beta
    m11, m12 = oma, oma
    m21, m22 = beta * oma - beta, beta * oma + omb

    npart = shuffle_partitions(df)
    n_bkt = num_buckets or npart
    mins = df.groupBy(*keys).agg(F.min(order_by).alias("__min_ord"))
    d = df.join(mins, on=keys, how="left")
    first = F.col(order_by) == F.col("__min_ord")
    d = d.withColumn("__first", first.cast("int"))
    d = d.withColumn("__y", F.col(col).cast("double"))
    d = d.withColumn("__bkt", _quantile_buckets(d, order_by, n_bkt, cuts=cuts))

    part_cols = ["__p11", "__p12", "__p21", "__p22", "__q1", "__q2"]
    block_schema = T.StructType(
        d.schema.fields
        + [T.StructField(c, T.DoubleType(), True) for c in part_cols]
    )

    def blockfn(pdf):
        pdf = pdf.sort_values(order_by, kind="mergesort")
        y = pdf["__y"].to_numpy(dtype="float64")
        fr = pdf["__first"].to_numpy().copy()
        # Rows tied at the per-key minimum order_by all carry __first=1.
        # Equal order_by values hash to the same quantile bucket, so every
        # tied row is in THIS block: keep only the first (stable-sort
        # order) as the absorbing seed, demote the rest to regular rows —
        # matching the sequential engine, which seeds exactly one row.
        if fr.sum() > 1:
            seed_idx = int(np.argmax(fr))
            fr[:] = 0
            fr[seed_idx] = 1
        n = len(y)
        out = {c: np.empty(n) for c in part_cols}
        # P = identity, B = 0 before the block starts
        p = np.eye(2)
        b1 = b2 = 0.0
        for j in range(n):
            if fr[j]:
                mj = np.zeros((2, 2))
                u1, u2 = y[j], 0.0
            else:
                mj = np.array([[m11, m12], [m21, m22]])
                u1, u2 = alpha * y[j], beta * alpha * y[j]
            with np.errstate(under="ignore"):
                p = mj @ p
                nb1 = mj[0, 0] * b1 + mj[0, 1] * b2 + u1
                nb2 = mj[1, 0] * b1 + mj[1, 1] * b2 + u2
            b1, b2 = nb1, nb2
            out["__p11"][j], out["__p12"][j] = p[0, 0], p[0, 1]
            out["__p21"][j], out["__p22"][j] = p[1, 0], p[1, 1]
            out["__q1"][j], out["__q2"][j] = b1, b2
        for c in part_cols:
            pdf[c] = out[c]
        return pdf

    d = d.repartition(npart, *[F.col(c) for c in keys], F.col("__bkt"))
    scanned = d.groupBy(*keys, "__bkt").applyInPandas(
        blockfn, schema=block_schema
    ).persist(StorageLevel.MEMORY_AND_DISK)

    ordk = F.col(order_by)
    summaries = scanned.groupBy(*keys, "__bkt").agg(
        *[F.max_by(F.col(c), ordk).alias(c) for c in part_cols]
    )

    start_schema = T.StructType(
        summaries.schema.fields
        + [T.StructField("__ss1", T.DoubleType(), True),
           T.StructField("__ss2", T.DoubleType(), True)]
    )

    def combine(pdf):
        import numpy as np

        pdf = pdf.sort_values("__bkt", kind="mergesort")
        s1 = s2 = 0.0
        ss1 = np.empty(len(pdf))
        ss2 = np.empty(len(pdf))
        for j in range(len(pdf)):
            ss1[j], ss2[j] = s1, s2
            r = pdf.iloc[j]
            with np.errstate(under="ignore"):
                n1 = r["__p11"] * s1 + r["__p12"] * s2 + r["__q1"]
                n2 = r["__p21"] * s1 + r["__p22"] * s2 + r["__q2"]
            s1, s2 = n1, n2
        pdf["__ss1"] = ss1
        pdf["__ss2"] = ss2
        return pdf

    offsets = (
        summaries.groupBy(*keys)
        .applyInPandas(combine, schema=start_schema)
        .select(*keys, "__bkt", "__ss1", "__ss2")
    )

    joined = scanned.join(offsets, on=[*keys, "__bkt"], how="left")
    ss1 = F.coalesce(F.col("__ss1"), F.lit(0.0))
    ss2 = F.coalesce(F.col("__ss2"), F.lit(0.0))
    joined = joined.withColumn(
        "holt_level",
        F.col("__p11") * ss1 + F.col("__p12") * ss2 + F.col("__q1"),
    ).withColumn(
        "holt_trend",
        F.col("__p21") * ss1 + F.col("__p22") * ss2 + F.col("__q2"),
    ).withColumn("holt_fc1", F.col("holt_level") + F.col("holt_trend"))
    return joined.drop(
        "__bkt", "__first", "__y", "__min_ord", *part_cols, "__ss1", "__ss2"
    )
