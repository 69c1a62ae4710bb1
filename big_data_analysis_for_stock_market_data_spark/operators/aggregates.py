"""Aggregate operators (SURVEY.md §2.4 A1-A7) and data-quality scans.

The reference's grouped averages (A1/A2) and its 15-line RDD map/reduce
average (A3, ``G_2_rf_nordd_fe.py:59-73``) all collapse to
``groupBy().agg()`` — Spark's hash aggregate does map-side partial
aggregation before the shuffle, so the shuffle carries one row per
(partition, key), not per input row. The quality scans replace the
reference's two-pass count-vs-count probes (``ipynb cells 15,17``) with
single-pass formulations.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_avg(
    df: DataFrame,
    keys: str | Sequence[str],
    values: dict[str, str],
    order_by_keys: bool = False,
) -> DataFrame:
    """A1/A2/A3: hash aggregate AVG per key. ``values`` maps input column ->
    output alias. ``order_by_keys=True`` adds the reference's A2 sorted
    output (a range-partitioned sort — only request it when the consumer
    needs global order)."""
    if isinstance(keys, str):
        keys = [keys]
    aggs = [F.avg(src).alias(dst) for src, dst in values.items()]
    out = df.groupBy(*keys).agg(*aggs)
    return out.orderBy(*keys) if order_by_keys else out


def duplicate_stats(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """A4: duplicate detection in ONE pass. The reference runs
    ``df.count()`` vs ``df.dropDuplicates().count()`` — two full scans plus
    a global dedup shuffle (``ipynb cell 15``). Equivalent single aggregate:
    group on the key columns, count rows vs distinct groups."""
    cols = list(subset or df.columns)
    grouped = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_n"))
    return grouped.agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("_n") - F.count(F.lit(1))).alias("n_duplicates"),
    )


def null_stats(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """A5: per-column null counts in one pass (reference ran
    ``df.na.drop().count()`` vs ``df.count()``, ``ipynb cell 17``)."""
    cols = list(columns or df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols
    ]
    return df.agg(*aggs)


def assert_clean(df: DataFrame, subset: Sequence[str] | None = None) -> None:
    """Reference parity: raise ValueError when duplicates or nulls exist
    (``ipynb cells 15,17``) — but via the single-pass scans above."""
    dup = duplicate_stats(df, subset).first()
    if dup["n_duplicates"] > 0:
        raise ValueError(f"found {dup['n_duplicates']} duplicate rows")
    nulls = null_stats(df, subset).first()
    bad = {k: v for k, v in nulls.asDict().items() if k != "n_rows" and v}
    if bad:
        raise ValueError(f"found nulls: {bad}")


def moments(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """A6: skewness/kurtosis (reference ``ipynb cell 20``; imports at
    ``G_2_rf_rdd.py:20``). Spark's ``skewness`` is the population g1 =
    m3/m2^1.5; ``kurtosis`` is excess population kurtosis m4/m2^2 - 3."""
    aggs: list[Column] = []
    for c in columns:
        aggs.append(F.skewness(c).alias(f"skew_{c}"))
        aggs.append(F.kurtosis(c).alias(f"kurt_{c}"))
    return df.agg(*aggs)


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
) -> DataFrame:
    """SCD-1 merge/upsert resolution: one surviving row per key — the one
    with the lexicographically greatest ``order`` tuple (e.g. (ts,
    event_id): latest timestamp, deterministic id tiebreak).

    Implemented as ``max_by(struct(payload), struct(order))`` — a single
    hash aggregate with map-side partial combine, so the shuffle carries one
    candidate row per (input partition, key) instead of the full history.
    At 100 TB this beats the window row_number() formulation, which must
    shuffle EVERY version of every key to one reducer before discarding all
    but one.
    """
    ordk = F.struct(*[F.col(c) for c in order])
    val = F.struct(*[F.col(c) for c in payload])
    out = df.groupBy(*keys).agg(F.max_by(val, ordk).alias("_latest"))
    return out.select(
        *keys, *[F.col(f"_latest.{c}").alias(c) for c in payload]
    )


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
    ts_col: str | None = None,
) -> DataFrame:
    """SCD-2 (versioned) resolution: every change event becomes an
    effective-dated version row — ``valid_from`` = its own timestamp,
    ``valid_to`` = the NEXT version's timestamp (open/current when none),
    ``is_current`` on the last version per key.

    ``order`` must be a total order per key (e.g. ``(ts, event_id)``) so
    version boundaries are deterministic under ties; ``ts_col`` defaults to
    ``order[0]``. One key-partitioned window (shuffle on the key only —
    never a global order), so at 100 TB this scales with the keyspace
    exactly like any grouped aggregate. Complements ``latest_by_key``
    (SCD-1), which keeps only the survivor.
    """
    ts_col = ts_col or order[0]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    nxt = F.lead(ts_col).over(w)
    return df.select(
        *keys, *payload,
        F.col(ts_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def snapshot_as_of(history: DataFrame, at) -> DataFrame:
    """Point-in-time read over an SCD-2 history: the version live at ``at``
    (``valid_from <= at < valid_to``, open-ended current rows included).
    Pure filter — pushes down to the history scan, prunes version
    partitions, no shuffle."""
    at = F.lit(at).cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > at))
    )


def summary_stats(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """describe()-equivalent as a deterministic single aggregate (count,
    mean, stddev_samp, min, max per column) — one row out."""
    aggs: list[Column] = []
    for c in columns:
        aggs += [
            F.count(c).alias(f"count_{c}"),
            F.avg(c).alias(f"mean_{c}"),
            F.stddev_samp(c).alias(f"stddev_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return df.agg(*aggs)


def groupwise_ols(
    df: DataFrame,
    keys: Sequence[str],
    x: Column,
    y: Column,
    min_points: int = 2,
) -> DataFrame:
    """Per-group simple linear regression (closed-form normal equations):
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept = (Σy − m·Σx)/n.
    ``x`` and ``y`` MUST be integer-valued columns (quantize first — e.g.
    hours since an origin, value in cents): every moment is then exact
    LONG arithmetic, num/den convert exactly to double (≪ 2^53), and the
    final IEEE divisions are bit-identical in any engine — no float
    summation order, no decimal rounding modes, no cancellation error.

    One hash aggregate per group (map-side partial sums) — the distributed
    closed-form fit: 5 longs of state per group regardless of group size.
    Groups with fewer than ``min_points`` points or zero x-variance yield
    null slope/intercept."""
    xl, yl = x.cast("long"), y.cast("long")
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).alias("_sx"),
        F.sum(yl).alias("_sy"),
        F.sum(xl * yl).alias("_sxy"),
        F.sum(xl * xl).alias("_sxx"),
    )
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    slope = F.when(
        (F.col("n") >= min_points) & (den != 0.0), num / den
    )
    intercept = (
        (F.col("_sy").cast("double") - slope * F.col("_sx").cast("double"))
        / F.col("n").cast("double")
    )
    return g.select(
        *keys, "n", slope.alias("slope"), intercept.alias("intercept")
    )


def funnel_steps(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    step_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Ordered conversion funnel: for each key, the earliest completion
    chain through ``steps`` — step_1_ts = first occurrence of steps[0],
    step_i_ts = first occurrence of steps[i-1] STRICTLY AFTER the previous
    matched step. Keys that never perform steps[0] are outside the funnel
    (not returned); later steps are null once the chain breaks.
    ``steps_reached`` counts the completed prefix.

    Plan: one filtered min-aggregate per step, chained by key-equi joins —
    every aggregate is map-side combinable and every join is keyed on
    ``keys``, so the funnel costs a few key-shuffles per step (measured:
    ~4·len(steps), pinned in tools/plan_audit.py) — never a window over
    full event history and never an explosion of event pairs."""
    if not steps:
        raise ValueError("steps must be non-empty")
    ks = list(keys)
    ev0 = df.filter(F.col(step_col) == steps[0])
    base = ev0.groupBy(*ks).agg(F.min(ts_col).alias("step1_ts"))
    for i, s in enumerate(steps[1:], start=2):
        prev = f"step{i - 1}_ts"
        cand = (
            df.filter(F.col(step_col) == s)
            .join(base.select(*ks, prev), ks)
            .filter(F.col(ts_col) > F.col(prev))
            .groupBy(*ks)
            .agg(F.min(ts_col).alias(f"step{i}_ts"))
        )
        base = base.join(cand, ks, "left")
    reached = F.lit(1)
    for i in range(2, len(steps) + 1):
        reached = reached + F.col(f"step{i}_ts").isNotNull().cast("int")
    return base.withColumn("steps_reached", reached)


def apply_cdc(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    payload: Sequence[str],
    op_col: str = "op",
    delete_value: str = "D",
) -> DataFrame:
    """CDC apply: collapse an insert/update/delete change stream into the
    final table state. The survivor per key is the LATEST change by the
    ``order`` total order (same ``max_by(struct)`` single-aggregate shape
    as ``latest_by_key`` — the op rides along in the payload, so the
    shuffle still carries one candidate per (partition, key)); keys whose
    latest change is a tombstone (``op_col == delete_value``) drop out of
    the result entirely."""
    resolved = latest_by_key(df, keys, order, [*payload, op_col])
    return resolved.filter(F.col(op_col) != delete_value).drop(op_col)


def temporal_join(
    fact: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    how: str = "left",
) -> DataFrame:
    """Temporal (point-in-time) dimension lookup: enrich each fact row
    with the SCD-2 version that was valid AT the fact's own timestamp
    (``valid_from <= ts < valid_to``, current rows open-ended) — the
    per-row generalization of ``snapshot_as_of``, and the join shape that
    prevents time-travel leakage in training pipelines (a fact must never
    see a dimension version from its future).

    Equi-join on ``keys`` with the validity range as a residual predicate:
    one key-shuffle; version chains are short per key, so the residual
    filter touches few candidate rows. ``history`` columns keep their
    names — alias upstream on collision. History keys are renamed
    internally before the join: fact and history often derive from the
    same scan (history = scd2 over the fact source), and same-lineage
    column references are ambiguous in a Spark self-join."""
    h = history
    for k in keys:
        h = h.withColumnRenamed(k, f"__h_{k}")
    ts = F.col(ts_col)
    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__h_{k}")
        cond = c if cond is None else (cond & c)
    cond = cond & (F.col("valid_from") <= ts) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > ts)
    )
    joined = fact.join(h, cond, how)
    return joined.drop(*[f"__h_{k}" for k in keys])


def cohort_retention(
    df: DataFrame,
    key: str,
    ts_col: str,
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, then
    counted per (cohort_day, day_offset) where they were active again —
    the standard product-analytics retention triangle. Two grouped
    aggregates (first-day per key; distinct activity days per key) and a
    key-equi join — every shuffle is keyed on ``key`` or the small output
    pair, no window over event history."""
    first = df.groupBy(key).agg(F.min(F.to_date(ts_col)).alias("cohort_day"))
    active = df.select(key, F.to_date(ts_col).alias("__day")).distinct()
    joined = active.join(first, key)
    return (
        joined.select(
            "cohort_day",
            F.datediff(F.col("__day"), F.col("cohort_day")).alias("day_offset"),
            F.col(key),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def transition_matrix(
    df: DataFrame,
    key: str,
    ts_col: str,
    state_col: str,
    order: Sequence[str] | None = None,
) -> DataFrame:
    """First-order transition counts: how often each state follows each
    other state within a key's time-ordered history (the Markov-chain /
    next-event model of behavioral data). One key-partitioned lag window
    + one grouped count; ``order`` defaults to (ts_col,) — pass a
    tie-breaker for total order."""
    ob = [F.col(c) for c in (order or (ts_col,))]
    w = Window.partitionBy(key).orderBy(*ob)
    pairs = df.select(
        F.lag(state_col).over(w).alias("from_state"),
        F.col(state_col).alias("to_state"),
    ).filter(F.col("from_state").isNotNull())
    return (
        pairs.groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_state", "to_state")
    )


def fixed_width_histogram(
    df: DataFrame,
    col: str,
    n_bins: int,
) -> DataFrame:
    """Fixed-width histogram over the column's [min, max] range: the
    min/max aggregate stays IN the plan as a broadcast 1-row cross join
    (no ``.first()`` driver scalar), binning is a pure projection, then
    one grouped count. The max value lands in the last bin (half-open
    bins, closed at the top end). Null values have no bin and are
    excluded; an empty or all-null column has no [min, max] range and
    yields an empty result rather than a TypeError."""
    mm = df.agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"))
    lo, hi = F.col("__lo"), F.col("__hi")
    width = F.when(hi > lo, (hi - lo) / n_bins).otherwise(F.lit(1.0))
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.floor((F.col(col) - lo) / width).cast("int"),
    )
    return (
        df.crossJoin(F.broadcast(mm))
        .filter(F.col(col).isNotNull())
        .select(bin_id.alias("bin"), (lo + bin_id * width).alias("bin_lo"))
        .groupBy("bin", "bin_lo")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("bin", "n_rows", "bin_lo")
        .orderBy("bin")
    )


def rolling_active_counts(
    df: DataFrame,
    key: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Rolling distinct-actives (the DAU/WAU/MAU family) computed EXACTLY
    with no per-window COUNT DISTINCT: a key is "active at day t" iff it
    appeared within the trailing ``window_days``. Naively that is a
    distinct-count per window — quadratic state. Instead:

    1. distinct (key, day) pairs;
    2. gaps-and-islands per key: consecutive active days with gaps <
       ``window_days`` merge into one coverage interval [start, end +
       window_days);
    3. each interval emits +1 at its start and −1 at its expiry day;
    4. one global running sum over the delta days (the engine's two-phase
       ``prefix_sum`` over key-range buckets, whose min/max subquery runs
       inside the query — never a single-partition window, never a
       plan-time job).

    Output: (day, active_count) at every day the count CHANGES — the
    complete step function of the rolling metric. Shuffles: one on key,
    one on day; state per key is its islands, not its history."""
    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        prefix_sum,
    )

    days = df.select(key, F.to_date(ts_col).alias("__day")).distinct()
    w = Window.partitionBy(key).orderBy("__day")
    gap = F.datediff(F.col("__day"), F.lag("__day").over(w))
    brk = F.when(gap.isNull() | (gap >= window_days), 1).otherwise(0)
    isl = days.withColumn("__island", F.sum(brk).over(w))
    iv = isl.groupBy(key, "__island").agg(
        F.min("__day").alias("__s"), F.max("__day").alias("__e")
    )
    # one explode, not a union: a union of two selects over iv re-executes
    # the whole islands lineage twice (audited: ~2x the exchanges)
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("__s").alias("day"), F.lit(1).alias("__d")),
                F.struct(
                    F.date_add("__e", window_days).alias("day"),
                    F.lit(-1).alias("__d"),
                ),
            )
        ).alias("__x")
    ).select("__x.day", "__x.__d")
    per_day = deltas.groupBy("day").agg(F.sum("__d").alias("__dd"))
    # prefix_sum's key-range buckets need a numeric order key; DATE maps
    # losslessly to epoch-day ints
    per_day = per_day.withColumn("__dayi", F.unix_date("day"))
    out = prefix_sum(per_day, "__dd", order_by="__dayi", out_col="__cum")
    return out.select(
        "day", F.col("__cum").cast("long").alias("active_count")
    ).orderBy("day")


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch build (Cormode & Muthukrishnan 2005): a
    ``depth`` x ``width`` counter matrix as a (row, bucket, cnt)
    DataFrame — ``depth * width`` rows TOTAL regardless of corpus size,
    which is the whole point: the sketch of a 100 TB stream broadcasts,
    and two sketches MERGE by cell-wise addition (counters are sums, so
    the per-partition partials Spark computes map-side ARE partial
    sketches). Buckets come from the first 8 md5 hex digits of
    (key ':' row) — integer arithmetic end-to-end, so a SQL engine
    replays the sketch bit-identically (no RNG, no float).

    One explode (factor ``depth``) + one grouped count; shuffle width is
    bounded by depth*width distinct cells, not by |keys|."""
    rows = F.array(*[F.lit(j) for j in range(depth)])
    cell = df.select(
        F.explode(rows).alias("row"),
        F.col(key_col).cast("string").alias("__k"),
    ).select(
        "row",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("__k"), F.col("row"))), 1, 8
                ),
                16, 10,
            ).cast("long")
            % width
        ).alias("bucket"),
    )
    return cell.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    out_col: str = "cms_estimate",
) -> DataFrame:
    """Point-query a Count-Min sketch: estimate(key) = MIN over rows of
    the key's counter cell — never an undercount; overcounts come only
    from hash collisions (bounded by N/width per row w.h.p.). The
    counters table is depth*width rows, so the probe join broadcasts."""
    probes = keys.select(
        "*", F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row")
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(key_col).cast("string"), F.col("row")
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % width,
    )
    others = [c for c in keys.columns if c != key_col]
    return (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy(key_col, *others)
        .agg(F.min("cnt").alias(out_col))
    )


def acf_lags(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 5),
) -> DataFrame:
    """Per-key autocorrelation at the given lags, one grouped pass.

    r_k = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)) over the
    (x_t, x_{t-k}) pairs where both sides exist. Every Σ is an exact
    DECIMAL sum (inputs carry ≤2 decimals, products ≤4), so the statistic
    is bit-identical across engines and partitionings; the final
    combination is scalar double arithmetic. One ordered window (the lag
    columns share a single (key, order) shuffle) + one hash aggregate —
    no per-lag passes, no driver scalars."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    d = df
    for k in lags:
        d = d.withColumn(f"__lag{k}", F.lag(value_col, k).over(w))

    def dsum(col):
        return F.sum(col.cast("decimal(28,8)")).cast("double")

    aggs = []
    for k in lags:
        valid = F.col(f"__lag{k}").isNotNull() & F.col(value_col).isNotNull()
        x = F.when(valid, F.col(value_col))
        y = F.when(valid, F.col(f"__lag{k}"))
        aggs += [
            F.count(x).alias(f"__n{k}"),
            dsum(x).alias(f"__sx{k}"),
            dsum(y).alias(f"__sy{k}"),
            dsum(x * y).alias(f"__sxy{k}"),
            dsum(x * x).alias(f"__sxx{k}"),
            dsum(y * y).alias(f"__syy{k}"),
        ]
    g = d.groupBy(key_col).agg(*aggs)
    out_cols = [F.col(key_col)]
    for k in lags:
        n = F.col(f"__n{k}").cast("double")
        sx, sy = F.col(f"__sx{k}"), F.col(f"__sy{k}")
        sxy, sxx, syy = F.col(f"__sxy{k}"), F.col(f"__sxx{k}"), F.col(f"__syy{k}")
        num = n * sxy - sx * sy
        den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        out_cols.append(F.try_divide(num, F.nullif(den, F.lit(0.0))).alias(f"acf{k}"))
    return g.select(*out_cols)


def sharpe_of_diffs(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key mean/std ratio of the first differences (the
    difference-based Sharpe form: exact on ≤2-decimal inputs, unlike
    ratio returns whose doubles don't survive a decimal cast portably).
    mean = Σd/n; std = sqrt((n·Σd² − (Σd)²)/(n·(n−1))) with exact decimal
    Σd, Σd². One ordered window + one hash aggregate."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    d = df.withColumn("__d", F.col(value_col) - F.lag(value_col).over(w))

    def dsum(col):
        return F.sum(col.cast("decimal(28,8)")).cast("double")

    g = d.groupBy(key_col).agg(
        F.count("__d").alias("__n"),
        dsum(F.col("__d")).alias("__sd"),
        dsum(F.col("__d") * F.col("__d")).alias("__sdd"),
    )
    n = F.col("__n").cast("double")
    sd, sdd = F.col("__sd"), F.col("__sdd")
    mean = F.try_divide(sd, F.nullif(n, F.lit(0.0)))
    # try_divide + nullif: a key with < 2 diffs has no sample variance
    # (n·(n−1) = 0) — null, not an ANSI divide-by-zero error; the
    # greatest() clamp absorbs last-ulp cancellation (matches the oracle)
    var = F.try_divide(
        n * sdd - sd * sd, F.nullif(n * (n - F.lit(1.0)), F.lit(0.0))
    )
    std = F.when(var.isNotNull(), F.sqrt(F.greatest(var, F.lit(0.0))))
    return g.select(
        F.col(key_col),
        F.col("__n").alias("n_diffs"),
        mean.alias("mean_diff"),
        std.alias("std_diff"),
        F.try_divide(mean, F.nullif(std, F.lit(0.0))).alias("sharpe"),
    )


def group_entropy(
    df: DataFrame,
    key_col: str,
    class_col: str,
    out_prefix: str = "",
) -> DataFrame:
    """Shannon entropy (bits) of the class distribution per key — the
    class-balance / label-noise screen a training-data audit runs per
    slice. Per-class terms −p·log2(p) are computed from identical
    integer (count, total) pairs and quantized ONCE to integer
    nano-units, so the per-key sum is order-free and engine-exact.
    Plan: one (key, class) grouped count, one key-window total, one
    grouped integer sum — shuffles on (key, class) then (key)."""
    p = out_prefix
    counts = df.groupBy(key_col, class_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy(key_col)
    share = F.col("__c").cast("double") / F.col("__n").cast("double")
    term_nano = F.round(-share * F.log2(share) * 1e9, 0).cast("long")
    return (
        counts.withColumn("__n", F.sum("__c").over(w))
        .select(
            key_col,
            F.col("__n").alias("__nn"),
            term_nano.alias("__t"),
        )
        .groupBy(key_col)
        .agg(
            F.max("__nn").alias(f"{p}n_rows"),
            F.count(F.lit(1)).alias(f"{p}n_classes"),
            F.sum("__t").alias(f"{p}entropy_nano"),
        )
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t statistic between two
    groups, plus the Welch-Satterthwaite degrees of freedom — the
    significance companion to the exact KS drift statistic
    (ml/metrics.ks_two_sample) for slice-vs-slice data audits.

    Both groups' moment sums (n, Σx, Σx²) come from ONE filtered hash
    aggregate with map-side partials (exact DECIMAL(28,8) addends, so
    summation order can't move the sums); t and df are scalar IEEE
    combinations of those six numbers — every divide/sqrt is a
    correctly-rounded op on identical inputs, so the result is
    engine-exact. Plan: one scan + one 1-row aggregate; broadcast-size
    output. Returns NULL t/df when either group has < 2 observations."""

    def dsum(col):
        return F.sum(col.cast("decimal(28,8)")).cast("double")

    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    v = F.col(value_col)
    g = df.filter(in_a | in_b).agg(
        F.count(F.when(in_a, v)).alias("n_a"),
        F.count(F.when(in_b, v)).alias("n_b"),
        dsum(F.when(in_a, v)).alias("__sa"),
        dsum(F.when(in_a, v * v)).alias("__saa"),
        dsum(F.when(in_b, v)).alias("__sb"),
        dsum(F.when(in_b, v * v)).alias("__sbb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, saa = F.col("__sa"), F.col("__saa")
    sb, sbb = F.col("__sb"), F.col("__sbb")
    mean_a = F.try_divide(sa, F.nullif(na, F.lit(0.0)))
    mean_b = F.try_divide(sb, F.nullif(nb, F.lit(0.0)))
    # sample variance via n·Σx² − (Σx)²; greatest() absorbs last-ulp
    # cancellation exactly as the oracle does. The n >= 2 guard is
    # explicit (not left to NULL propagation) because greatest() IGNORES
    # nulls in both engines — without it a singleton group's NULL
    # variance would silently become 0.0 and produce a bogus t.
    def svar(n, s, ss):
        return F.when(
            n >= F.lit(2.0),
            F.greatest(
                F.try_divide(
                    n * ss - s * s, F.nullif(n * (n - F.lit(1.0)), F.lit(0.0))
                ),
                F.lit(0.0),
            ),
        )

    var_a = svar(na, sa, saa)
    var_b = svar(nb, sb, sbb)
    se2_a, se2_b = var_a / na, var_b / nb
    se2 = se2_a + se2_b
    t_stat = F.try_divide(mean_a - mean_b, F.nullif(F.sqrt(se2), F.lit(0.0)))
    df_w = F.try_divide(
        se2 * se2,
        F.nullif(
            F.try_divide(se2_a * se2_a, F.nullif(na - F.lit(1.0), F.lit(0.0)))
            + F.try_divide(
                se2_b * se2_b, F.nullif(nb - F.lit(1.0), F.lit(0.0))
            ),
            F.lit(0.0),
        ),
    )
    return g.select(
        F.col("n_a"),
        F.col("n_b"),
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        t_stat.alias("t_stat"),
        df_w.alias("df_welch"),
    )


def pareto_skyline_2d(
    df: DataFrame,
    max_col: str,
    min_col: str,
    n_buckets: int = 32,
) -> DataFrame:
    """2-D Pareto skyline: the DISTINCT (max_col, min_col) points not
    dominated by any other point, where a dominator is >= in ``max_col``,
    <= in ``min_col``, and strictly better in at least one — the
    multi-objective "best trade-offs" frontier (price-vs-quality,
    latency-vs-cost).

    Scale shape: skyline is DISTRIBUTIVE — skyline(A ∪ B) =
    skyline(skyline(A) ∪ skyline(B)) — so stage 1 sweeps a LOCAL frontier
    inside each of ``n_buckets`` hash buckets (partitioned window: no
    single-partition shuffle over the full data, the Q3 trap), and
    stage 2 repeats the same sweep once over the surviving candidates,
    whose count is bounded by the sum of per-bucket frontier sizes
    (frontiers are tiny relative to inputs). The sweep itself: order by
    (max_col DESC, min_col ASC); over distinct points, p is dominated
    iff some EARLIER point in that order has min_col <= p's — i.e. the
    running MIN(min_col) of the preceding frame beats it. One window,
    no self-join."""
    pts = df.select(max_col, min_col).dropDuplicates()

    def sweep(d: DataFrame, part: str) -> DataFrame:
        w = (
            Window.partitionBy(part)
            .orderBy(F.col(max_col).desc(), F.col(min_col).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        best = F.min(min_col).over(w)
        return (
            d.withColumn("__best", best)
            .filter(F.col("__best").isNull() | (F.col("__best") > F.col(min_col)))
            .drop("__best")
        )

    local = sweep(
        pts.withColumn(
            "__b", F.pmod(F.hash(max_col, min_col), F.lit(n_buckets))
        ),
        "__b",
    ).drop("__b")
    return sweep(local.withColumn("__g", F.lit(1)), "__g").drop("__g")


def exact_rank_narrow(
    df: DataFrame,
    col: str,
    k: "Column | int | None" = None,
    rounds: int = 2,
    n_buckets: int = 1024,
    checkpoint_rounds: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Distributed narrowing for EXACT order statistics (median /
    arbitrary rank k) over an integer column — the alternative to a
    global sort that stays parallel at 100 TB. Each round: aggregate
    (min, max) of the surviving set, histogram it into ``n_buckets``
    integer buckets (pure long arithmetic, one map-side-combined
    groupBy), locate the bucket containing the residual rank on the
    tiny bucket table, keep only that bucket's rows and subtract the
    preceding buckets' count from the rank. Two rounds shrink any
    corpus by n_buckets**2 (~10^6 at the default) — 100 TB of longs
    becomes a ~100 MB residue.

    Returns ``(survivors, kdf)``: the surviving rows (single column
    ``col``) and a 1-row DataFrame with the residual rank ``k`` into
    their ascending order. The caller ranks the residue (e.g. an
    unpartitioned row_number — safe, it only ever sees the residue)
    and picks row ``rn == k``. All round boundaries flow plan-side as
    1-row broadcast folds — zero driver collects.

    Between rounds the survivor set and residual rank are
    localCheckpoint'ed (``checkpoint_rounds=True``): without it every
    later reference re-derives the full prior-round lineage (a corpus
    re-scan per reference; textual plans exponential in rounds) — the
    same lineage-truncation pattern as the engine's other iterative
    operators (BPE merges, exact ALS, PLSA). At cluster scale point
    setCheckpointDir at reliable storage and swap in .checkpoint().

    ``k`` defaults to ceil(n/2), the lower median. Pass an int or a
    1-row Column expression for other order statistics.
    """
    if k is None:
        kdf = df.agg(
            ((F.count(F.lit(1)) + 1) / 2).cast("long").alias("k")
        )
    elif isinstance(k, int):
        kdf = df.sparkSession.range(1).select(F.lit(k).alias("k"))
    else:
        kdf = df.agg(k.cast("long").alias("k"))
    cur = df.select(col)
    for _ in range(rounds):
        mm = cur.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
        b = cur.crossJoin(F.broadcast(mm)).select(
            col,
            (
                (F.col(col) - F.col("lo")) * n_buckets
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("long").alias("__bucket"),
        )
        counts = b.groupBy("__bucket").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        wcum = Window.orderBy("__bucket").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = counts.select(
            "__bucket", "__cnt",
            (F.sum("__cnt").over(wcum) - F.col("__cnt")).alias(
                "__before"
            ),
        )
        target = (
            cum.crossJoin(F.broadcast(kdf))
            .filter(
                (F.col("__before") < F.col("k"))
                & (F.col("k") <= F.col("__before") + F.col("__cnt"))
            )
            .select("__bucket", "__before", "k")
        )
        cur = b.join(F.broadcast(target), "__bucket").select(col)
        kdf = target.select(
            (F.col("k") - F.col("__before")).alias("k")
        )
        if checkpoint_rounds:
            cur = cur.localCheckpoint(eager=True)
            kdf = kdf.localCheckpoint(eager=True)
    return cur, kdf
