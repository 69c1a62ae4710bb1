"""Reference-workload replication: the stock_minute pipeline (SURVEY.md §7
steps 4-5, FIXTURES.md §A).

The reference's feature pipeline (``G_2_rf_nordd_fe.py:47-313``) runs 11
sequential compute-aside-then-join stages over the minute-bar fact table:
daily averages via SQL-or-RDD aggregation joined back on ``date_only``
(J2), row-wise indicator arithmetic via RDD maps joined back on ``date``
(J1). This module reproduces that feature surface two ways:

- ``daily_features(df, fused=True)`` — ONE projection of window
  expressions sharing a single shuffle on (symbol): the Q4 fusion.
- ``daily_features(df, fused=False)`` — the reference's literal
  compute-aside-then-join dataflow, kept as the parity/benchmark foil.

Tests assert both forms are value-identical; bench compares their cost.

Fixture generation is fully distributed (``spark.range`` + hash-derived
uniforms + one cumulative-sum window per symbol) — no driver-side pandas, so
the same code generates 1 K rows for a unit test or 10 B rows on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind
from big_data_analysis_for_stock_market_data_spark.operators import windows as win_ops

MINUTES_PER_DAY = 390  # 09:30-16:00 trading session


def _uniform(seed_col, salt: int, hash_fn: str = "xxhash64"):
    """Deterministic uniform in [0,1) from a row id — hashing, not rand():
    reproducible independent of partitioning, task retries, and row order.
    ``hash_fn='md5'`` derives the value from md5 hex (identical in every
    SQL engine — the oracle-parity variant; xxhash64 is faster and stays
    the default)."""
    if hash_fn == "xxhash64":
        h = F.abs(F.xxhash64(seed_col, F.lit(salt)))
    elif hash_fn == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", seed_col.cast("string"), F.lit(salt))),
                1, 15,
            ),
            16, 10,
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return (h % F.lit(1_000_000_007)).cast("double") / 1_000_000_007.0


def make_stock_fixture(
    spark: SparkSession,
    n_rows: int = 10_000,
    n_symbols: int = 4,
    seed: int = 42,
    start: str = "2015-01-05 09:30:00",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Synthetic minute-bar OHLCV in the reference's shape (FIXTURES.md §A):
    per-symbol positive random-walk close, ``low <= min(open, close)``,
    ``high >= max(open, close)``, positive int volume, minute timestamps over
    09:30-16:00 sessions on consecutive weekdays."""
    per_symbol = n_rows // n_symbols
    df = spark.range(n_rows).select(
        (F.col("id") % n_symbols).alias("symbol_id"),
        (F.col("id") / n_symbols).cast("long").alias("i"),
        F.col("id"),
    )
    day = (F.col("i") / MINUTES_PER_DAY).cast("long")
    minute = F.col("i") % MINUTES_PER_DAY
    ts = F.to_timestamp(F.lit(start)) + F.make_dt_interval(
        days=day, mins=minute
    )
    # per-minute log-return ~ Uniform(-0.001, 0.001), cumulated per symbol
    # via the distributed two-phase prefix sum (windows.prefix_sum) — the
    # sequential unbounded window would serialize each symbol on one core
    step = (_uniform(F.col("id") + seed, 1, hash_fn) - 0.5) * 0.002
    stepped = df.select(
        F.concat(F.lit("SYM"), F.col("symbol_id")).alias("symbol"),
        ts.alias("date"),
        F.col("id"),
        F.col("symbol_id"),
        F.col("i"),
        step.alias("__step"),
    )
    summed = win_ops.prefix_sum(
        stepped, "__step", order_by="i", partition_by="symbol_id",
        out_col="__cumret",
    )
    log_price = (
        F.log(F.lit(100.0) + F.col("symbol_id") * 10) + F.col("__cumret")
    )
    d = summed.select(
        "symbol",
        "date",
        F.exp(log_price).alias("close"),
        F.col("id"),
        F.col("symbol_id"),
        F.col("i"),
    )
    prev_close = F.lag("close", 1).over(Window.partitionBy("symbol_id").orderBy("i"))
    open_ = F.coalesce(prev_close, F.col("close"))
    spread_hi = 1.0 + _uniform(F.col("id") + seed, 2, hash_fn) * 0.001
    spread_lo = 1.0 - _uniform(F.col("id") + seed, 3, hash_fn) * 0.001
    return d.select(
        "symbol",
        "date",
        open_.alias("open"),
        (F.greatest(open_, F.col("close")) * spread_hi).alias("high"),
        (F.least(open_, F.col("close")) * spread_lo).alias("low"),
        "close",
        (
            100
            + (
                F.abs(F.xxhash64("id", F.lit(seed + 4)))
                if hash_fn == "xxhash64"
                else F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", F.col("id").cast("string"),
                                F.lit(seed + 4),
                            )
                        ),
                        1, 15,
                    ),
                    16, 10,
                ).cast("long")
            )
            % 10_000
        ).cast("int").alias("volume"),
    ).withColumn("date_only", F.to_date("date"))


# Row-wise derived features the reference computed in RDD-map Python
# (G_2_rf_nordd_fe.py:92-96,113-117,135-139,155-159,198-203,223-227,
# 247-251,271-275,295-299) — here: one Column projection.
def _rowwise_features(d: DataFrame) -> DataFrame:
    return (
        d.withColumn("macd", F.col("macd510") - F.col("macd1226"))
        .withColumn("com_channel_index", F.col("cci5") - F.col("close"))
        .withColumn("rsi_rel", F.col("rsi14") - F.col("close"))
        .withColumn(
            "sma_mean",
            (F.col("sma5") + F.col("sma10") + F.col("sma15") + F.col("sma20")) / 4,
        )
        .withColumn(
            "kama_mean", (F.col("kama10") + F.col("kama20") + F.col("kama30")) / 3
        )
        .withColumn(
            "adx_mean", (F.col("adx5") + F.col("adx10") + F.col("adx20")) / 3
        )
        .withColumn(
            "roc_mean", (F.col("roc5") + F.col("roc10") + F.col("roc20")) / 3
        )
        .withColumn(
            "trima_mean", (F.col("trima5") + F.col("trima10") + F.col("trima20")) / 3
        )
    )


_DAILY_COLS = ["avg_close", "avg_open", "avg_close_prev_day"]


def daily_features(df: DataFrame, fused: bool = True) -> DataFrame:
    """Attach the reference's day-grain features to every minute row:
    ``avg_close``/``avg_open`` (per symbol-day) and ``avg_close_prev_day``
    (previous trading day's avg_close — the reference's W2 built this with a
    tie-ambiguous ``LAG ... ORDER BY date_only`` (Q2); both forms here are
    deterministic by construction).

    fused=True: window expressions over (symbol, date_only) plus a
    dense-day-index range frame for the previous trading day — one shuffle
    on symbol, zero joins.
    fused=False: the reference's literal dataflow — daily aggregate frame,
    day-grain lag, equi-join back on (symbol, date_only) (J2).

    Averages are EXACT-DECIMAL staged (sum of DECIMAL(18,6) addends, one
    cast to double, one division): a plain double AVG's value depends on
    the engine's summation order, so it changes across partitionings and
    engines at the ulp level — these features feed the ML surface and the
    oracle gate, where that nondeterminism becomes flaky hashes. Decimal
    addition is order-free, so both fused and join forms (and any SQL
    twin) agree bit-for-bit.
    """
    def davg_over(c: str, w: Window) -> Column:
        return (
            F.sum(F.col(c).cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.col(c)).over(w)
        )

    if not fused:
        daily = (
            df.groupBy("symbol", "date_only")
            .agg(
                (
                    F.sum(F.col("close").cast("decimal(18,6)")).cast("double")
                    / F.count("close")
                ).alias("avg_close"),
                (
                    F.sum(F.col("open").cast("decimal(18,6)")).cast("double")
                    / F.count("open")
                ).alias("avg_open"),
            )
            .withColumn(
                "avg_close_prev_day",
                F.lag("avg_close", 1).over(
                    Window.partitionBy("symbol").orderBy("date_only")
                ),
            )
        )
        return df.join(F.broadcast(daily), on=["symbol", "date_only"])

    day_w = Window.partitionBy("symbol", "date_only")
    # dense day index -> "previous trading day" as a range frame, immune to
    # calendar gaps (weekends/holidays)
    day_idx = F.dense_rank().over(Window.partitionBy("symbol").orderBy("date_only"))
    d = df.withColumn("__day_idx", day_idx)
    prev_day_w = (
        Window.partitionBy("symbol").orderBy("__day_idx").rangeBetween(-1, -1)
    )
    return (
        d.withColumn("avg_close", davg_over("close", day_w))
        .withColumn("avg_open", davg_over("open", day_w))
        .withColumn("avg_close_prev_day", davg_over("close", prev_day_w))
        .drop("__day_idx")
    )


def feature_hints(
    df: DataFrame,
    order_by: str = "date",
) -> dict:
    """Precompute the order cut points (``win_ops.compute_order_cuts``,
    one approxQuantile job) that bucketed passes over these bars take as
    ``cuts=``, e.g. ``rolling_apply_parallel``. ``feature_frame`` reads no
    hint, so ``feature_frame(bars, **hints)`` builds the same plan as
    ``feature_frame(bars)``."""
    n = win_ops.shuffle_partitions(df)
    return {"cuts": win_ops.compute_order_cuts(df, order_by, n)}


def feature_frame(
    df: DataFrame,
    label_mode: str = "lead",
    fused: bool = True,
    cuts: "list[float] | None" = None,
) -> DataFrame:
    """Full reference feature pipeline, engine-style: native indicators
    (one applyInPandas pass running the closed-form block, CCI and the
    recursive family), row-wise derived features, day-grain features, and
    the buy/sell label — the surface ``G_2_rf_nordd_fe.py`` built in 11
    join stages. Building the frame submits no Spark job.

    Stage order is a measured plan choice: the day-grain windows and the
    label depend only on RAW columns, so they run FIRST, on the narrow
    6-column bars — their sorts move ~7x less data than on the ~45-column
    enriched frame, and the indicator pass's repartition then reuses the
    window exchange's clustering instead of re-shuffling the full enriched
    frame (was: windows after enrichment = +25 s of the 43 s pipeline at
    the 671k-row reference scale).

    ``cuts`` is not read. It is kept for callers that pass
    ``**feature_hints(bars)``, such as ``perfbench/stockload.py``."""
    d = daily_features(df, fused=fused)
    d = win_ops.label_buy_sell(
        d, value_col="high", order_by="date", partition_by="symbol",
        mode=label_mode,
    )
    d = ind.enrich_ohlcv(d, partition_by="symbol", order_by="date")
    return _rowwise_features(d)


#: Feature columns for ML (numeric, null-free after warm-up trimming).
FEATURE_COLS = [
    "macd", "bollinger_bands_width", "com_channel_index", "rsi_rel",
    "sma_mean", "kama_mean", "adx_mean", "roc_mean", "trima_mean",
    "avg_close", "avg_open", "avg_close_prev_day",
]


def stock_pipeline(
    df: DataFrame,
    model: str = "rf",
    transform: str = "none",
    label_mode: str = "lead",
    seed: int = 42,
    **fit_kwargs,
):
    """End-to-end reference pipeline: features -> label -> seeded ML fit.
    ``model``: 'rf' | 'svc'; ``transform``: 'none' | 'scale' | 'pca' —
    the reference's benchmark grid (G_2_presentation.pdf p.22)."""
    from big_data_analysis_for_stock_market_data_spark import ml

    feats = feature_frame(df, label_mode=label_mode).na.drop(
        subset=FEATURE_COLS
    )
    trainer = ml.train_random_forest if model == "rf" else ml.train_linear_svc
    return trainer(
        feats, FEATURE_COLS, label_col="buy_or_sell",
        transform=transform, seed=seed, **fit_kwargs,
    )
