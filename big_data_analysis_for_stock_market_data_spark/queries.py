"""Query registry: the engine's operator-coverage surface.

Each entry pairs a Spark DataFrame program (built from the engine's operator
modules) with an ANSI-SQL oracle that DuckDB executes over the same parquet
tables (driver contract in ``__spark_entry__.py``). Column aliases match
exactly on both sides; every float aggregate uses the *exact-decimal-sum*
pattern (``SUM(CAST(x AS DECIMAL(18,6)))`` then one cast to double) so the
result is bit-identical regardless of each engine's summation order.

Queries whose semantics SQL cannot express (recursive EMA/KAMA, MinHash LSH,
ANN top-k, ML pipelines) appear in ``queries()`` without an oracle entry —
the driver records a rows-only check for those, per contract.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_analysis_for_stock_market_data_spark.functions.scalar import md5_60
from big_data_analysis_for_stock_market_data_spark.operators import aggregates as agg_ops
from big_data_analysis_for_stock_market_data_spark.operators import joins as join_ops
from big_data_analysis_for_stock_market_data_spark.operators import windows as win_ops
from big_data_analysis_for_stock_market_data_spark.schema import TESTDATA_SCHEMAS
from big_data_analysis_for_stock_market_data_spark.sources.io import read_parquet

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn
    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(
        spark, os.path.join(sf_dir, f"{name}.parquet"), schema=TESTDATA_SCHEMAS[name]
    )


# Exact-decimal aggregate helpers: cast each addend to DECIMAL(18,6) (exact,
# order-independent addition), then convert once to double. Both engines
# produce the same decimal per row from the same IEEE double, so the sums —
# and therefore the value hashes — agree exactly.
def dsum(col, alias: str):
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def davg(col, alias: str):
    return (
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(col)
    ).alias(alias)


def _sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def _sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({expr})"
        f" AS {alias}"
    )


# ---------------------------------------------------------------------------
# Flagship: the reference's label+daily pipeline transposed to the events
# table (reference shape: G_2_rf_nordd.py:24-40 + G_2_rf_nordd_fe.py:47-49).
# lead-label per user (Q1 intent mode), daily average FUSED as a window
# aggregate instead of the reference's compute-aside-then-join (Q4) — one
# shuffle on (user_id) total, versus scan+groupBy+join in the reference.
# ---------------------------------------------------------------------------

@register(
    "flagship_label_daily",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts)
                     > value THEN 1 ELSE 0 END AS buy_or_sell,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                  OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS DOUBLE)
             / COUNT(value) OVER (PARTITION BY user_id, CAST(ts AS DATE))
             AS avg_value_day
    FROM events
    """,
)
def flagship_label_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    labeled = win_ops.label_buy_sell(
        events, value_col="value", order_by="ts", partition_by="user_id", mode="lead"
    )
    labeled = labeled.withColumn("date_only", F.to_date("ts"))
    day_w = Window.partitionBy("user_id", "date_only")
    fused = labeled.withColumn(
        "avg_value_day",
        F.sum(F.col("value").cast("decimal(18,6)")).over(day_w).cast("double")
        / F.count("value").over(day_w),
    )
    return fused.select(
        "event_id", "user_id", "ts", "value", "buy_or_sell", "avg_value_day"
    )


# ---------------------------------------------------------------------------
# Reference operator parity (SURVEY.md §2) over the driver tables.
# ---------------------------------------------------------------------------

@register(
    "w1_lag_label_parity",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN lag(value, 1) OVER (ORDER BY ts) > value
                THEN 1 ELSE 0 END AS buy_or_sell
    FROM events
    """,
)
def w1_lag_label_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/Q1 lag-parity mode: replicates the scripts' actual label —
    ``LAG(high) OVER (ORDER BY date)`` aliased 'next_high'
    (G_2_rf_nordd.py:36-37). Global window kept deliberately for parity;
    `flagship_label_daily` shows the partitioned form."""
    events = load(spark, sf_dir, "events")
    out = win_ops.label_buy_sell(
        events, value_col="value", order_by="ts", partition_by=None, mode="lag_parity"
    )
    return out.select("event_id", "ts", "value", "buy_or_sell")


@register(
    "w3_lead_label",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN lead(value, 1) OVER (ORDER BY ts) > value
                THEN 1 ELSE 0 END AS buy_or_sell
    FROM events
    """,
)
def w3_lead_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/Q1 intent mode (notebook cell 50: ``lead('high',1)``)."""
    events = load(spark, sf_dir, "events")
    out = win_ops.label_buy_sell(
        events, value_col="value", order_by="ts", partition_by=None, mode="lead"
    )
    return out.select("event_id", "ts", "value", "buy_or_sell")


@register(
    "w1_scalable_global_lag",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CASE WHEN lag(value, 1) OVER (ORDER BY ts) > value
                THEN 1 ELSE 0 END AS buy_or_sell
    FROM events
    """,
)
def w1_scalable_global_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as w1_lag_label_parity but WITHOUT the single-
    partition window (Q3 at scale): key-range buckets (min/max from a
    scalar subquery inside the query, so building runs no job) +
    bucket-local lag + broadcast boundary stitch (operators/windows.py
    global_lag_lead). Identical oracle — proving plan change, not
    semantics change."""
    events = load(spark, sf_dir, "events")
    d = win_ops.global_lag_lead(
        events, "value", order_by="ts", kind="lag", out_col="__prev"
    )
    return d.select(
        "event_id", "ts", "value",
        F.when(F.col("__prev") > F.col("value"), 1).otherwise(0).alias(
            "buy_or_sell"
        ),
    )


@register(
    "w_prefix_sum",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(SUM(CAST(value AS DECIMAL(28,8)))
                OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_value
    FROM events
    """,
)
def w_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total via windows.prefix_sum. With a partition
    key this is the plain per-key running-sum window (parallelism =
    |users|, no auxiliary broadcast — the scalable plan for keyed data);
    the keyless form is the two-phase scan over key-range buckets with a
    |buckets|-row broadcast. Exact under decimal addition either way."""
    events = load(spark, sf_dir, "events")
    out = win_ops.prefix_sum(
        events, "value", order_by="ts", partition_by="user_id",
        out_col="cum_value",
    )
    return out.select("event_id", "user_id", "ts", "cum_value")


@register(
    "w_time_range_frame",
    # event-TIME frame, not row-count frame: RANGE over exact epoch
    # microseconds, so sparse/bursty series aggregate over true 7-day
    # trailing windows regardless of row density
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           COUNT(value) OVER w AS n_7d,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS sum_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def w_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-DAY (not 7-row) aggregate per user: rangeBetween over
    unix_micros — Spark's time-range frame, one shuffle on the user key.
    The row-frame indicators assume dense series; this is the correct form
    for sparse event streams."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-604_800_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.count("value").over(w).alias("n_7d"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w)
         .cast("double").alias("sum_7d"),
    )


@register(
    "w_ema_scan",
    # The oracle replays the sequential recursion (recursive CTE, all
    # literals CAST AS DOUBLE — bare decimals are DECIMAL in DuckDB); the
    # Spark side is the per-key fold, pandas ewm(adjust=False), which
    # divides each step by ((1-a)+a) (see ind_recursive_family). Both
    # emit integer CENTI-units (round(ema*100) — double-to-integer
    # rounding is engine-exact), so a last-ulp difference between the two
    # evaluation orders can only matter at a rounding boundary.
    oracle="""
    WITH RECURSIVE s AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    e(user_id, rn, ema) AS (
      SELECT user_id, rn, CAST(value AS DOUBLE) FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
             (CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / 11.0) * e.ema
               + (CAST(2.0 AS DOUBLE) / 11.0) * s.value
      FROM e JOIN s ON s.user_id = e.user_id AND s.rn = e.rn + 1
    )
    SELECT s.event_id, s.user_id, s.ts, s.value,
           CAST(round(e.ema * 100) AS BIGINT) AS ema10_centi
    FROM s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn
    """,
)
def w_ema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA(10) per user on the recursive fold (indicators.ema: one hash
    shuffle on the key, one Python call per partition, each user's
    series folded in one pandas call). Building it submits no Spark job. Emits
    the centi-unit fixed-point EMA, oracle-checked against the
    sequential recursion replayed in SQL (see oracle note)."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events")
    out = ind.ema(
        ev, spans=[10], partition_by="user_id", order_by="ts", col="value"
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        F.round(F.col("ema10") * 100, 0).cast("long").alias("ema10_centi"),
    )


@register(
    "fn_time_bucket",
    oracle=f"""
    SELECT user_id,
           time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
             AS bucket_start,
           COUNT(*) AS n_events,
           {_sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def fn_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time_bucket rollup: 15-minute buckets via
    window(ts, ...).start — epoch-aligned, matching DuckDB time_bucket."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.window("ts", "15 minutes").start.alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
    )


@register(
    "w2_daily_lag_avg",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)
             AS avg_value,
           CAST(SUM(CAST(lag_value AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(lag_value) AS avg_prev_value
    FROM (
      SELECT ts, value, lag(value) OVER (ORDER BY ts) AS lag_value
      FROM events
    ) sub
    GROUP BY CAST(ts AS DATE)
    ORDER BY day
    """,
)
def w2_daily_lag_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+A1+A2 (G_2_rf_nordd_fe.py:47): LAG in a subquery feeding a grouped
    AVG with sorted output. The reference ordered the lag by the *day* key —
    nondeterministic under ties (Q2); the engine orders by the full
    timestamp, which is unique."""
    events = load(spark, sf_dir, "events")
    lagged = win_ops.with_lag(
        events, "value", order_by="ts", partition_by=None, out_col="lag_value"
    )
    day = lagged.withColumn("day", F.to_date("ts"))
    return (
        day.groupBy("day")
        .agg(davg(F.col("value"), "avg_value"), davg(F.col("lag_value"), "avg_prev_value"))
        .orderBy("day")
    )


@register(
    "p_derive_flag_drop",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS date_only,
           CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS big_order
    FROM orders
    """,
)
def p_derive_flag_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4 + F1: projection, to_date derivation, when/otherwise flag, and
    the reference's lenient multi-drop incl. a nonexistent column
    (G_2_rf_nordd_fe.py:169 drops 'RSI18' that does not exist)."""
    orders = load(spark, sf_dir, "orders")
    out = (
        orders.withColumn("date_only", F.to_date("o_orderdate"))
        .withColumn(
            "big_order", F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)
        )
        .drop("o_orderpriority", "o_orderstatus", "NO_SUCH_COLUMN")
    )
    return out.select("o_orderkey", "date_only", "big_order")


@register(
    "a2_sorted_avg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_davg('l_quantity', 'avg_qty')},
           {_sql_davg('l_extendedprice', 'avg_price')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def a2_sorted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3: hash-aggregate AVG with sorted output. Subsumes the
    reference's 15-line RDD map/reduceByKey average
    (G_2_rf_nordd_fe.py:59-73) — map-side partial aggregation, no Python."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "a4_duplicate_stats",
    oracle="""
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           COUNT(*) AS n_distinct,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_duplicates
    FROM (SELECT text, COUNT(*) AS n FROM documents GROUP BY text) g
    """,
)
def a4_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 single-pass duplicate scan (vs the reference's two-scan
    count-vs-dropDuplicates probe, ipynb cell 15)."""
    docs = load(spark, sf_dir, "documents")
    return agg_ops.duplicate_stats(docs, subset=["text"])


@register(
    "a5_null_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS nulls_text,
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS nulls_lang,
           CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS nulls_source
    FROM documents
    """,
)
def a5_null_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 one-pass per-column null scan (vs na.drop().count() double scan,
    ipynb cell 17)."""
    docs = load(spark, sf_dir, "documents")
    return agg_ops.null_stats(docs, columns=["text", "lang", "source"])


@register(
    "j1_segment_rollup",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {_sql_dsum('o.o_totalprice', 'sum_totalprice')},
           {_sql_davg('o.o_totalprice', 'avg_totalprice')}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def j1_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi-join (fact ⋈ dim) + grouped aggregate. The customer side is
    broadcast — Catalyst picks broadcast-hash under the engine threshold; we
    pin it because dim<fact always holds here."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    joined = join_ops.equi_join(
        orders, customer.select("o_custkey", "c_mktsegment"),
        on="o_custkey", broadcast_right=True,
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_totalprice"),
            davg(F.col("o_totalprice"), "avg_totalprice"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "j2_daygrain_fanout",
    oracle="""
    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value, d.avg_value_day
    FROM events e
    JOIN (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)
               AS avg_value_day
      FROM events GROUP BY CAST(ts AS DATE)
    ) d ON CAST(e.ts AS DATE) = d.day
    """,
)
def j2_daygrain_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the reference's day-grain compute-aside-then-join
    (G_2_rf_nordd_fe.py:47-49), kept in join form for parity. The daily
    aggregate is tiny → broadcast, so the fact side never shuffles.
    `flagship_label_daily` shows the fused (Q4) form."""
    events = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = (
        events.groupBy("day")
        .agg(davg(F.col("value"), "avg_value_day"))
    )
    out = join_ops.equi_join(events, daily, on="day", broadcast_right=True)
    return out.select("event_id", "ts", "value", "avg_value_day")


@register(
    "j3_outer_join",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           {_sql_dsum('o.o_totalprice', 'sum_spend')}
    FROM customer c
    LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey
    """,
)
def j3_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left outer join preserving customers with zero orders
    (COUNT over the nullable side counts matches only; SUM of no rows is
    null on both engines)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    joined = c.join(o, o.o_custkey == c.c_custkey, "left_outer")
    return (
        joined.groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_spend"),
        )
        .orderBy("c_custkey")
    )


@register(
    "j4_bloom_prefilter",
    # the runtime Bloom filter Spark may inject is lossless (no false
    # negatives; false positives die in the exact join), so the oracle is
    # the same plain join
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000) o
      ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def j4_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dimension join, with the runtime filter left to Spark: the
    plain inner join of lineitem with the selective orders subset. Under
    the broadcast threshold the orders side is broadcast, so lineitem never
    shuffles; with broadcast off, Spark's ``InjectRuntimeFilter`` adds a
    ``might_contain`` Bloom filter on lineitem once its scan exceeds
    ``spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold``,
    so at 100 TB the fact side shuffles only ~matching rows. Building the
    entry runs no job."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    ).select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    joined = li.join(o, on="l_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q17_small_quantity",
    oracle=f"""
    SELECT {_sql_dsum('l.l_extendedprice', 'sum_price')},
           COUNT(*) AS n_rows
    FROM lineitem l
    JOIN (
      SELECT l_partkey,
             0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                    / COUNT(l_quantity)) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < a.half_avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate + self-join — the form Catalyst's
    RewriteCorrelatedScalarSubquery produces; written directly so the plan
    is explicit. Compare threshold uses AVG (not decimal-summed): both
    engines divide once over the same addends — and the FILTER result
    feeds decimal-summed outputs, so hash-stable."""
    li = load(spark, sf_dir, "lineitem")
    avg_q = (
        li.groupBy(F.col("l_partkey").alias("p_key"))
        .agg((0.5 * davg(F.col("l_quantity"), "a")).alias("half_avg_qty"))
    )
    joined = li.join(avg_q, li.l_partkey == avg_q.p_key).filter(
        F.col("l_quantity") < F.col("half_avg_qty")
    )
    return joined.agg(
        dsum(F.col("l_extendedprice"), "sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "o1_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def o1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: global sort + limit. Spark executes this as TakeOrderedAndProject
    — per-partition top-k then a k-row driver merge; no full global sort at
    scale. Tiebreak on the key keeps it deterministic."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "f_scalar_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           (l_extendedprice - l_quantity) / l_extendedprice AS spread_ratio,
           (l_quantity + l_discount + l_tax) / 3 AS kary_mean
    FROM lineitem
    """,
)
def f_scalar_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F5: per-row Column arithmetic (subtraction, ratio, k-ary mean) —
    the reference computed these in RDD-map Python (G_2_rf_nordd_fe.py:92-96,
    113-117, 198-203); here they are codegen'd JVM expressions. Per-row IEEE
    ops in identical order are bit-equal across engines, so no rounding."""
    li = load(spark, sf_dir, "lineitem")
    ep, dc, tx, qt = (F.col(c) for c in
                      ("l_extendedprice", "l_discount", "l_tax", "l_quantity"))
    return li.select(
        "l_orderkey", "l_linenumber",
        (ep * (1 - dc)).alias("disc_price"),
        (ep * (1 - dc) * (1 + tx)).alias("charge"),
        ((ep - qt) / ep).alias("spread_ratio"),
        ((qt + dc + tx) / 3).alias("kary_mean"),
    )


# ---------------------------------------------------------------------------
# Headline analytical queries (TPC-H-shaped, over the driver star schema).
# These exercise the engine's scan→filter→join→agg→sort pipeline at bench
# scale; plans are validated in tests/test_plans.py (pushdown, broadcast).
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum('l_quantity', 'sum_qty')},
           {_sql_dsum('l_extendedprice', 'sum_base_price')},
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {_sql_davg('l_quantity', 'avg_qty')},
           {_sql_davg('l_extendedprice', 'avg_price')},
           {_sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregate with a pushed-down
    timestamp predicate (check PushedFilters in the scan node). One shuffle
    carrying ≤ |groups| x |partitions| partial rows."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    ep, dc, tx = (F.col(c) for c in ("l_extendedprice", "l_discount", "l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(ep, "sum_base_price"),
            dsum(ep * (1 - dc), "sum_disc_price"),
            dsum(ep * (1 - dc) * (1 + tx), "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(ep, "avg_price"),
            davg(dc, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_unshipped",
    oracle=f"""
    SELECT l.l_orderkey,
           {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter broadcast into a 3-way join,
    grouped revenue, top-k. The filtered customer segment broadcasts; orders
    and lineitem join on their natural key."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )
    return (
        joined.withColumn("orderdate", F.to_date("o_orderdate"))
        .groupBy("l_orderkey", "orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery (orders with any
    late-shipping lineitem, >60 days after order date) as a left_semi
    join — no duplication from multi-match lineitems, quarter filter
    pushed to the orders scan. The synthetic lineitem has no commit/
    receipt dates, so lateness is shipdate-vs-orderdate."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.timestamp_add("DAY", F.lit(60), o.o_orderdate)),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q5_nation_revenue",
    oracle=f"""
    SELECT n.n_name,
           {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'AMERICA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join — every dim (region/nation/customer) is
    broadcast so the only shuffle is the final small group-by."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    joined = (
        o.join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Set operations / grouping extensions (SURVEY.md §2.4-A7, §2.6-O6: absent in
# the reference; part of the engine's full relational surface).
# ---------------------------------------------------------------------------

@register(
    "setop_nation_overlap",
    oracle="""
    SELECT n_nationkey FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT s_nationkey AS n_nationkey FROM supplier
    ) t
    ORDER BY n_nationkey
    """,
)
def setop_nation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: INTERSECT (dedup semantics) between two key sets."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    return c.intersect(s).orderBy("n_nationkey")


@register(
    "setop_except_union",
    oracle="""
    SELECT n_nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS n_nationkey FROM supplier
    ) u
    WHERE n_nationkey NOT IN (SELECT n_regionkey FROM nation)
    GROUP BY n_nationkey
    ORDER BY n_nationkey
    """,
)
def setop_except_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: UNION ALL + anti-semantics filter (left_anti join — Spark's
    NOT IN without the null trap) + grouped count."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    rk = load(spark, sf_dir, "nation").select(
        F.col("n_regionkey").alias("n_nationkey")
    )
    u = c.unionByName(s)
    return (
        u.join(F.broadcast(rk), on="n_nationkey", how="left_anti")
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("n_nationkey")
    )


@register(
    "a7_rollup_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {_sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def a7_rollup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: ROLLUP grouping sets (subtotals + grand total)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("l_quantity"), "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "a7_pivot_status",
    oracle=f"""
    SELECT l_returnflag,
           {_sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'qty_O')},
           {_sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'qty_F')}
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a7_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: pivot with explicit value list (explicit values avoid the extra
    distinct-scan Spark otherwise runs to discover pivot columns)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"))
        .select(
            "l_returnflag",
            F.col("O").alias("qty_O"),
            F.col("F").alias("qty_F"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "a7_unpivot_metrics",
    # UNION ALL twin of melt: one output row per (key, metric)
    oracle="""
    SELECT o_orderkey, metric, value FROM (
      SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE)
      FROM orders
    )
    """,
)
def a7_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 family: unpivot/melt — wide metric columns to long (key, metric,
    value) rows, the inverse of pivot. Spark's native ``unpivot`` is a
    zero-shuffle per-row expansion (an Expand node, like rollup's), not a
    union of scans: one pass over the input regardless of how many columns
    melt."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "a7_cube_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {_sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def a7_cube_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: CUBE grouping sets (all 2^k key subsets in one pass)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum(F.col("l_quantity"), "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "a7_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {_sql_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def a7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: explicit GROUPING SETS — the general form ROLLUP/CUBE sugar
    over (per-flag, per-shipmode, grand total in ONE pass; an app would
    otherwise union three scans)."""
    li = load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_price
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        li=li,
    )


@register(
    "sql_entry_daily_label",
    oracle="""
    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts,
           CASE WHEN lead(e.value, 1) OVER (PARTITION BY e.user_id
                                            ORDER BY e.ts) > e.value
                THEN 1 ELSE 0 END AS buy_or_sell,
           d.n_day
    FROM events e
    JOIN (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_day
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ) d ON e.user_id = d.user_id AND CAST(e.ts AS DATE) = d.day
    """,
)
def sql_entry_daily_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A (SURVEY.md §3.1): the reference drove everything
    through ``createOrReplaceTempView`` + ``spark.sql`` SQL strings
    (G_2_rf_nordd.py:32,36). Same Catalyst backend as the DataFrame chain —
    this entry proves the engine's SQL surface end-to-end (view registry in
    sources/io.register_views)."""
    from big_data_analysis_for_stock_market_data_spark.sources.io import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT e.event_id, e.ts,
               CASE WHEN lead(e.value, 1) OVER (PARTITION BY e.user_id
                                                ORDER BY e.ts) > e.value
                    THEN 1 ELSE 0 END AS buy_or_sell,
               d.n_day
        FROM events e
        JOIN (
          SELECT user_id, to_date(ts) AS day, COUNT(*) AS n_day
          FROM events GROUP BY user_id, to_date(ts)
        ) d ON e.user_id = d.user_id AND to_date(e.ts) = d.day
        """
    )


@register(
    "w_ranking_suite",
    oracle="""
    SELECT event_id, user_id,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER w AS rn,
           ntile(4) OVER w AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def w_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 ranking family: rank/dense_rank/row_number/ntile/percent_rank/
    cume_dist over per-user time order (partitioned — no global window)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return events.select(
        "event_id", "user_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "w_value_suite",
    # explicit ROWS frames on both sides: last_value/nth_value default to
    # the running frame (UNBOUNDED PRECEDING..CURRENT ROW), whose nth/last
    # semantics surprise every SQL porting guide — the full-partition frame
    # is spelled out so the intent is unambiguous in either engine
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_v,
           nth_value(value, 3) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def w_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 value family: first_value / last_value / nth_value with explicit
    full-partition frames (the default running frame makes last/nth return
    the CURRENT row — the classic window-porting trap, made explicit)."""
    events = load(spark, sf_dir, "events")
    w_run = Window.partitionBy("user_id").orderBy("ts")
    w_full = w_run.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return events.select(
        "event_id", "user_id",
        F.first("value").over(w_run).alias("first_v"),
        F.last("value").over(w_full).alias("last_v"),
        F.nth_value("value", 3).over(w_full).alias("third_v"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark percentile == DuckDB
    quantile_cont, both linear interpolation; rounded to 6dp because the
    interpolation arithmetic orders differently)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias(
                "median_price"
            ),
            F.round(F.percentile("l_extendedprice", F.lit(0.95)), 6).alias(
                "p95_price"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q18_big_orders",
    oracle=f"""
    SELECT o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS orderdate,
           o.o_totalprice,
           {_sql_dsum('l.l_quantity', 'total_qty')}
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
)
def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join filter
    (left_semi — no row duplication, build side is the small qualified-key
    set), then join + re-aggregate."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    o2 = o.join(
        F.broadcast(big), o.o_orderkey == big.l_orderkey, "left_semi"
    )
    joined = o2.join(li, li.l_orderkey == o2.o_orderkey)
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("orderdate"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )


@register(
    "agg_approx_distinct",
    # property oracle: the sketch's register layout is engine-specific so
    # its raw estimate can't hash across engines — what CAN be certified
    # is (a) the exact distincts the estimate targets and (b) the sketch's
    # accuracy contract. The estimate enters only through ±10% bound
    # booleans (5× the configured rsd=0.02); the HLL++ hash is
    # deterministic for fixed data, so the booleans are stable facts of
    # this dataset, not flaky probabilistic assertions.
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_orders_ok,
           TRUE AS approx_parts_ok
    FROM lineitem
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts — the sketch path for
    100 TB cardinality estimation (exact distinct shuffles every value;
    the sketch shuffles a fixed-size register set). The exact distincts
    ride along here as the oracle harness ONLY (production callers run
    the sketch alone); the checked property is the ±10% accuracy
    envelope. Exact-vs-sketch error is additionally pinned in
    tests/test_aggregates.py."""
    li = load(spark, sf_dir, "lineitem")
    est = li.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("__ao"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("__ap"),
    )

    def within(approx, exact):
        e = exact.cast("double")
        return F.abs(approx.cast("double") - e) <= F.lit(0.10) * e

    return est.select(
        "exact_orders",
        "exact_parts",
        within(F.col("__ao"), F.col("exact_orders")).alias("approx_orders_ok"),
        within(F.col("__ap"), F.col("exact_parts")).alias("approx_parts_ok"),
    )


@register(
    "a6_moments",
    oracle="""
    WITH s AS (
      SELECT COUNT(l_quantity) AS n,
             AVG(l_quantity) AS m1,
             AVG(l_quantity * l_quantity) AS m2r,
             AVG(l_quantity * l_quantity * l_quantity) AS m3r,
             AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r
      FROM lineitem
    )
    SELECT ROUND((m3r - 3*m1*m2r + 2*m1*m1*m1)
                 / POWER(m2r - m1*m1, 1.5), 6) AS skew_qty,
           ROUND((m4r - 4*m1*m3r + 6*m1*m1*m2r - 3*m1*m1*m1*m1)
                 / POWER(m2r - m1*m1, 2) - 3, 6) AS kurt_qty
    FROM s
    """,
)
def a6_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: population skewness g1 and excess kurtosis (Spark's definitions;
    the oracle derives them from raw moments so DuckDB's different
    sample-corrected built-ins are not relied on). Rounded to 6dp — the
    raw-moment formula is algebraically identical but associativity differs.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
    )


_SUMMARY_COLS = ("l_quantity", "l_extendedprice", "l_discount")


def _duck_summary_col(c: str) -> str:
    """count/mean/stddev/min/max of one column as five exact scalars: sums
    run in DECIMAL(18,6) (order-independent), everything after happens in
    identical double ops on both engines."""
    # squares stay in DECIMAL(13,6)² = (26|27,12) — exact in both engines
    # (18,6)² would overflow DuckDB's same-width multiply
    s = f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"
    sq = (
        f"CAST(SUM(CAST({c} AS DECIMAL(19,6)) * CAST({c} AS DECIMAL(13,6)))"
        " AS DOUBLE)"
    )
    n = f"COUNT({c})"
    return (
        f"CAST({n} AS DOUBLE) AS count_{c}, "
        f"ROUND({s} / {n}, 6) AS mean_{c}, "
        f"ROUND(sqrt(({sq} - {s} * {s} / {n}) / ({n} - 1)), 6)"
        f" AS stddev_{c}, "
        f"CAST(MIN({c}) AS DOUBLE) AS min_{c}, "
        f"CAST(MAX({c}) AS DOUBLE) AS max_{c}"
    )


@register(
    "a8_summary_describe",
    oracle=f"""
    WITH w AS (
      SELECT {", ".join(_duck_summary_col(c) for c in _SUMMARY_COLS)}
      FROM lineitem
    )
    {" UNION ALL ".join(
        "SELECT '" + stat + "' AS summary, "
        + ", ".join(f"{stat}_{c} AS {c}" for c in _SUMMARY_COLS)
        + " FROM w"
        for stat in ("count", "mean", "stddev", "min", "max")
    )}
    """,
)
def a8_summary_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: the ``df.describe()``/``df.summary()`` EDA surface (reference
    G_2_data_exploration.ipynb cell 19) in describe()'s long shape —
    (summary, <col>...) — but with typed doubles and exact-decimal sums so
    the output is engine-deterministic (native summary() emits strings and
    float-accumulated means). One aggregate pass; the unpivot is a
    constant-width stack."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _SUMMARY_COLS:
        dec = F.col(c).cast("decimal(18,6)")
        dec13 = F.col(c).cast("decimal(13,6)")
        dec19 = F.col(c).cast("decimal(19,6)")
        s = F.sum(dec).cast("double")
        sq = F.sum(dec19 * dec13).cast("double")
        n = F.count(c)
        aggs += [
            n.cast("double").alias(f"count_{c}"),
            F.round(s / n, 6).alias(f"mean_{c}"),
            F.round(F.sqrt((sq - s * s / n) / (n - 1)), 6).alias(
                f"stddev_{c}"
            ),
            F.min(c).cast("double").alias(f"min_{c}"),
            F.max(c).cast("double").alias(f"max_{c}"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        "'" + stat + "', " + ", ".join(f"{stat}_{c}" for c in _SUMMARY_COLS)
        for stat in ("count", "mean", "stddev", "min", "max")
    )
    cols = ", ".join(_SUMMARY_COLS)
    return wide.selectExpr(f"stack(5, {stack_args}) AS (summary, {cols})")


@register(
    "a9_corr_pairs",
    # Pearson r from exact-decimal raw sums: n·Σxy − Σx·Σy over the sqrt
    # product — every sum is DECIMAL-exact, the final arithmetic is the
    # same double ops in both engines, rounded to 6dp (sqrt inputs can
    # differ at the last ulp after the decimal→double cast).
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS se,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_quantity AS DECIMAL(13,6))) AS DOUBLE) AS sqq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(13,6))) AS DOUBLE) AS see,
             CAST(SUM(CAST(l_discount AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(13,6))) AS DOUBLE) AS sdd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(13,6))) AS DOUBLE) AS sqe,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(13,6))) AS DOUBLE) AS sqd,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                      * CAST(l_discount AS DECIMAL(13,6))) AS DOUBLE) AS sed
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           ROUND((n * sqe - sq * se)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * see - se * se)), 6)
             AS pearson_r
    FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND((n * sqd - sq * sd)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND((n * sed - se * sd)
                 / (sqrt(n * see - se * se) * sqrt(n * sdd - sd * sd)), 6)
    FROM s
    """,
)
def a9_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem measures in ONE
    aggregate pass (the EDA step behind ml.correlated_split /
    G_2_rf_pca.py's hardcoded groups) — raw sums in exact decimal, r
    assembled in double, 6dp output."""
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]

    def d18(c):
        return F.col(c).cast("decimal(18,6)")

    def sq19(a, b):
        return F.col(a).cast("decimal(19,6)") * F.col(b).cast("decimal(13,6)")

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(d18(c)).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(sq19(c, c)).cast("double").alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.sum(sq19(a, b)).cast("double").alias(f"x_{a}_{b}"))
    w = li.agg(*aggs)

    def r_expr(a, b):
        n = F.col("n")
        num = n * F.col(f"x_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        den_a = F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
        den_b = F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        return F.round(num / (den_a * den_b), 6)

    # one aggregate + stack: a unionByName of per-pair selects would
    # re-execute the aggregate once per pair
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    rs = w.select(
        *[r_expr(a, b).alias(f"r_{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', r_{i}" for i, (a, b) in enumerate(pairs)
    )
    return rs.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, pearson_r)"
    )


# ---------------------------------------------------------------------------
# Indicator queries (operators/indicators.py) over events.value per user —
# the engine's native recomputation of what the reference consumed
# precomputed (SURVEY.md §2.5-W4, §7 step 3). Rolling aggregates use the
# exact-decimal pattern inside the window frame so both engines agree.
# ---------------------------------------------------------------------------

@register(
    "ind_sma_bollinger",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER fr AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) OVER fr AS DOUBLE)
               AS sq,
             COUNT(value) OVER fr AS cnt
      FROM events
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           s / cnt AS sma20,
           CASE WHEN cnt > 1
                THEN s / cnt + 2 * sqrt((sq - s * s / cnt) / (cnt - 1))
           END AS upperband,
           CASE WHEN cnt > 1
                THEN s / cnt - 2 * sqrt((sq - s * s / cnt) / (cnt - 1))
           END AS lowerband
    FROM w
    """,
)
def ind_sma_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling SMA + Bollinger bands, partitioned per user (no global
    window — Q3). Variance from exact decimal sums of x and x² so the
    oracle's arithmetic is bit-identical."""
    events = load(spark, sf_dir, "events")
    fr = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(-19, 0)
    )
    s = F.sum(F.col("value").cast("decimal(18,6)")).over(fr).cast("double")
    sq = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)"))
        .over(fr).cast("double")
    )
    cnt = F.count("value").over(fr)
    sma20 = s / cnt
    sd = F.sqrt((sq - s * s / cnt) / (cnt - 1))
    return events.select(
        "event_id", "user_id", "ts", "value",
        sma20.alias("sma20"),
        F.when(cnt > 1, sma20 + 2 * sd).alias("upperband"),
        F.when(cnt > 1, sma20 - 2 * sd).alias("lowerband"),
    )


@register(
    "ind_mom_roc",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           value - lag(value, 10) OVER w AS mom10,
           CASE WHEN lag(value, 10) OVER w = 0 THEN NULL
                ELSE 100 * (value - lag(value, 10) OVER w)
                     / lag(value, 10) OVER w END AS roc10
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def ind_mom_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Momentum + rate-of-change via the indicator library (lag-offset
    per-row arithmetic; try_divide ↔ NULL-on-zero oracle)."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    events = load(spark, sf_dir, "events")
    out = ind.momentum(events, 10, partition_by="user_id", order_by="ts",
                       col="value")
    out = ind.roc(out, 10, partition_by="user_id", order_by="ts", col="value")
    return out.select("event_id", "user_id", "ts", "mom10", "roc10")


@register(
    "ind_willr_stoch",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             MAX(value) OVER fr AS hh, MIN(value) OVER fr AS ll
      FROM events
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN hh = ll THEN NULL
                ELSE -100 * (hh - value) / (hh - ll) END AS willr,
           CASE WHEN hh = ll THEN NULL
                ELSE 100 * (value - ll) / (hh - ll) END AS fastk
    FROM w
    """,
)
def ind_willr_stoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams %R + stochastic %K over a value series (high=low=close=value,
    the degenerate single-series form) — rolling extrema windows."""
    events = load(spark, sf_dir, "events")
    fr = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-13, 0)
    hh = F.max("value").over(fr)
    ll = F.min("value").over(fr)
    return events.select(
        "event_id", "user_id", "ts", "value",
        F.try_divide(-100.0 * (hh - F.col("value")), hh - ll).alias("willr"),
        F.try_divide(100.0 * (F.col("value") - ll), hh - ll).alias("fastk"),
    )


@register(
    "ind_mfi_ultosc",
    oracle="""
    WITH b AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(props->>'$.k' AS DOUBLE) AS vol,
             lag(value) OVER w AS prev_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), f AS (
      SELECT *,
             CASE WHEN value > prev_v THEN value * vol ELSE 0 END AS pos_mf,
             CASE WHEN value < prev_v THEN value * vol ELSE 0 END AS neg_mf,
             value - least(value, prev_v) AS bp,
             greatest(value, prev_v) - least(value, prev_v) AS tr
      FROM b
    ), s AS (
      SELECT event_id, user_id, ts,
             CAST(SUM(CAST(pos_mf AS DECIMAL(28,8))) OVER f14 AS DOUBLE) AS ps,
             CAST(SUM(CAST(neg_mf AS DECIMAL(28,8))) OVER f14 AS DOUBLE) AS ns,
             CAST(SUM(CAST(bp AS DECIMAL(28,8))) OVER f7 AS DOUBLE) AS bp7,
             CAST(SUM(CAST(tr AS DECIMAL(28,8))) OVER f7 AS DOUBLE) AS tr7,
             CAST(SUM(CAST(bp AS DECIMAL(28,8))) OVER f14 AS DOUBLE) AS bp14,
             CAST(SUM(CAST(tr AS DECIMAL(28,8))) OVER f14 AS DOUBLE) AS tr14,
             CAST(SUM(CAST(bp AS DECIMAL(28,8))) OVER f28 AS DOUBLE) AS bp28,
             CAST(SUM(CAST(tr AS DECIMAL(28,8))) OVER f28 AS DOUBLE) AS tr28
      FROM f
      WINDOW f7 AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             f14 AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             f28 AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN ps > 0 AND ns = 0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + ps / ns) END AS mfi14,
           100.0 * (4.0 * (bp7 / tr7) + 2.0 * (bp14 / tr14) + bp28 / tr28)
             / 7.0 AS ultosc
    FROM s
    """,
)
def ind_mfi_ultosc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFI + Ultimate Oscillator in the degenerate single-series form
    (high=low=close=value; volume from the JSON props) — closed-form
    decimal-summed window frames, per-user partitions."""
    from big_data_analysis_for_stock_market_data_spark import functions as fns
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    events = load(spark, sf_dir, "events").withColumn(
        "vol", fns.json_double(F.col("props"), "$.k")
    )
    d = ind.mfi(
        events, 14, partition_by="user_id", order_by="ts",
        high="value", low="value", close="value", volume="vol", out="mfi14",
    )
    d = ind.ultosc(
        d, 7, 14, 28, partition_by="user_id", order_by="ts",
        high="value", low="value", close="value",
    )
    return d.select("event_id", "user_id", "ts", "mfi14", "ultosc")


@register(
    "ind_cci20",
    # CCI's nested dependence on the CURRENT frame's SMA: exact-decimal
    # SMA; the mean-deviation fold replays Spark's sequential aggregate()
    # with list_reduce in the same frame order; 0.015 CAST AS DOUBLE
    # (decimal literal otherwise)
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(CAST(SUM(CAST(value AS DECIMAL(12,6))) OVER fr
                       AS DECIMAL(16,6)) AS DOUBLE)
               / COUNT(value) OVER fr AS sma,
             list(value) OVER fr AS arr
      FROM events
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, value,
           (value - sma) / NULLIF(CAST(0.015 AS DOUBLE)
             * (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(arr, x -> abs(x - sma))),
                  (a, b) -> a + b) / len(arr)), 0.0) AS cci20
    FROM w
    """,
)
def ind_cci20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity Channel Index (single-series form) with the engine's
    collect_list + higher-order aggregate mean-deviation — exact-decimal
    SMA so the nested fold is cross-engine deterministic
    (operators/indicators.cci is the OHLC production form)."""
    ev = load(spark, sf_dir, "events")
    fr = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-19, 0)
    s = (
        F.sum(F.col("value").cast("decimal(12,6)")).over(fr)
        .cast("decimal(16,6)").cast("double")
    )
    c = F.count("value").over(fr)
    sma = s / c
    arr = F.collect_list("value").over(fr)
    mean_dev = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + F.abs(x - sma)
    ) / F.size(arr)
    return ev.select(
        "event_id", "user_id", "ts", "value",
        F.try_divide(
            F.col("value") - sma, F.nullif(0.015 * mean_dev, F.lit(0.0))
        ).alias("cci20"),
    )


@register(
    "ind_rolling_beta",
    # market = decimal-exact per-day mean; beta = (c·Σvm − Σv·Σm) /
    # (c·Σm² − Σm·Σm) with every term exact decimal (cancellation happens
    # in EXACT arithmetic — the float form amplifies ulp drift when frame
    # variance is small), one scale-8 rounding per side, one double divide
    oracle="""
    WITH m0 AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER d AS DOUBLE)
               / COUNT(value) OVER d AS market_raw
      FROM events
      WINDOW d AS (PARTITION BY date_trunc('day', CAST(ts AS TIMESTAMP)))
    ), m AS (
      -- pre-round the mean to 6dp IN INTEGER SPACE: round(x*1e6) rounds
      -- a BINARY double whose half-boundary (k+0.5) is exactly
      -- representable, so Spark (BigDecimal HALF_UP) and DuckDB
      -- (round-half-away) agree; quantizing the raw double straight to
      -- DECIMAL(12,6) disagreed at sf0.001 where one day-mean was
      -- 54.2028125 (a 7th-decimal-5 boundary: Spark rounds the shortest
      -- decimal repr UP, DuckDB rounds the exact binary value DOWN)
      SELECT event_id, user_id, ts, value,
             round(market_raw * 1000000) / 1000000 AS market
      FROM m0
    ), b AS (
      SELECT event_id, user_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(12,6))) OVER w
                  AS DECIMAL(19,6)) AS sv,
             CAST(SUM(CAST(market AS DECIMAL(12,6))) OVER w
                  AS DECIMAL(19,6)) AS sm,
             -- DECIMAL(19,6) operands force DuckDB's int128 multiply path
             -- (12,6 x 12,6 would overflow int64); values identical
             CAST(SUM(CAST(value AS DECIMAL(19,6))
                      * CAST(market AS DECIMAL(19,6))) OVER w
                  AS DECIMAL(26,12)) AS pvm,
             CAST(SUM(CAST(market AS DECIMAL(19,6))
                      * CAST(market AS DECIMAL(19,6))) OVER w
                  AS DECIMAL(26,12)) AS pmm,
             CAST(COUNT(market) OVER w AS DECIMAL(4,0)) AS c
      FROM m
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           -- round() (half away from zero, = Spark's HALF_UP cast); a bare
           -- decimal downcast TRUNCATES in DuckDB
           CAST(round(c * pvm - sv * sm, 8) AS DOUBLE)
           / NULLIF(CAST(round(c * pmm - sm * sm, 8) AS DOUBLE), 0.0)
             AS beta20
    FROM b
    """,
)
def ind_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-event beta of each user's value against the day-mean
    market proxy (the reference dataset's BETA column family, computed
    first-class — operators/indicators.rolling_beta). Two windows, both on
    low-cardinality keys (day, user): no global order anywhere."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wday = Window.partitionBy(day)
    market_raw = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(wday).cast("double")
        / F.count("value").over(wday)
    )
    # 6dp pre-round in integer space (see oracle comment): the raw mean
    # can land on a .xxxxxx5 decimal boundary where double->DECIMAL
    # casts round differently across engines (sf0.001: 54.2028125)
    market = F.round(market_raw * 1000000.0) / 1000000.0
    d = ind.rolling_beta(
        ev.withColumn("market", market),
        n=20, value_col="value", market_col="market",
        partition_by="user_id", order_by="ts", out="beta20",
    )
    return d.select("event_id", "user_id", "ts", "beta20")


@register(
    "ind_parabolic_sar",
    # recursive-CTE twin of the SAR recurrence: state (sar, ep, af, up)
    # carried per user in rn order; the tentative sar + af*(ep - sar) is
    # repeated verbatim in each CASE so both engines evaluate the same
    # float ops in the same order (bit-exact, like ind_recursive_family)
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, ts, event_id, x, rn,
             x AS sar, x AS ep, CAST(0.02 AS DOUBLE) AS af, TRUE AS up
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.ts, b.event_id, b.x, b.rn,
             CASE
               WHEN r.up AND b.x < r.sar + r.af * (r.ep - r.sar) THEN r.ep
               WHEN r.up THEN r.sar + r.af * (r.ep - r.sar)
               WHEN NOT r.up AND b.x > r.sar + r.af * (r.ep - r.sar)
                 THEN r.ep
               ELSE r.sar + r.af * (r.ep - r.sar)
             END AS sar,
             CASE
               WHEN r.up AND b.x < r.sar + r.af * (r.ep - r.sar) THEN b.x
               WHEN r.up AND b.x > r.ep THEN b.x
               WHEN r.up THEN r.ep
               WHEN b.x > r.sar + r.af * (r.ep - r.sar) THEN b.x
               WHEN b.x < r.ep THEN b.x
               ELSE r.ep
             END AS ep,
             CASE
               WHEN r.up AND b.x < r.sar + r.af * (r.ep - r.sar) THEN CAST(0.02 AS DOUBLE)
               WHEN r.up AND b.x > r.ep THEN least(r.af + CAST(0.02 AS DOUBLE), CAST(0.2 AS DOUBLE))
               WHEN r.up THEN r.af
               WHEN b.x > r.sar + r.af * (r.ep - r.sar) THEN CAST(0.02 AS DOUBLE)
               WHEN NOT r.up AND b.x < r.ep THEN least(r.af + CAST(0.02 AS DOUBLE), CAST(0.2 AS DOUBLE))
               ELSE r.af
             END AS af,
             CASE
               WHEN r.up AND b.x < r.sar + r.af * (r.ep - r.sar) THEN FALSE
               WHEN NOT r.up AND b.x > r.sar + r.af * (r.ep - r.sar)
                 THEN TRUE
               ELSE r.up
             END AS up
      FROM rec r
      JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
    )
    SELECT event_id, user_id, ts, sar FROM rec
    """,
)
def ind_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parabolic SAR over each user's value series — the branching
    stop-and-reverse recurrence (operators/indicators.sar) on the
    per-partition fold, hash-verified against a recursive-CTE twin."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events")
    d = ind.sar(ev, partition_by="user_id", order_by="ts", col="value")
    return d.select("event_id", "user_id", "ts", "sar")


@register(
    "ind_recursive_family",
    # Recursive-CTE twin of the pandas recurrences, written to be BIT-exact:
    # pandas ewm(adjust=False) folds y' = ((1-a)y + ax)/((1-a)+a) and skips
    # the update when x == y (verified bit-equal against pandas 2.2);
    # rolling-sum windows re-sum left-to-right (DuckDB list_sum over a
    # window list() matches pandas' compensated slide bit-for-bit on this
    # data); RSI's inf/NaN division paths are explicit CASEs because DuckDB
    # returns NULL for float division by zero, and pandas NaN becomes NULL
    # across the Arrow boundary, so both engines emit NULL there.
    oracle="""
    WITH RECURSIVE base AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(value AS DOUBLE) AS x,
             ROW_NUMBER() OVER w AS rn,
             LAG(CAST(value AS DOUBLE), 1) OVER w AS lx1,
             LAG(CAST(value AS DOUBLE), 10) OVER w AS lx10,
             CASE WHEN ROW_NUMBER() OVER w = 1 THEN 0.0
                  ELSE abs(CAST(value AS DOUBLE)
                           - LAG(CAST(value AS DOUBLE), 1) OVER w) END AS ad
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    feat AS (
      SELECT *,
             CASE WHEN rn = 1 THEN NULL
                  ELSE greatest(x - lx1, 0.0) END AS gain,
             CASE WHEN rn = 1 THEN NULL
                  ELSE greatest(lx1 - x, 0.0) END AS loss,
             list_sum(list(ad) OVER (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS vol
      FROM base
    ),
    prep AS (
      SELECT *,
             (er * (2.0/3.0 - 2.0/31.0) + 2.0/31.0)
             * (er * (2.0/3.0 - 2.0/31.0) + 2.0/31.0) AS sc
      FROM (
        SELECT *,
               CASE WHEN rn <= 10 THEN 0.0
                    WHEN vol > 0.0 THEN abs(x - lx10) / vol
                    ELSE 0.0 END AS er
        FROM feat
      )
    ),
    r AS (
      SELECT event_id, user_id, ts, rn, x,
             x AS ema10, x AS ema20, x AS e12, x AS e26,
             CAST(NULL AS DOUBLE) AS ag, CAST(NULL AS DOUBLE) AS al,
             x AS kama
      FROM prep WHERE rn = 1
      UNION ALL
      SELECT b.event_id, b.user_id, b.ts, b.rn, b.x,
             CASE WHEN r.ema10 = b.x THEN r.ema10
                  ELSE ((1.0 - 2.0/11.0) * r.ema10 + (2.0/11.0) * b.x)
                       / ((1.0 - 2.0/11.0) + 2.0/11.0) END,
             CASE WHEN r.ema20 = b.x THEN r.ema20
                  ELSE ((1.0 - 2.0/21.0) * r.ema20 + (2.0/21.0) * b.x)
                       / ((1.0 - 2.0/21.0) + 2.0/21.0) END,
             CASE WHEN r.e12 = b.x THEN r.e12
                  ELSE ((1.0 - 2.0/13.0) * r.e12 + (2.0/13.0) * b.x)
                       / ((1.0 - 2.0/13.0) + 2.0/13.0) END,
             CASE WHEN r.e26 = b.x THEN r.e26
                  ELSE ((1.0 - 2.0/27.0) * r.e26 + (2.0/27.0) * b.x)
                       / ((1.0 - 2.0/27.0) + 2.0/27.0) END,
             CASE WHEN r.ag IS NULL THEN b.gain
                  WHEN r.ag = b.gain THEN r.ag
                  ELSE ((1.0 - 1.0/14.0) * r.ag + (1.0/14.0) * b.gain)
                       / ((1.0 - 1.0/14.0) + 1.0/14.0) END,
             CASE WHEN r.al IS NULL THEN b.loss
                  WHEN r.al = b.loss THEN r.al
                  ELSE ((1.0 - 1.0/14.0) * r.al + (1.0/14.0) * b.loss)
                       / ((1.0 - 1.0/14.0) + 1.0/14.0) END,
             r.kama + b.sc * (b.x - r.kama)
      FROM prep b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
    )
    SELECT event_id, user_id, ts, ema10, ema20, e12 - e26 AS macd1226,
           CASE WHEN ag IS NULL THEN NULL
                WHEN al = 0.0 AND ag = 0.0 THEN NULL
                WHEN al = 0.0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi14,
           kama AS kama10
    FROM r
    """,
)
def ind_recursive_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA/MACD/RSI/KAMA in ONE Python pass, folded per user series —
    recursive recurrences with no fixed-frame SQL form (SURVEY.md §7 calls
    this the hard part; Arrow-vectorized partition-local scan)."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    events = load(spark, sf_dir, "events")
    # the oracle replays the per-key sequential fold bit-for-bit
    out = ind.recursive_enrich(
        events, partition_by="user_id", order_by="ts", col="value",
        ema_spans=(10, 20), macd_pairs=((12, 26),), rsi_ns=(14,),
        kama_ns=(10,), adx_ns=(),
    )
    return out.select(
        "event_id", "user_id", "ts", "ema10", "ema20", "macd1226",
        "rsi14", "kama10",
    )


@register(
    "asof_join_events",
    oracle="""
    SELECT l.event_id, l.user_id, CAST(l.ts AS TIMESTAMP) AS ts, l.value,
           r.ref_value
    FROM (SELECT * FROM events WHERE event_type <> 'purchase') l
    ASOF LEFT JOIN (
      SELECT user_id, ts, value AS ref_value FROM events
      WHERE event_type = 'purchase'
    ) r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J3 extension): attach the most recent 'purchase' value at
    or before each non-purchase event, per user. Engine implements it as
    union + sort-within-partition + last(ignorenulls) — one shuffle on the
    key, no range explosion (operators/joins.py); oracle is DuckDB's native
    ASOF JOIN."""
    events = load(spark, sf_dir, "events")
    left = events.filter(F.col("event_type") != "purchase")
    right = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("value").alias("ref_value"))
    )
    out = join_ops.as_of_join(
        left, right, on="user_id", left_time="ts", right_time="ts",
        right_values=["ref_value"],
    )
    return out.select("event_id", "user_id", "ts", "value", "ref_value")


@register(
    "asof_join_tolerance",
    # bounded-lookback attribution: latest click <= purchase time AND
    # within 1 hour, else null. The latest click overall is the latest
    # within any backward window, so tolerance = null-out (both sides)
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT event_id, user_id, ts, click_id, c_ts
    FROM (
      SELECT p.event_id, p.user_id, p.ts, c.click_id, c.c_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.c_ts DESC NULLS LAST, c.click_id DESC) AS rn
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.c_ts <= p.ts
       AND c.c_ts >= p.ts - INTERVAL 1 HOUR
    ) WHERE rn = 1
    ORDER BY event_id
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window as-of join (pandas merge_asof ``tolerance``
    semantics): each purchase credits the user's most recent click ONLY if
    it happened within the last hour — stale touches null out
    (operators/joins.as_of_join(tolerance='1 hour')). Same single-shuffle
    union+carry plan as the unbounded as-of; the bound is a post-carry
    projection, not a range join."""
    events = load(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = join_ops.as_of_join(
        p, c, on="user_id", left_time="ts", right_time="c_ts",
        right_values=["click_id", "c_ts"], tolerance="1 hour",
    )
    return out.select(
        "event_id", "user_id", "ts", "click_id", "c_ts"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# North-star: text analysis (operators/text.py).
# ---------------------------------------------------------------------------

_DUCK_TOKS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t <> '')"
)


@register(
    "text_quality_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS nc
      FROM documents
    )
    SELECT doc_id,
           CAST(nc AS BIGINT) AS n_chars_calc,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN nc > 0 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / nc END AS alpha_ratio,
           CASE WHEN nc > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / nc END AS digit_ratio,
           CASE WHEN nc > 0 THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / nc END AS punct_ratio,
           CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks,
                t -> list_contains(['the','and','of','to','in','is','that','with','for','a'], t))) AS DOUBLE) / len(toks)
           END AS stopword_ratio,
           CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
           END AS mean_token_len
    FROM t
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring — one JVM-side projection over the
    corpus (operators/text.py)."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    out = text_ops.quality_stats(docs)
    return out.select(
        "doc_id", "n_chars_calc", "n_tokens", "alpha_ratio", "digit_ratio",
        "punct_ratio", "stopword_ratio", "mean_token_len",
    )


def _langid_oracle() -> str:
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        lang_id_oracle_sql,
    )

    return f"SELECT doc_id, {lang_id_oracle_sql('text')} AS lang_pred FROM documents"


@register("text_langid")
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-scoring language ID (oracle SQL generated from the same
    stopword lists — see oracle registration below)."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.lang_id(docs).select("doc_id", "lang_pred")


_ORACLE["text_langid"] = _langid_oracle()


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (LLM token-budget proxy)."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.token_count_bpe(docs).select("doc_id", "n_bpe_tokens")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string({_DUCK_TOKS}, ' ')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/case-normalized md5 content fingerprint."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.fingerprint_md5(docs).select("doc_id", "fingerprint")


@register(
    "text_ngram_freq",
    oracle=f"""
    SELECT bigram, COUNT(*) AS n FROM (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM (SELECT {_DUCK_TOKS} AS toks FROM documents) t
    ) b
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 token bigrams: per-row n-gram construction with
    JVM higher-order functions, explode, grouped count, top-k (partial
    aggregation keeps the shuffle at |distinct bigram| rows)."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import tokens_col

    docs = load(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    bigrams = F.when(F.size(toks) >= 2, F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      ) ORDER BY n DESC, tok LIMIT 200
    )
    SELECT t.lang,
           COUNT(*) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.lang
    ORDER BY t.lang
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: coverage of a 200-entry frequency-ranked
    vocabulary per language — total token occurrences and OOV occurrences
    (integer-pure; callers derive the rate). Vocab build is a grouped
    count + TakeOrderedAndProject; scoring is a broadcast join of the
    vocab-sized table (operators/text.vocab_coverage)."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        vocab_coverage,
    )

    docs = load(spark, sf_dir, "documents")
    return vocab_coverage(docs, vocab_size=200, by=["lang"])


@register(
    "text_tfidf_topterms",
    # fixed-point contract: idf_nano = round(ln(N/df)*1e9) as BIGINT, score
    # = round(tf * idf_nano) as BIGINT — double-to-INTEGER rounding is
    # engine-exact (decimal-place rounding of doubles is not: Spark rounds
    # via exact BigDecimal, DuckDB via float multiply)
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS dfc FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(round((CAST(cnt AS DOUBLE) / dlen)
                   * CAST(round(ln(CAST(nd AS DOUBLE) / dfc) * 1e9) AS BIGINT))
                  AS BIGINT) AS score_nano
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN dfq ON dfq.term = tf.term
      CROSS JOIN n
    )
    SELECT doc_id, term, score_nano, rank FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score_nano DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — keyword extraction / relevance
    scoring over the corpus: three grouped aggregates, a broadcast idf
    join, a per-doc top-k window (operators/text.tfidf_top_terms)."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        tfidf_top_terms,
    )

    docs = load(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


@register(
    "text_unigram_logprob",
    # fixed-point contract like tfidf: per-token log10(cnt/N) quantized
    # ONCE to integer nano-units, per-doc INTEGER sum — order-free, no
    # float-summation drift across engines
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM toks),
    freq AS (
      SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CAST(round(log10(f.cnt / n.n_total) * 1000000000.0)
                    AS BIGINT)) AS BIGINT) AS sum_logp_nano
    FROM toks t
    JOIN freq f ON f.term = t.term
    CROSS JOIN n
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM quality scoring (the CCNet-style filter signal):
    p(t) = corpus frequency, document score = integer-nano sum of token
    log-probabilities (operators/text.unigram_logprob). One explode, one
    vocab count, one term join, one per-doc sum."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        unigram_logprob,
    )

    docs = load(spark, sf_dir, "documents")
    return unigram_logprob(docs).orderBy("doc_id")


@register(
    "ml_quantile_bins",
    # boundaries = exact interpolated quartiles rounded to 6dp (identical
    # in both engines); bin = count of boundaries <= value
    oracle="""
    WITH b AS (
      SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS b1,
             round(quantile_cont(l_extendedprice, 0.50), 6) AS b2,
             round(quantile_cont(l_extendedprice, 0.75), 6) AS b3
      FROM lineitem
    )
    SELECT bin, COUNT(*) AS n_rows,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM (
      SELECT CAST(l_extendedprice >= b1 AS INT)
             + CAST(l_extendedprice >= b2 AS INT)
             + CAST(l_extendedprice >= b3 AS INT) AS bin,
             l_extendedprice
      FROM lineitem, b
    )
    GROUP BY bin
    ORDER BY bin
    """,
)
def ml_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature discretization on exact quartile boundaries — the
    deterministic QuantileDiscretizer twin (ml/pipeline.quantile_bins):
    boundary aggregate (driver sees 3 doubles), then binning is a pure
    projection. Output: per-bin count and value envelope."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import quantile_bins

    li = load(spark, sf_dir, "lineitem")
    binned = quantile_bins(li, "l_extendedprice", n_bins=4)
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .orderBy("bin")
    )


@register(
    "dedup_exact_normalized",
    oracle=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY md5(array_to_string({_DUCK_TOKS}, ' '))
               ORDER BY doc_id) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on whitespace/case-NORMALIZED content (catches the
    trivial near-dups raw-byte hashing misses), lowest-id survivor."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, normalized=True).select(
        "doc_id", "lang", "source"
    )


@register(
    "text_rolling_fingerprint",
    # left fold replayed with list_reduce (0 prepended as the init value);
    # md5-60-bit token hash is identical in both engines, and per-step mod
    # keeps every intermediate < 32·10^9 — no overflow either side
    oracle=r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(
               CAST(0 AS BIGINT),
               list_transform(
                 list_filter(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   t -> t <> ''),
                 t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                      % 1000000007)),
             (acc, h) -> (acc * 31 + h) % 1000000007
           ) AS rolling_fp
    FROM documents
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over tokens (higher-order
    aggregate, JVM-side). md5-60 token hash for oracle parity; production
    default is xxhash64."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.fingerprint_rolling(docs, token_hash="md5_60").select(
        "doc_id", "rolling_fp"
    )


@register(
    "text_chunk_overlap",
    # chunk grid replayed with unnest(range(n_chunks)): starts at 0, 136,
    # 272, ... (stride = 200 - 64); ceil-division chunk count identical in
    # both engines (double ceil over exact small ints)
    oracle="""
    SELECT doc_id,
           i AS chunk_idx,
           i * 136 AS chunk_start,
           substr(text, CAST(i * 136 + 1 AS INT), 200) AS chunk_text,
           CAST(length(substr(text, CAST(i * 136 + 1 AS INT), 200)) AS BIGINT)
             AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(range(0,
               CASE WHEN text IS NULL OR length(text) <= 0 THEN 0
                    ELSE GREATEST(1, CAST(CEIL((length(text) - 64.0) / 136.0)
                                          AS INT)) END)) AS i
      FROM documents
    ) t
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (200 chars, 64 overlap): shuffle-free
    flatMap via sequence/transform/inline — output scales with input bytes,
    no repartition (operators/text.chunk_text)."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.chunk_text(docs, chunk_chars=200, overlap=64).select(
        "doc_id", "chunk_idx", "chunk_start", "chunk_text", "chunk_len"
    )


@register(
    "text_pack_sequences",
    oracle=r"""
    SELECT doc_id, source,
           CAST(n AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n) OVER w - n AS BIGINT) AS prefix_tokens,
           CAST(FLOOR((SUM(n) OVER w - n) / 2000.0) AS BIGINT) AS pack_bin
    FROM (
      SELECT doc_id, source,
             length(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n
      FROM documents
    ) t
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing into 2000-token training bins,
    sharded by source (one shard-keyed window — no global order; see
    operators/text.pack_sequences for the 1000-executor shape)."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    counted = text_ops.token_count_bpe(docs)
    packed = text_ops.pack_sequences(
        counted, token_col="n_bpe_tokens", shard_col="source",
        order_col="doc_id", budget=2000,
    )
    return packed.select(
        "doc_id", "source", "n_bpe_tokens", "prefix_tokens", "pack_bin"
    )


@register(
    "text_redact_pii",
    # deterministic PII suffix appended on BOTH sides so every pattern
    # class actually fires on the corpus; replacement order (email -> ip ->
    # phone) is part of the operator contract
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             concat_ws(' ', text,
               'contact u' || CAST(doc_id AS VARCHAR) ||
               '@example.com +1 555-000-' || CAST(doc_id AS VARCHAR) ||
               ' ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)) AS t
      FROM documents
    ), e AS (
      SELECT doc_id,
             CAST(length(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
             regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
      FROM enriched
    ), i AS (
      SELECT doc_id, n_emails,
             CAST(length(regexp_extract_all(t1,
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
               AS BIGINT) AS n_ips,
             regexp_replace(t1,
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
               '<IP>', 'g') AS t2
      FROM e
    )
    SELECT doc_id, n_emails, n_ips,
           CAST(length(regexp_extract_all(t2,
             '\\+[0-9][0-9 -]{7,}[0-9]')) AS BIGINT) AS n_phones,
           regexp_replace(t2, '\\+[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g')
             AS redacted
    FROM i
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrubbing with per-class counts (operators/text.redact_pii)
    over text extended with a deterministic synthetic PII suffix — codegen'd
    regexp_replace chain, zero Python."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    pii = F.concat(
        F.lit("contact u"), did, F.lit("@example.com +1 555-000-"), did,
        F.lit(" ip 10.0.0."), (F.col("doc_id") % 250).cast("string"),
    )
    enriched = docs.withColumn("t", F.concat_ws(" ", F.col("text"), pii))
    out = text_ops.redact_pii(enriched, col="t")
    return out.select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")


@register(
    "text_curate_gate",
    # first-failing-rule audit: empty -> too_few_tokens -> low_alpha ->
    # low_stopword -> duplicate (md5-normalized keep-first). Rows that reach
    # the duplicate rule always have >= 5 tokens, so the Spark/DuckDB
    # null-vs-'' fingerprint difference for null-text rows can never affect
    # an emitted reason.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS nc,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks) AS ntok,
             CASE WHEN nc > 0 THEN CAST(na AS DOUBLE) / nc END AS ar,
             CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks,
                  t -> list_contains(['the','and','of','to','in','is','that','with','for','a'], t)))
                  AS DOUBLE) / len(toks) END AS sr,
             (text IS NULL OR nc = 0) AS is_empty,
             row_number() OVER (
               PARTITION BY md5(array_to_string(toks, ' '))
               ORDER BY doc_id) AS rn
      FROM t
    )
    SELECT doc_id,
           reason IS NULL AS keep,
           coalesce(reason, 'kept') AS reason,
           CAST(ntok AS BIGINT) AS n_tokens
    FROM (
      SELECT doc_id, ntok,
             CASE WHEN is_empty THEN 'empty'
                  WHEN ntok < 5 THEN 'too_few_tokens'
                  WHEN ar < 0.5 THEN 'low_alpha'
                  WHEN sr < 0.05 THEN 'low_stopword'
                  WHEN rn > 1 THEN 'duplicate' END AS reason
      FROM s
    ) q
    """,
)
def text_curate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation gate: quality thresholds + exact-normalized dedup
    in one pass with a per-document audit reason
    (operators/text.curate_documents)."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.curate_documents(docs)


# ---------------------------------------------------------------------------
# North-star: deduplication (operators/dedup.py).
# ---------------------------------------------------------------------------

@register(
    "samp_stratified_docs",
    # split_bucket twin: first 8 md5 hex chars of "key:seed" mod 10000 —
    # a pure function of doc_id, so the sampled set is identical under any
    # partitioning and in any engine (unlike sampleBy's partition-seeded
    # Bernoulli draws)
    oracle="""
    WITH b AS (
      SELECT *,
             CAST(('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))
                  AS BIGINT) % 10000 AS bkt
      FROM documents
    )
    SELECT doc_id, lang, source FROM b
    WHERE bkt < CASE lang
                  WHEN 'en' THEN 2000
                  WHEN 'zh' THEN 8000
                  ELSE 5000
                END
    """,
)
def samp_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (class rebalancing: downsample
    the dominant 'en' stratum, upweight 'zh') — the auditable sampleBy
    replacement (operators/sampling.py)."""
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    docs = load(spark, sf_dir, "documents")
    out = sp.stratified_hash_sample(
        docs, "lang", {"en": 0.2, "zh": 0.8}, key_col="doc_id",
        seed=42, default_fraction=0.5,
    )
    return out.select("doc_id", "lang", "source")


@register(
    "samp_topk_quality",
    oracle="""
    SELECT doc_id, lang, n_chars, rank FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents
    ) WHERE rank <= 5
    """,
)
def samp_topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering: keep the 5 longest documents per language
    (deterministic — doc_id tie-breaks), one shuffle on the group key
    (operators/sampling.topk_per_group)."""
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    docs = load(spark, sf_dir, "documents")
    return sp.topk_per_group(
        docs,
        "lang",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=5,
        rank_col="rank",
    ).select("doc_id", "lang", "n_chars", "rank")


@register(
    "samp_weighted_docs",
    # Efraimidis-Spirakis priority replay: u from the first 8 md5 hex chars
    # of "doc_id:42:w" (exact dyadic rational — identical double in both
    # engines), priority = round(ln(u)/n_chars, 9) (ln is the only inexact
    # step; the 1e-9 quantum is ~1e9 ulps wide), doc_id tie-break
    oracle="""
    SELECT doc_id, lang, n_chars, priority FROM (
      SELECT doc_id, lang, n_chars,
             round(ln((CAST(('0x' || substr(md5(doc_id::VARCHAR || ':42:w'),
                                      1, 8)) AS BIGINT) + 0.5)
                      / 4294967296.0)
                   / n_chars, 9) AS priority
      FROM documents
    )
    ORDER BY priority DESC, doc_id
    LIMIT 50
    """,
)
def samp_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: 50 documents
    drawn with probability proportional to length (n_chars) via md5-seeded
    priority sampling — auditable, partition-invariant, engine-exact.
    TakeOrderedAndProject plan: per-partition top-k, k-row merge, no global
    sort (operators/sampling.weighted_hash_sample)."""
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    docs = load(spark, sf_dir, "documents")
    return sp.weighted_hash_sample(
        docs, k=50, key_col="doc_id", weight_col="n_chars", seed=42
    ).select("doc_id", "lang", "n_chars", "priority")


@register(
    "samp_shuffle_shards",
    oracle="""
    SELECT doc_id, shard,
           row_number() OVER (
             PARTITION BY shard
             ORDER BY md5(doc_id::VARCHAR || ':42:shuf'), doc_id) AS pos
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5(doc_id::VARCHAR || ':42:shard'), 1, 8))
                  AS BIGINT) % 8 AS shard
      FROM documents
    )
    """,
)
def samp_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training export: md5-bucket shard
    assignment + independent md5 rank within each shard — a reproducible
    pseudo-random permutation whose shards are independent uniform
    subsamples. One shuffle keyed on shard; no global order
    (operators/sampling.shuffle_shards)."""
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    docs = load(spark, sf_dir, "documents")
    return sp.shuffle_shards(docs, key_col="doc_id", n_shards=8, seed=42).select(
        "doc_id", "shard", "pos"
    )


@register(
    "dedup_windowed_events",
    # tumbling hourly buckets: epoch-hour truncation == F.window('1 hour')
    # start; earliest (ts, event_id) row per (user, type, bucket) survives
    oracle="""
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (
               PARTITION BY user_id, event_type,
                            date_trunc('hour', CAST(ts AS TIMESTAMP))
               ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY event_id
    """,
)
def dedup_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed dedup: one (user, event_type) survivor per tumbling
    hour — the batch twin of streaming dropDuplicatesWithinWatermark,
    bounded-state by construction (operators/dedup.dedup_within_window)."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    ev = load(spark, sf_dir, "events")
    out = dd.dedup_within_window(
        ev, keys=["user_id", "event_type"], ts_col="ts", window="1 hour",
        order=["ts", "event_id"],
    )
    return out.select("event_id", "user_id", "event_type", "ts").orderBy(
        "event_id"
    )


@register(
    "text_contamination_check",
    # shared tokenization/shingling CTE shape with _NGRAM_JACCARD_CTES;
    # split replays split_bucket (md5 "doc_id:42" mod 10000 < 8000 = train)
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text,
             (CAST(('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))
                   AS BIGINT) % 10000) < 8000 AS is_train
      FROM documents
    ),
    toks AS (
      SELECT doc_id, is_train,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM base
    ),
    sh AS (
      SELECT doc_id, is_train,
             list_distinct(list_transform(
               range(0, greatest(len(tk) - 3, 0) + 1),
               i -> array_to_string(tk[i + 1 : i + 3], ' '))) AS shingles
      FROM toks
    ),
    tpost AS (SELECT doc_id AS train_id, unnest(shingles) AS s
              FROM sh WHERE is_train),
    rare AS (SELECT s FROM tpost GROUP BY s HAVING COUNT(*) <= 100),
    epost AS (SELECT doc_id AS eval_id, unnest(shingles) AS s
              FROM sh WHERE NOT is_train),
    cand AS (
      SELECT DISTINCT e.eval_id, t.train_id
      FROM epost e JOIN rare r ON e.s = r.s JOIN tpost t ON t.s = e.s
    )
    SELECT eval_id, train_id, containment FROM (
      SELECT c.eval_id, c.train_id,
             CAST(len(list_intersect(se.shingles, st.shingles)) AS DOUBLE)
             / len(se.shingles) AS containment
      FROM cand c
      JOIN sh se ON se.doc_id = c.eval_id
      JOIN sh st ON st.doc_id = c.train_id
    ) WHERE containment >= 0.5
    ORDER BY eval_id, train_id
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination scan: hash-split the corpus 80/20 (the
    deterministic o3_hash_split), then find eval documents >= 50%
    shingle-contained in some train document — the benchmark-leakage /
    decontamination check an LLM data pipeline runs before training.
    Train-side inverted index with a doc-freq cap; exact containment
    verify on candidates only (operators/dedup.cross_containment)."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import split_bucket
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    bucket = split_bucket(F.col("doc_id"), 42, 10_000)
    train = docs.filter(bucket < 8000)
    eval_df = docs.filter(bucket >= 8000)
    return dd.cross_containment(
        train, eval_df, n_shingle=3, threshold=0.5, max_doc_freq=100
    )


@register(
    "dedup_exact_keep_first",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic lowest-id survivor per content hash."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.exact_dedup(docs).select("doc_id", "lang", "source")


@register(
    "dedup_duplicate_groups",
    oracle="""
    SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
           MIN(doc_id) AS keep_id
    FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
)
def dedup_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate group report (hash, copies, survivor)."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.duplicate_groups(docs)


@register(
    "w_sessionize_batch",
    oracle="""
    WITH x AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER w
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM x
    )
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, session_id
    """,
)
def w_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): per-user session ids from
    30-minute inactivity gaps — lag + running sum + grouped bounds, all
    partitioned by user. The streaming twin is stream_session_30m."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    d = events.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("int"),
    )
    return (
        d.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# Shared CTE block: full SQL twin of the inverted-index n-gram Jaccard
# pipeline — same tokenization (lower/trim/\s+ split), same 3-token
# shingles, same max_doc_freq=100 index cap, same exact |A∩B|/|A∪B|
# verify. Used by dedup_ngram_jaccard (pair output) and dedup_clusters
# (connected components over the same pairs).
_NGRAM_JACCARD_CTES = r"""
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(tk) - 3, 0) + 1),
               i -> array_to_string(tk[i + 1 : i + 3], ' ')
             )) AS shingles
      FROM toks
    ),
    posting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    rare AS (SELECT s FROM posting GROUP BY s HAVING COUNT(*) <= 100),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM posting a
      JOIN rare r ON a.s = r.s
      JOIN posting b ON b.s = a.s
      WHERE a.doc_id < b.doc_id
    ),
    jac AS (
      SELECT id_a, id_b, jaccard FROM (
        SELECT p.id_a, p.id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
        FROM cand p
        JOIN sh sa ON sa.doc_id = p.id_a
        JOIN sh sb ON sb.doc_id = p.id_b
      )
      WHERE jaccard >= 0.5
    )
"""


@register(
    "dedup_clusters",
    # Recursive-CTE twin of min-label propagation: walk computes, for every
    # node, the set of labels that can reach it over the (bidirectional)
    # edge list; MIN over that set is the component's canonical id —
    # exactly what the iterative Spark propagation converges to. Pairs come
    # from the deterministic exact n-gram Jaccard pipeline (shared CTEs).
    oracle=f"""
    WITH RECURSIVE {_NGRAM_JACCARD_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jac
      UNION
      SELECT id_b AS src, id_a AS dst FROM jac
    ),
    walk(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component
    FROM walk GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: exact n-gram Jaccard near-dup pairs
    (deterministic recall — the property that makes the cluster output
    oracle-checkable) -> connected components (iterative min-label
    propagation, localCheckpoint per round) -> (doc_id, canonical
    component id = min doc_id of the cluster)."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_near_dups(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    return dd.connected_components(pairs).orderBy("doc_id")


@register(
    "dedup_minhash_md5",
    # Complete SQL twin of the MinHash+LSH pipeline in md5_60 hash mode:
    # identical signatures (min over shingles of md5-60(md5-60(s) ':' i)),
    # identical 16-band/r=4 banding (band key = comma-joined sig slice),
    # identical 2..200 bucket-size gate, identical exact-Jaccard verify.
    # The banding is replayed, NOT brute-forced — r=4 at threshold 0.5 has
    # <1 recall, so only an exact candidate-set twin hash-matches.
    oracle=f"""
    WITH {_NGRAM_JACCARD_CTES},
    shing AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    base AS (
      SELECT doc_id, s,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h0
      FROM shing
    ),
    sigs AS (
      SELECT doc_id, i.range AS i,
             MIN(CAST(('0x' || substr(md5(h0::VARCHAR || ':' || i.range),
                                      1, 15)) AS BIGINT)) AS sig
      FROM base CROSS JOIN range(0, 64) i
      GROUP BY doc_id, i.range
    ),
    bandkeys AS (
      SELECT doc_id, i // 4 AS band,
             STRING_AGG(sig::VARCHAR, ',' ORDER BY i) AS bkey
      FROM sigs GROUP BY doc_id, i // 4
    ),
    ok_buckets AS (
      SELECT band, bkey FROM bandkeys
      GROUP BY band, bkey HAVING COUNT(*) BETWEEN 2 AND 200
    ),
    cpairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandkeys a
      JOIN ok_buckets o ON a.band = o.band AND a.bkey = o.bkey
      JOIN bandkeys b ON b.band = a.band AND b.bkey = a.bkey
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT p.id_a, p.id_b,
             CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
      FROM cpairs p
      JOIN sh sa ON sa.doc_id = p.id_a
      JOIN sh sb ON sb.doc_id = p.id_b
    )
    WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash+LSH pipeline in md5_60 hash mode — same fold, banding,
    bucket cap, and verify code as dedup_minhash_near, with the hash leaf
    swapped for the engine-universal md5-60-bit value so the ENTIRE
    pipeline (signatures → bands → capped buckets → exact verify) is
    certified against an external SQL replay. xxhash64 stays the
    production/bench default (faster; no string hashing per permutation)."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.minhash_near_dups(docs, threshold=0.5, hash_mode="md5_60")


@register(
    "dedup_minhash_near",
    # ground-truth oracle: xxhash64 signatures have no SQL twin (that's
    # dedup_minhash_md5's job), but the pipeline's OUTPUT can be checked
    # against the thing it approximates — the exact all-pairs Jaccard
    # set at threshold 0.5. Hash-match certifies precision exactly (the
    # verify stage guarantees it) and recall as a stable fact of this
    # dataset: every true pair here has J >= 0.9, where the 16-band/r=4
    # scheme's miss probability is (1 − 0.9⁴)¹⁶ < 4e-8 per pair — and
    # the seeded hashes are deterministic for fixed data, so the verdict
    # cannot flap. The oracle brute-forces only because ground truth
    # requires it at sf0.01; the Spark side stays the banded linear plan.
    oracle=f"""
    WITH {_NGRAM_JACCARD_CTES},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(a.shingles || b.shingles)) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
    """,
)
def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (production xxhash64 hashes):
    shingle → 64 minhashes → 16 bands (r=4) → capped bucket pairs →
    exact-Jaccard verify ≥ 0.5. Oracle-checked against the exact
    all-pairs ground truth; the banding/bucket internals are separately
    replayed hash-for-hash by dedup_minhash_md5."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.minhash_near_dups(docs, threshold=0.5)


@register(
    "dedup_ngram_jaccard",
    # jaccard is a small-int ratio in double, so the value hash is
    # engine-exact without rounding.
    oracle=f"""
    WITH {_NGRAM_JACCARD_CTES}
    SELECT id_a, id_b, jaccard FROM jac
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dups via inverted shingle index (no
    minhash approximation; deterministic recall) with hot-shingle capping.
    Superset-or-equal of the MinHash pairs at the same threshold — asserted
    in tests/test_dedup.py."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.ngram_jaccard_near_dups(docs, threshold=0.5)


# SQL twin of the simhash pipeline. The md5_60 bit source makes the
# signature engine-independent (same md5 hex in Spark and DuckDB; 60 bits
# from 15 hex chars stay positive in a signed BIGINT both sides). The
# banding stage needs no twin: (max_hamming+1)-chunk banding is
# recall-lossless (pigeonhole) and the verify is exact, so the pipeline
# output EQUALS the brute-force Hamming join the oracle runs.
_SIMHASH_VOTES = ",\n             ".join(
    f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(60)
)
_SIMHASH_SIG = "\n           + ".join(
    f"CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END"
    for i in range(60)
)


@register(
    "dedup_simhash_near",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> t <> '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTES}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id,
             {_SIMHASH_SIG}
             AS sig
      FROM votes
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 6
    """,
)
def dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (md5-derived 60-bit source for oracle parity;
    production default is xxhash64), Hamming ≤ 6 via 7-chunk banding
    (pigeonhole-guaranteed recall at the shipped radius)."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.simhash_near_dups(docs, max_hamming=6, bit_source="md5_60")


# ---------------------------------------------------------------------------
# North-star: similarity search (operators/simsearch.py).
# ---------------------------------------------------------------------------

def _duck_dot(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) AS DOUBLE)"
    )


def _duck_norm(a: str) -> str:
    return (
        f"sqrt(CAST(list_sum(list_transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE))"
    )


@register(
    "simsearch_cosine_scores",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_duck_dot('e.embedding', 'q.qvec')}
                 / ({_duck_norm('e.embedding')} * {_duck_norm('q.qvec')}),
                 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    """,
)
def simsearch_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity of every vector against a fixed query vector —
    the kernel the ANN paths re-rank with (JVM higher-order functions)."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qvec")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(ss.cosine(F.col("embedding"), F.col("__qvec")), 6).alias(
                "cos_sim"
            ),
        )
    )


@register(
    "curate_docs_with_embeddings",
    # cross-table curation: the text quality gate joined with embedding
    # validity (vector exists, finite positive norm) — the keep decision a
    # multimodal training pipeline actually makes
    oracle=f"""
    WITH gate AS (
      SELECT doc_id,
             CASE WHEN text IS NULL OR length(text) = 0 THEN FALSE
                  WHEN len({_DUCK_TOKS}) < 5 THEN FALSE
                  ELSE TRUE END AS text_ok
      FROM documents
    )
    SELECT g.doc_id,
           g.text_ok,
           e.vec_id IS NOT NULL AS has_embedding,
           ROUND({_duck_norm('e.embedding')}, 6) AS emb_norm,
           g.text_ok AND e.vec_id IS NOT NULL
             AND {_duck_norm('e.embedding')} > 0 AS final_keep
    FROM gate g LEFT JOIN embeddings e ON e.vec_id = g.doc_id
    """,
)
def curate_docs_with_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation join: documents passing the cheap text gate AND
    carrying a valid embedding (present, positive norm). One broadcast-or-
    hash equi join keyed on the id — at 100 TB both sides are bucketed on
    the id and the join is exchange-free."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss
    from big_data_analysis_for_stock_market_data_spark.operators.text import tokens_col

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    c = F.col("text")
    text_ok = F.when(
        c.isNull() | (F.length(c) == 0), F.lit(False)
    ).when(F.size(tokens_col(c)) < 5, F.lit(False)).otherwise(F.lit(True))
    gate = docs.select("doc_id", text_ok.alias("text_ok"))
    norm = ss.l2_norm(F.col("embedding"))
    joined = gate.join(
        emb.select("vec_id", "embedding"),
        gate["doc_id"] == F.col("vec_id"), "left",
    )
    return joined.select(
        "doc_id", "text_ok",
        F.col("vec_id").isNotNull().alias("has_embedding"),
        F.round(norm, 6).alias("emb_norm"),
        (
            F.col("text_ok") & F.col("vec_id").isNotNull() & (norm > 0)
        ).alias("final_keep"),
    )


def _duck_pq_cent(s: str, c: str, j: str) -> str:
    """DuckDB twin of simsearch._pq_centroid (md5-60 uniform in [-1, 1])."""
    key = f"{s} || ':' || {c} || ':' || {j} || ':pq'"
    return (
        f"((CAST(('0x' || substr(md5({key}), 1, 15)) AS BIGINT)"
        " % 1000000007) / 1000000007.0 * 2.0 - 1.0)"
    )


def _duck_pq_subdist(vec: str, s: str, c: str, d_sub: int = 8) -> str:
    """DuckDB twin of simsearch._pq_subdist (left fold in j order)."""
    cent = _duck_pq_cent(s, c, "j")
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(0, {d_sub}),"
        f" j -> pow({vec}[{s} * {d_sub} + j + 1] - {cent}, 2.0))),"
        " (a, b) -> a + b)"
    )


@register(
    "simsearch_pq_topk",
    # full replay: md5-derived codebook, per-subspace argmin encode
    # (list_position = first-index tiebreak, matching array_position),
    # ADC distance = sum of the query's per-subspace table entries at the
    # corpus codes; rank on 6-dp-rounded distance
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id < 3
    ),
    enc AS (
      SELECT vec_id,
             list_transform(range(0, 8), s ->
               list_position(
                 list_transform(range(0, 16), c ->
                   {_duck_pq_subdist('embedding', 's', 'c')}),
                 list_min(list_transform(range(0, 16), c ->
                   {_duck_pq_subdist('embedding', 's', 'c')}))
               ) - 1) AS code
      FROM embeddings
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, 8), s ->
                 {_duck_pq_subdist('q.qvec', 's', 'e.code[s + 1]')})),
               (a, b) -> a + b), 6) AS approx_sqdist
      FROM enc e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, approx_sqdist, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY approx_sqdist, neighbor_id) AS rank
      FROM scored
    )
    WHERE rank <= 5
    """,
)
def simsearch_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 8×16 md5-derived codebook, per-subspace
    argmin encode, ADC lookup scoring — the corpus is scanned as 8
    sub-codes per vector instead of 64 floats (the memory-compression
    half of IVF-PQ; operators/simsearch.pq_encode / pq_topk)."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ss.pq_topk(
        emb, queries_df, n_neighbors=5, m=8, k=16, dim=64
    ).select("query_id", "neighbor_id", "approx_sqdist", "rank")


@register(
    "simsearch_bruteforce_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND({_duck_dot('e.embedding', 'q.qvec')}
                   / ({_duck_norm('e.embedding')} * {_duck_norm('q.qvec')}),
                   6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    WHERE rank <= 5
    """,
)
def simsearch_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 3 query vectors (broadcast
    brute-force baseline). Ranks on the 6-dp-rounded cosine so near-tied
    neighbors order identically across engines (the raw double ranking is
    reproducible only up to summation noise)."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ss.brute_force_topk(emb, queries_df, k=5, round_to=6)


# Axis-plane sign-LSH buckets for table t: bit p = (vec[(n_planes*t+p) mod
# dim] >= 0) — replayed verbatim below, so the oracle certifies the exact
# candidate set AND the verify, not a superset.
def _duck_axis_bucket(
    t: int, n_planes: int = 4, dim: int = 64, col: str = "embedding"
) -> str:
    bits = " + ".join(
        f"(CASE WHEN {col}[{(t * n_planes + p) % dim + 1}] >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"({t * 2 ** n_planes} + {bits})"


@register(
    "simsearch_lsh_topk",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_duck_axis_bucket(t, 6)} AS bk{t}" for t in range(8))}
      FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id < 3),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             e.embedding AS ne, q.embedding AS qe
      FROM b e JOIN q
        ON e.vec_id <> q.vec_id
       AND ({" OR ".join(f"e.bk{t} = q.bk{t}" for t in range(8))})
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND({_duck_dot('ne', 'qe')}
                   / ({_duck_norm('ne')} * {_duck_norm('qe')}), 6) AS cos_sim
      FROM cand
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    WHERE rank <= 5
    """,
)
def simsearch_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 (sign projections, 8 tables × 6 planes —
    tuned so near-orthogonal vectors still fill the top-k) — the
    sub-linear scale path. Axis-plane family + 6-dp pre-rank rounding so
    the oracle replays the identical candidate set and ranking; the
    production default stays seeded-hash planes. Runs the one sign-LSH
    top-k, operators/simsearch.ann_join, with the 3 queries as its left
    side (Spark broadcasts them)."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    return ss.ann_join(
        emb.filter(F.col("vec_id") < 3), emb, k=5, n_planes=6, n_tables=8,
        plane_mode="axis", round_to=6,
    ).withColumnRenamed("left_id", "query_id")


@register(
    "simsearch_ann_join",
    # same axis-plane family and operator (ann_join) as
    # simsearch_lsh_topk, but corpus-to-corpus: odd vectors retrieve from
    # even vectors through the bucket equi join — the oracle replays the
    # exact candidate set and 6-dp pre-rank rounding
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_duck_axis_bucket(t, 6)} AS bk{t}" for t in range(8))}
      FROM embeddings
    ),
    l AS (SELECT * FROM b WHERE vec_id % 2 = 1),
    r AS (SELECT * FROM b WHERE vec_id % 2 = 0),
    cand AS (
      SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS neighbor_id,
             l.embedding AS le, r.embedding AS re
      FROM l JOIN r
        ON l.vec_id <> r.vec_id
       AND ({" OR ".join(f"l.bk{t} = r.bk{t}" for t in range(8))})
    ),
    scored AS (
      SELECT left_id, neighbor_id,
             ROUND({_duck_dot('le', 're')}
                   / ({_duck_norm('le')} * {_duck_norm('re')}), 6) AS cos_sim
      FROM cand
    )
    SELECT left_id, neighbor_id, cos_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY left_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    WHERE rank <= 2
    """,
)
def simsearch_ann_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-to-corpus ANN join (operators/simsearch.ann_join): every
    odd-id vector retrieves its top-2 approximate neighbors among even-id
    vectors via sign-LSH buckets meeting in an equi join — the
    retrieval/linking shape (eval→train attribution, cross-corpus
    augmentation) with a whole corpus on the left instead of a query
    batch. At these sizes Spark broadcasts one side; two large corpora
    meet in a bucket-keyed shuffle. Axis planes + 6-dp pre-rank rounding
    keep the candidate set and ranking SQL-replayable."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    return ss.ann_join(
        emb.filter(F.col("vec_id") % 2 == 1),
        emb.filter(F.col("vec_id") % 2 == 0),
        k=2, n_planes=6, n_tables=8, plane_mode="axis", round_to=6,
    )


# SQL twin of the deterministic IVF path. The Lloyd iterations are
# UNROLLED (fixed n_iters is part of the spec): each builds assign{t}
# (argmin distance, ties to lowest cluster) and cent{t+1} (per-dim
# DECIMAL(18,9)-exact means; empty clusters keep the previous centroid).
_IVF_DIST = (
    "list_sum(list_transform(list_zip({v}, {c}),"
    " s -> (CAST(s[1] AS DOUBLE) - s[2]) * (CAST(s[1] AS DOUBLE) - s[2])))"
)


def _det_kmeans_ctes(n_clusters=8, n_iters=2, dim=64) -> list[str]:
    """The unrolled deterministic-Lloyd CTE chain ending at
    ``final_assign`` — shared by the IVF/IVF-PQ oracles and the
    semantic-dedup oracle (same quantizer, same replay)."""
    dist_ec = _IVF_DIST.format(v="e.embedding", c="c.centroid")
    ctes = [
        f"""cent0 AS (
      SELECT rn - 1 AS cluster,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
      FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(('0x' || substr(md5(vec_id::VARCHAR || ':42'),
                                               1, 8)) AS BIGINT) % 10000,
                          vec_id) AS rn
        FROM embeddings
      ) WHERE rn <= {n_clusters}
    )"""
    ]
    for t in range(n_iters):
        ctes.append(f"""assign{t} AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {dist_ec}, c.cluster) AS rn
        FROM embeddings e CROSS JOIN cent{t} c
      ) WHERE rn = 1
    )""")
        ctes.append(f"""means{t} AS (
      SELECT cluster, list(mean ORDER BY dim) AS arr FROM (
        SELECT a.cluster, r.range AS dim,
               CAST(SUM(CAST(a.embedding[r.range] AS DECIMAL(18,9)))
                    AS DOUBLE) / COUNT(*) AS mean
        FROM assign{t} a CROSS JOIN range(1, {dim + 1}) r
        GROUP BY a.cluster, r.range
      ) GROUP BY cluster
    )""")
        ctes.append(f"""cent{t + 1} AS (
      SELECT c.cluster, COALESCE(m.arr, c.centroid) AS centroid
      FROM cent{t} c LEFT JOIN means{t} m ON m.cluster = c.cluster
    )""")
    final = f"cent{n_iters}"
    ctes.append(f"""final_assign AS (
      SELECT vec_id, embedding, cluster FROM (
        SELECT e.vec_id, e.embedding, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {dist_ec}, c.cluster) AS rn
        FROM embeddings e CROSS JOIN {final} c
      ) WHERE rn = 1
    )""")
    return ctes


def _ivf_oracle_sql(
    n_clusters=8, n_iters=2, n_probe=3, k=5, dim=64, scoring="cosine"
) -> str:
    ctes = _det_kmeans_ctes(n_clusters, n_iters, dim)
    final = f"cent{n_iters}"
    dist_qc = _IVF_DIST.format(v="q.embedding", c="c.centroid")
    ctes.append(f"""probes AS (
      SELECT qid, qvec, cluster FROM (
        SELECT q.vec_id AS qid, q.embedding AS qvec, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {dist_qc}, c.cluster) AS rn
        FROM embeddings q CROSS JOIN {final} c
        WHERE q.vec_id < 3
      ) WHERE rn <= {n_probe}
    )""")
    if scoring == "cosine":
        ctes.append(f"""scored AS (
      SELECT DISTINCT p.qid AS query_id, a.vec_id AS neighbor_id,
             ROUND({_duck_dot('a.embedding', 'p.qvec')}
                   / ({_duck_norm('a.embedding')} * {_duck_norm('p.qvec')}),
                   6) AS cos_sim
      FROM final_assign a JOIN probes p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.qid
    )""")
        return f"""
    WITH {", ".join(ctes)}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """
    # scoring == 'pq': ADC over md5-codebook codes within probed cells
    ctes.append(f"""enc AS (
      SELECT vec_id,
             list_transform(range(0, 8), s ->
               list_position(
                 list_transform(range(0, 16), c ->
                   {_duck_pq_subdist('embedding', 's', 'c')}),
                 list_min(list_transform(range(0, 16), c ->
                   {_duck_pq_subdist('embedding', 's', 'c')}))
               ) - 1) AS code
      FROM embeddings
    )""")
    ctes.append(f"""scored AS (
      SELECT DISTINCT p.qid AS query_id, a.vec_id AS neighbor_id,
             ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(0, 8), s ->
                 {_duck_pq_subdist('p.qvec', 's', 'e.code[s + 1]')})),
               (a2, b2) -> a2 + b2), 6) AS approx_sqdist
      FROM final_assign a
      JOIN probes p ON a.cluster = p.cluster
      JOIN enc e ON e.vec_id = a.vec_id
      WHERE a.vec_id <> p.qid
    )""")
    return f"""
    WITH {", ".join(ctes)}
    SELECT query_id, neighbor_id, approx_sqdist, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY approx_sqdist, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register("simsearch_ivf_det_topk", oracle=_ivf_oracle_sql())
def simsearch_ivf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 over the engine's one quantizer
    (simsearch.deterministic_kmeans): md5-seeded init, fixed 2 Lloyd
    iterations with decimal-exact centroid means, 3-probe search, 6dp
    pre-rank cosine — the entire ITERATIVE algorithm replayed and
    hash-verified by the SQL oracle (operators/simsearch.ivf_topk; the
    same function simsearch_ivf_topk runs at full probe)."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ss.ivf_topk(
        emb, queries_df, k=5, n_clusters=8, n_probe=3, n_iters=2, seed=42,
        round_to=6,
    )


@register(
    "simsearch_ivfpq_det_topk",
    oracle=_ivf_oracle_sql(scoring="pq"),
)
def simsearch_ivfpq_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end-to-end: deterministic coarse quantizer prunes to 3
    probed cells, PQ codes score candidates by ADC lookups — the canonical
    100 TB ANN layout (partition-pruned scan × m-byte codes), with EVERY
    stage (Lloyd iterations, assignment, codebook, encode, ADC) replayed
    and hash-verified by the SQL oracle
    (operators/simsearch.ivfpq_det_topk, which shares ivf_topk's
    index-and-probe step)."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ss.ivfpq_det_topk(
        emb, queries_df, k=5, n_clusters=8, n_probe=3, n_iters=2,
        m=8, pq_k=16, dim=64, seed=42,
    ).select("query_id", "neighbor_id", "approx_sqdist", "rank")


@register(
    "simsearch_ivf_topk",
    # exact oracle via the index-structure invariant: with
    # n_probe == n_clusters the IVF machinery (k-means assign →
    # per-cell scan → cosine re-rank) MUST reproduce the flat exact scan
    # — any vector lost or duplicated by the cell partitioning breaks
    # the hash. So the oracle is plain brute-force top-5 (the
    # simsearch_bruteforce_topk SQL). The PRUNED probe path is certified
    # separately by simsearch_ivf_det_topk, whose deterministic k-means
    # is replayed centroid-for-centroid in SQL.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND({_duck_dot('e.embedding', 'q.qvec')}
                   / ({_duck_norm('e.embedding')} * {_duck_norm('q.qvec')}),
                   6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    WHERE rank <= 5
    """,
)
def simsearch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 over the deterministic k-means quantizer (16 cells,
    2 Lloyd iterations), run at full probe: partition-by-cell +
    scan-all-cells must equal the flat exact scan — the invariant that
    certifies the index plumbing end-to-end regardless of where k-means
    put the centroids. The pruned-probe search (n_probe < n_clusters) is
    covered by simsearch_ivf_det_topk's full SQL replay of the same
    function; at scale the assigned corpus is persisted partitioned by
    cell so probes prune partitions."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ss.ivf_topk(
        emb, queries_df, k=5, n_clusters=16, n_probe=16, round_to=6
    )


@register(
    "dedup_cosine_near",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_duck_axis_bucket(t)} AS bk{t}" for t in range(8))}
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             a.embedding AS ea, c.embedding AS eb
      FROM b a JOIN b c
        ON a.vec_id < c.vec_id
       AND ({" OR ".join(f"a.bk{t} = c.bk{t}" for t in range(8))})
    )
    SELECT id_a, id_b, ROUND(cos_raw, 6) AS cos_sim FROM (
      SELECT id_a, id_b,
             {_duck_dot('ea', 'eb')}
             / ({_duck_norm('ea')} * {_duck_norm('eb')}) AS cos_raw
      FROM cand
    )
    WHERE cos_raw >= 0.4
    """,
)
def dedup_cosine_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (LSH candidates + exact
    verify). The synthetic embeddings are near-orthogonal (max pairwise
    cosine ≈ 0.51), so the threshold is set at 0.4 — the top ~0.05% of
    pairs — to exercise the full candidate→verify path. Axis-plane family
    so the oracle replays the identical candidate set (see
    simsearch._bucket_expr); production default stays seeded-hash."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    pairs = ss.cosine_near_dup_pairs(
        emb, threshold=0.4, n_planes=4, n_tables=8, plane_mode="axis"
    )
    return pairs.withColumn("cos_sim", F.round("cos_sim", 6))


# ---------------------------------------------------------------------------
# North-star: multimodal binary columns (operators/multimodal.py). The
# driver ships no media table, so payloads are synthesized from documents
# (text bytes as stand-in blobs) — the operator surface is the real thing.
# ---------------------------------------------------------------------------

@register(
    "mm_payload_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           sha256(text) AS content_sha256
    FROM documents
    """,
)
def mm_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction (length, sha256 content id) —
    expression-level, no Python."""
    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "UTF-8")
    )
    out = mm.with_payload_meta(docs)
    return out.select("doc_id", "payload_bytes", "content_sha256")


@register(
    "mm_fake_features",
    # SQL twin of the deterministic fake decoder: f0 = first
    # little-endian uint32 of sha256(payload), % 1000 / 1000. The value is
    # a 3-decimal rational, so float32 storage + round(6) recovers it
    # exactly in both engines.
    oracle="""
    WITH d AS (
      SELECT doc_id AS asset_id,
             list_transform(
               range(1, 9, 2),
               p -> (strpos('0123456789abcdef',
                            substr(sha256(text), CAST(p AS INTEGER), 1)) - 1)
                    * 16
                    + strpos('0123456789abcdef',
                             substr(sha256(text), CAST(p AS INTEGER) + 1, 1)) - 1
             ) AS b
      FROM documents
    )
    SELECT asset_id, 16 AS feat_dim,
           ROUND(((b[1] + 256 * b[2] + 65536 * b[3] + 16777216 * b[4])
                  % 1000) / 1000.0, 6) AS f0
    FROM d
    """,
)
def mm_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (deterministic
    fake decoder; real decoder is the documented stub)."""
    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm

    docs = (
        load(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("asset_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    feats = mm.extract_features(docs, dim=16)
    return feats.select(
        "asset_id",
        F.size("features").alias("feat_dim"),
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


@register(
    "mm_resize",
    # the fake decoder emits exactly width*height*3 bytes per asset; the
    # oracle pins that size/shape contract (and row multiplicity) per row.
    oracle="""
    SELECT doc_id AS asset_id, 768 AS bitmap_bytes,
           16 AS resized_width, 16 AS resized_height
    FROM documents
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage shape: fixed-size (w*h*3) binary output per
    asset from the deterministic fake decoder (real PIL decode is the
    documented stub)."""
    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = mm.resize_images(docs, width=16, height=16)
    return out.select(
        "asset_id",
        F.length("resized_payload").alias("bitmap_bytes"),
        "resized_width", "resized_height",
    )


@register(
    "mm_frame_sample",
    # slicing twin: step = max(len//4, 1); frame i covers
    # [i*step, (i+1)*step) clamped to the payload, so its length is
    # min(max(len - i*step, 0), step). strlen(VARCHAR) is UTF-8 bytes —
    # the same bytes Spark's encode(text,'UTF-8') produces.
    oracle="""
    WITH s AS (
      SELECT doc_id AS asset_id, strlen(text) AS len,
             greatest(strlen(text) // 4, 1) AS step
      FROM documents
    )
    SELECT asset_id, CAST(i AS INTEGER) AS frame_idx,
           least(greatest(len - i * step, 0), step) AS frame_bytes
    FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling explode shape (stub slicing; real sampler drops in)."""
    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm

    docs = (
        load(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").alias("asset_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    frames = mm.frame_sample(docs, n_frames=4)
    return frames.select(
        "asset_id", "frame_idx", F.length("frame_payload").alias("frame_bytes")
    )


@register(
    "mm_container_headers",
    # REAL header parsing, replayed in SQL: every synthesized field is
    # integer arithmetic on (doc_id, utf-8 byte length) — ids % 4 = 0 are
    # PNGs (big-endian IHDR, IDAT split across two chunks,
    # w=1+id%128, h=1+id%96, 8-bit truecolor), remaining odd ids are
    # RIFF/WAVE (rate 8000 + id%5*2000, 1-2 channels, 16-bit PCM padded
    # to 4 bytes, junk LIST chunk when id%3=0), remaining even ids are
    # 24-bit BMPs (w=1+id%64, h=1+id%48, 4-byte row stride). duration is
    # a rounded ratio of exact ints -> bigint micros (engine-portable).
    oracle="""
    WITH s AS (
      SELECT doc_id, strlen(text) AS len FROM documents
    ),
    png AS (
      SELECT doc_id,
             1 + doc_id % 128 AS w, 1 + doc_id % 96 AS h,
             1 + (len % 512) AS data_bytes
      FROM s WHERE doc_id % 4 = 0
    ),
    wav AS (
      SELECT doc_id,
             8000 + (doc_id % 5) * 2000 AS rate,
             CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS ch,
             ((len + 3) // 4) * 4 AS data_bytes
      FROM s WHERE doc_id % 2 = 1
    ),
    bmp AS (
      SELECT doc_id,
             1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
      FROM s WHERE doc_id % 2 = 0 AND doc_id % 4 <> 0
    )
    SELECT doc_id, 'wav' AS container,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(data_bytes // (ch * 2) AS BIGINT) AS n_samples,
           CAST(round((data_bytes // (ch * 2)) * 1000000.0 / rate)
                AS BIGINT) AS duration_micros,
           CAST(NULL AS BIGINT) AS width,
           CAST(NULL AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS bpp,
           CAST(data_bytes AS BIGINT) AS data_bytes
    FROM wav
    UNION ALL
    SELECT doc_id, 'bmp', NULL, NULL, NULL, NULL, NULL,
           CAST(w AS BIGINT), CAST(h AS BIGINT), CAST(24 AS BIGINT),
           CAST(((w * 3 + 3) // 4) * 4 * h AS BIGINT)
    FROM bmp
    UNION ALL
    SELECT doc_id, 'png', NULL, NULL, NULL, NULL, NULL,
           CAST(w AS BIGINT), CAST(h AS BIGINT), CAST(24 AS BIGINT),
           CAST(data_bytes AS BIGINT)
    FROM png
    ORDER BY doc_id
    """,
)
def mm_container_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real pure-Python media-container parsing — RIFF/WAVE and PNG chunk
    walkers + BMP header reader over mapInPandas
    (operators/multimodal.parse_container_headers), fed by deterministic
    synthesized containers (synthesize_containers). This is header-grade
    decode with NO fake backend: the parser reads actual bytes the
    builders wrote, including WAVs with a junk chunk ahead of fmt and
    PNGs whose IDAT is split across two chunks."""
    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    synth = mm.synthesize_containers(docs, id_col="doc_id")
    return mm.parse_container_headers(
        synth, id_col="doc_id"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Scalar-function families (functions/scalar.py): JSON, string, datetime,
# array (SURVEY.md §2.7-F6 — absent in the reference, engine extension).
# ---------------------------------------------------------------------------

@register(
    "fn_json_props",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k,
           CASE WHEN CAST(props->>'$.k' AS BIGINT) >= 50 THEN 'high'
                ELSE 'low' END AS k_band
    FROM events
    """,
)
def fn_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (get_json_object) + a
    derived band — parses only the referenced path, no struct
    materialization."""
    from big_data_analysis_for_stock_market_data_spark import functions as fns

    events = load(spark, sf_dir, "events")
    k = fns.json_long(F.col("props"), "$.k")
    return events.select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


@register(
    "fn_from_json_struct",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k,
           CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod
    FROM events
    """,
)
def fn_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json into a struct column, then field
    access — the schema-on-read path (vs get_json_object's single-path
    extraction in fn_json_props)."""
    events = load(spark, sf_dir, "events")
    parsed = events.withColumn(
        "__props", F.from_json("props", "k BIGINT")
    )
    return parsed.select(
        "event_id",
        F.col("__props.k").alias("k"),
        (F.col("__props.k") % 10).alias("k_mod"),
    )


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-partitioned counts by line status over a
    year's shipments (conditional aggregation after an equi-join with the
    fact filter pushed down)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {_sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered aggregate — every predicate pushes to
    the parquet scan; the whole query is one codegen'd scan-agg pipeline
    with a 1-row shuffle."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q14_promo_ratio",
    oracle=f"""
    SELECT CAST(100.0 * promo / total AS DOUBLE) AS promo_revenue_pct
    FROM (
      SELECT
        CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
              THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE) AS promo,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ) t
    """,
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio over a broadcast
    dim join (promo-type revenue share)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo = F.sum(
        F.when(F.col("p_type").startswith("PROMO"), disc).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    ).cast("double")
    total = F.sum(disc).cast("double")
    return joined.agg(
        (100.0 * promo / total).alias("promo_revenue_pct")
    )


@register(
    "q19_disjunctive",
    oracle=f"""
    SELECT {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-column predicates across both
    join sides — Catalyst extracts the common l_partkey equi-condition so
    the join stays hash-based with the OR as a post-join filter."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return joined.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# TPC-H shapes q7-q22 (adapted to the driver tables: no partsupp /
# commitdate / phone columns, so supply-cost, receipt-lateness and
# country-code predicates are transposed to available columns; the join/
# aggregation shapes — the part that exercises the engine — are faithful).
# ---------------------------------------------------------------------------

@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {_sql_dsum('volume', 'revenue')}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    ship year. Both nation-annotated sides collapse to broadcast
    mini-dims FILTERED to the two nations before touching the fact
    tables, so the only big work is one lineitem-orders shuffle join."""
    nations = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cdim = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cdim), o.o_custkey == cdim.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
                 THEN CAST(volume AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share within a region-filtered
    market — conditional-sum ratio per order year. Parts, suppliers and
    region-filtered customers are all broadcast dims; the fact-side work
    is one lineitem-orders shuffle join."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    n = load(spark, sf_dir, "nation")
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cdim = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cdim), o.o_custkey == cdim.c_custkey)
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {_sql_dsum('volume', 'profit')}
    FROM (
      SELECT n.n_name AS nation,
             EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name pattern (no partsupp table, so profit is discounted revenue
    — the five-way join/aggregate shape is the point). Pattern filter is
    pushed into the broadcast part dim before the fact join."""
    p = load(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey")
    n = load(spark, sf_dir, "nation")
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return (
        joined.groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@register(
    "q11_important_parts",
    oracle=f"""
    WITH pr AS (
      SELECT l_partkey,
             {_sql_dsum('l_extendedprice * (1 - l_discount)', 'part_rev')}
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT l_partkey, part_rev
    FROM pr
    WHERE part_rev > 1.5 * (
      SELECT CAST(SUM(CAST(part_rev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
      FROM pr
    )
    ORDER BY part_rev DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-key value HAVING > a global-aggregate
    threshold (no partsupp, so value is lineitem revenue and the cut is
    1.5x the mean part revenue — SF-independent by construction). The
    global scalar is computed once and broadcast; no second scan of the
    grouped frame."""
    li = load(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "part_rev")
    )
    threshold = pr.agg(
        (
            1.5
            * (
                F.sum(F.col("part_rev").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("__cut")
    )
    return (
        pr.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_rev") > F.col("__cut"))
        .select("l_partkey", "part_rev")
        .orderBy(F.col("part_rev").desc(), F.col("l_partkey"))
    )


@register(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count histogram including
    zero-order customers. Engine plan pre-aggregates orders per customer
    BEFORE the outer join (map-side partial aggregation shrinks the
    shuffle to one row per customer), then left-joins and coalesces
    missing counts to 0 — same result as join-then-count with a fraction
    of the shuffle at 100 TB."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_cust = c.join(
        counts, c.c_custkey == counts.o_custkey, "left"
    ).select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the quarter's maximum
    revenue — scalar-max subquery as a broadcast of one row; exact
    decimal sums make the equality comparison engine-stable."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_part_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    triple, excluding a supplier blacklist (negative balance stands in
    for the complaints predicate; no partsupp, so supply relationships
    come from lineitem). Blacklist exclusion is a broadcast anti-join."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = load(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    filtered = li.join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    ).join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
    return (
        filtered.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@register(
    "q22_sales_opportunity",
    oracle=f"""
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer
      WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
    )
    SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
           {_sql_dsum('c_acctbal', 'totacctbal')}
    FROM pool
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*)
        FROM pool WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = pool.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, counted per country (nation key stands in for the phone
    country code; 'no orders at all' never happens in the synthetic data,
    so recency bounds the anti-join). Scalar average is broadcast; the
    anti-join's right side is pre-filtered to recent orders only."""
    pool = load(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 1, 2, 3, 4, 5, 6)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    avgbal = pool.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg_bal")
    )
    recent = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        pool.crossJoin(F.broadcast(avgbal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, pool.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), "totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "q2_min_balance_supplier",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT p.p_partkey, s.s_suppkey, s.s_acctbal, s.s_name,
                      n.n_name
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'STANDARD'
        AND p.p_size <= 15
    )
    SELECT s_acctbal, s_name, n_name, p_partkey
    FROM (
      SELECT *, MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS __mn
      FROM sp
    )
    WHERE s_acctbal = __mn
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
    """,
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-minimum subquery — for each qualifying
    part, the region-filtered supplier(s) with the minimal balance among
    those who actually supplied it (no partsupp, so supply relationships
    come from lineitem and min cost becomes min balance). The correlated
    min is a window over the deduplicated supplier-part frame — one
    shuffle, no join-back; top-20 via TakeOrderedAndProject."""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sdim = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    sp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sdim), li.l_suppkey == sdim.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_acctbal", "s_name", "n_name")
        .distinct()
    )
    w = Window.partitionBy("p_partkey")
    return (
        sp.withColumn("__mn", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("__mn"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(20)
    )


@register(
    "q20_dominant_supplier",
    oracle=f"""
    WITH shipped AS (
      SELECT l.l_partkey, l.l_suppkey,
             {_sql_dsum('l.l_quantity', 'qty')}
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%red%'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    tot AS (
      SELECT l_partkey,
             CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM shipped GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM shipped sh
    JOIN tot t ON sh.l_partkey = t.l_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    WHERE sh.qty > 0.5 * t.total
    ORDER BY s.s_suppkey
    """,
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested aggregation feeding a semi-join —
    suppliers who shipped a strict majority of some red part's 1997
    volume (availqty-vs-half-demand transposed to lineitem). Two
    aggregations share the hash(l_partkey) clustering, so the
    per-part total joins back without a new exchange."""
    red = load(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity"), "qty"))
    )
    # per-part total as a WINDOW over the aggregate's own partitioning —
    # not a groupBy + join-back, which re-executes the shipped subtree
    # (r08: was 5 scans / 9 exchanges, now 3 / 3); the window needs no
    # new exchange on top of the (l_partkey, l_suppkey) hash clustering
    total = (
        F.sum(F.col("qty").cast("decimal(18,6)"))
        .over(Window.partitionBy("l_partkey"))
        .cast("double")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        shipped.withColumn("total", total)
        .filter(F.col("qty") > 0.5 * F.col("total"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    ),
    multi AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) > 1
    ),
    sole AS (
      SELECT la.l_orderkey, la.l_suppkey
      FROM late la JOIN multi m ON la.l_orderkey = m.l_orderkey
      WHERE NOT EXISTS (
        SELECT 1 FROM late lb
        WHERE lb.l_orderkey = la.l_orderkey
          AND lb.l_suppkey <> la.l_suppkey
      )
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM sole JOIN supplier s ON sole.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who single-handedly held up
    multi-supplier orders — a semi-join (order has other suppliers) plus
    a self-anti-join with a compound condition (no OTHER supplier was
    also late; lateness = shipped >90 days after ordering, standing in
    for the missing commit/receipt dates)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    # ONE pass over lineitem⋈orders instead of the textbook
    # semi-join + self-anti-join (which scanned lineitem three times —
    # the late set twice plus the multi-supplier aggregate): per order,
    # collect the distinct supplier set and the distinct LATE supplier
    # set (both bounded by suppliers-per-order, ~7 in TPC-H data, so the
    # arrays never blow up); "s single-handedly held up a multi-supplier
    # order" is exactly |late| == 1 AND |supps| > 1. The join and the
    # groupBy both key on l_orderkey, so the aggregate rides the join's
    # partitioning with no extra shuffle.
    is_late = F.col("l_shipdate") > F.timestamp_add(
        "DAY", F.lit(90), F.col("o_orderdate")
    )
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.collect_set("l_suppkey").alias("__supps"),
            F.collect_set(F.when(is_late, F.col("l_suppkey"))).alias(
                "__late"
            ),
        )
        .filter((F.size("__late") == 1) & (F.size("__supps") > 1))
        .select(F.element_at("__late", 1).alias("l_suppkey"))
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@register(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking over returned items — selective
    fact filter pushed to the scan, dims broadcast, grouped revenue,
    top-k."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    joined = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "fn_string_suite",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           regexp_extract(p_type, '^(\\S+)', 1) AS type_first,
           CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
           concat(p_brand, '#', p_type) AS brand_type,
           substring(p_name, 1, 8) AS name_prefix,
           CAST(length(p_name) AS INT) AS name_len,
           replace(p_name, ' ', '_') AS name_snake
    FROM part
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family over part: case, regexp extraction, split
    cardinality, concatenation, substring, length, replace."""
    from big_data_analysis_for_stock_market_data_spark import functions as fns

    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        fns.first_word(F.col("p_type")).alias("type_first"),
        F.size(F.split("p_name", " ", -1)).alias("n_words"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@register(
    "fn_datetime_suite",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(YEAR FROM o_orderdate) AS y,
           EXTRACT(MONTH FROM o_orderdate) AS m,
           EXTRACT(DAY FROM o_orderdate) AS d,
           CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
             AS days_to_eoy
    FROM orders
    """,
)
def fn_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime family over orders: calendar decomposition (Spark dayofweek
    convention 1=Sunday), interval arithmetic, day difference."""
    from big_data_analysis_for_stock_market_data_spark import functions as fns

    orders = load(spark, sf_dir, "orders")
    parts = fns.with_date_parts(orders, "o_orderdate")
    return parts.select(
        "o_orderkey",
        F.col("year").cast("bigint").alias("y"),
        F.col("month").cast("bigint").alias("m"),
        F.col("day").cast("bigint").alias("d"),
        F.col("dayofweek").cast("bigint").alias("dow"),
        F.timestamp_add("DAY", F.lit(30), F.col("o_orderdate")).alias("due_date"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("date_only"))
        .cast("bigint").alias("days_to_eoy"),
    )


@register(
    "fn_array_suite",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           list_min(embedding) AS v_min,
           list_max(embedding) AS v_max,
           embedding[1] AS v_first,
           embedding[1:4][2] AS v_h2,
           embedding[1:4][3] AS v_h3,
           embedding[1:4][4] AS v_h4
    FROM embeddings
    """,
)
def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over embeddings: size, extrema, element access, slice —
    all JVM higher-order/collection functions (no hash-join with floats:
    values pass through unchanged, so bit-exact vs the oracle). The slice
    result is projected to scalar elements: the driver's pandas-based
    canonicalizer cannot sort/hash raw list cells (r03 ERR), and scalars
    keep the comparison bit-exact anyway."""
    emb = load(spark, sf_dir, "embeddings")
    head = F.slice("embedding", 1, 4)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min("embedding").alias("v_min"),
        F.array_max("embedding").alias("v_max"),
        F.element_at("embedding", 1).alias("v_first"),
        F.element_at(head, 2).alias("v_h2"),
        F.element_at(head, 3).alias("v_h3"),
        F.element_at(head, 4).alias("v_h4"),
    )


# ---------------------------------------------------------------------------
# Structured Streaming (streaming/ops.py) — run under an availableNow
# trigger into a memory sink, so replay-the-stream == run-the-batch and the
# DuckDB oracle still applies. The reference listed streaming as future work
# (G_2_presentation.pdf p.31-34); this is new capability, nothing ported.
# ---------------------------------------------------------------------------


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    return st.read_stream_parquet(
        spark, os.path.join(sf_dir, "events.parquet"), TESTDATA_SCHEMAS["events"]
    )


@register(
    "stream_tumbling_daily",
    oracle=f"""
    SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS window_start,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             + INTERVAL 1 DAY AS window_end,
           COUNT(value) AS n_events,
           {_sql_dsum('value', 'sum_value')},
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-day aggregate per user, replayed to completion.
    complete-mode memory sink: append would hold back windows newer than
    the final watermark."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    agg = st.windowed_agg(
        _events_stream(spark, sf_dir), "ts", "1 day",
        {
            "n_events": ("count", "value"),
            "sum_value": F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
            "max_value": ("max", "value"),
        },
        watermark="1 day", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="complete")
    return spark.table(sink)


@register(
    "stream_sliding_2d",
    oracle=f"""
    SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             - o.o * INTERVAL 1 DAY AS window_start,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             - o.o * INTERVAL 1 DAY + INTERVAL 2 DAY AS window_end,
           COUNT(value) AS n_events,
           {_sql_dsum('value', 'sum_value')}
    FROM events, (VALUES (0), (1)) AS o(o)
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (width 2 days, slide 1 day): every row
    lands in 2 overlapping windows. The oracle enumerates both member
    windows per row with a VALUES lateral — Spark aligns window starts to
    the epoch (day-aligned), matching date_trunc."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    agg = st.windowed_agg(
        _events_stream(spark, sf_dir), "ts", "2 days",
        {
            "n_events": ("count", "value"),
            "sum_value": F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
        },
        slide="1 day", watermark="1 day", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="complete")
    return spark.table(sink)


@register(
    "stream_session_30m",
    oracle="""
    WITH x AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER w
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sess_id
    """,
)
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — dynamic-length
    stateful windows; the oracle is the equivalent gaps-and-islands SQL."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    agg = st.session_agg(
        _events_stream(spark, sf_dir), "ts", "30 minutes",
        {"n_events": ("count", "value")},
        watermark="1 day", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="complete")
    return spark.table(sink)


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type): first-seen
    survivor with state evicted past the watermark; output projected to the
    keys so the surviving-row choice cannot leak nondeterminism."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    dd = st.stream_dedup(
        _events_stream(spark, sf_dir),
        keys=["user_id", "event_type"], ts_col="ts", watermark="365 days",
    ).select("user_id", "event_type")
    _, sink = st.run_to_memory(dd, output_mode="append")
    return spark.table(sink)


@register(
    "stream_running_totals",
    # association-free running stats: COUNT, exact integer-micros SUM
    # (round half away from zero on both sides), MAX — replay == batch
    # running window, hash-exact with no float caveats
    oracle="""
    SELECT user_id AS key, CAST(ts AS TIMESTAMP) AS ts, value,
           COUNT(*) OVER w AS n_so_far,
           CAST(SUM(CAST(round(value * 1000000.0) AS BIGINT)) OVER w
                AS BIGINT) AS sum_micros,
           MAX(value) OVER w AS max_so_far
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-key running totals (O(1) state/key) replayed to
    completion on applyInPandasWithState
    (streaming/ops.streaming_running_totals)."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    rt = st.streaming_running_totals(
        _events_stream(spark, sf_dir), "user_id", "ts", "value"
    )
    _, sink = st.run_to_memory(rt, output_mode="append")
    return spark.table(sink)


@register(
    "stream_upsert_latest",
    # same survivor contract as merge_latest_events: the streaming upsert
    # sink must converge to the batch SCD-1 resolution
    oracle="""
    SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS last_ts,
           value AS last_value,
           event_id AS last_event_id
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-1 upsert sink: foreachBatch merges each micro-batch
    into a parquet target keeping the max-(ts, event_id) row per
    (user, type); the drained target must equal the batch latest_by_key
    resolution (streaming/ops.run_upsert_to_parquet)."""
    import tempfile

    from big_data_analysis_for_stock_market_data_spark import streaming as st

    base = tempfile.mkdtemp(prefix="engine_upsert_")
    target = os.path.join(base, "target")
    ckpt = os.path.join(base, "ckpt")
    st.run_upsert_to_parquet(
        _events_stream(spark, sf_dir), target, ckpt,
        keys=["user_id", "event_type"], order=["ts", "event_id"],
        payload=["ts", "value", "event_id"],
    )
    return read_parquet(spark, target).select(
        "user_id", "event_type",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        F.col("event_id").alias("last_event_id"),
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: clicks within 1 hour after
    a purchase by the same user. Both sides are streams over the same
    source; the time bound + watermarks keep buffered state finite."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    ev = _events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = st.stream_stream_interval_join(
        purchases, clicks, on=["user_id"],
        left_ts="purchase_ts", right_ts="click_ts",
        within="1 hour", watermark="365 days",
    )
    _, sink = st.run_to_memory(joined, output_mode="append")
    return spark.table(sink).select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
    )


@register(
    "stream_interval_left_join",
    # the left-outer streaming contract: unmatched-left (null-padded)
    # rows emit only once the watermark PROVES no match can arrive, so a
    # drained replay equals the batch left join only below the watermark
    # horizon. Both sides therefore restrict to purchases at least
    # (within + 5 min) older than min(max purchase ts, max click ts) —
    # the final global watermark is the min across both input streams —
    # making the comparison exact by construction.
    oracle="""
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'click'),
    b AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                 AS wm_base)
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(c.ts AS TIMESTAMP) AS click_ts
    FROM p CROSS JOIN b
    LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.ts <= b.wm_base - INTERVAL '65' MINUTE
    ORDER BY purchase_id, click_id
    """,
)
def stream_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: purchases keep
    a null-padded row when no click follows within the hour — emitted
    only after the watermark proves completeness (the defining left-outer
    streaming semantics). The entry compares the drained replay against
    the batch left join BELOW the watermark horizon, which is the honest
    form of the equivalence: above the horizon the stream correctly
    withholds judgment."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    ev = _events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    joined = st.stream_stream_interval_join(
        purchases, clicks, on=["user_id"],
        left_ts="purchase_ts", right_ts="click_ts",
        within="1 hour", watermark="1 second", how="left_outer",
    )
    _, sink = st.run_to_memory(joined, output_mode="append")
    # horizon = min of both sides' max event time (the final global
    # watermark base), as a broadcast 1-row aggregate over the batch twin
    ev_batch = load(spark, sf_dir, "events")
    bound = ev_batch.groupBy().agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("__wm_base")
    )
    return (
        spark.table(sink)
        .crossJoin(F.broadcast(bound))
        .filter(
            F.col("purchase_ts")
            <= F.col("__wm_base") - F.expr("INTERVAL '65' MINUTE")
        )
        .select(
            "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
        )
        .orderBy("purchase_id", "click_id")
    )


@register(
    "stream_interval_full_join",
    # full-outer streaming contract: BOTH sides' null-padded rows emit
    # only once the watermark proves the other side complete, so the
    # drained replay equals the batch FULL join below the horizon on
    # BOTH event times (same 65-min slack construction as the left-outer
    # entry, applied to whichever side of the row is non-null).
    oracle="""
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'click'),
    b AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                 AS wm_base)
    SELECT purchase_id, click_id, user_id, purchase_ts, click_ts FROM (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             COALESCE(p.user_id, c.user_id) AS user_id,
             CAST(p.ts AS TIMESTAMP) AS purchase_ts,
             CAST(c.ts AS TIMESTAMP) AS click_ts
      FROM p
      FULL JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
    ) j CROSS JOIN b
    WHERE (purchase_ts IS NULL
           OR purchase_ts <= b.wm_base - INTERVAL '65' MINUTE)
      AND (click_ts IS NULL
           OR click_ts <= b.wm_base - INTERVAL '65' MINUTE)
    ORDER BY purchase_id, click_id
    """,
)
def stream_interval_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join (Spark 3.1+):
    purchases with no click within the hour AND clicks preceded by no
    purchase both surface null-padded, each once the watermark proves the
    other stream complete. Compared against the batch full join below the
    watermark horizon on both event times — the honest equivalence, as in
    the left-outer entry."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    ev = _events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    lw = purchases.withWatermark("purchase_ts", "1 second")
    rw = clicks.withWatermark("click_ts", "1 second")
    joined = lw.join(
        rw,
        F.expr(
            "user_id = c_user_id AND click_ts >= purchase_ts "
            "AND click_ts <= purchase_ts + INTERVAL 1 HOUR"
        ),
        "full_outer",
    )
    _, sink = st.run_to_memory(joined, output_mode="append")
    ev_batch = load(spark, sf_dir, "events")
    bound = ev_batch.groupBy().agg(
        F.least(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        ).alias("__wm_base")
    )
    horizon = F.col("__wm_base") - F.expr("INTERVAL '65' MINUTE")
    return (
        spark.table(sink)
        .crossJoin(F.broadcast(bound))
        .filter(
            (F.col("purchase_ts").isNull() | (F.col("purchase_ts") <= horizon))
            & (F.col("click_ts").isNull() | (F.col("click_ts") <= horizon))
        )
        .select(
            "purchase_id", "click_id",
            F.coalesce("user_id", "c_user_id").alias("user_id"),
            "purchase_ts", "click_ts",
        )
        .orderBy("purchase_id", "click_id")
    )


@register(
    "stream_ema_user",
    # recursive-CTE twin of the streaming recurrence. The fold is
    # ema' = a*x + (1-a)*ema with a = 2/(span+1) seeded at the first value
    # per key in ts order — written with the IDENTICAL double expression
    # here, so the value hash is engine-exact without rounding. (user_id,
    # ts) is duplicate-free in the test tables, so ts alone totally orders
    # each key's fold.
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id AS key, CAST(ts AS TIMESTAMP) AS ts,
             CAST(value AS DOUBLE) AS value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    r AS (
      SELECT key, ts, value, rn, value AS ema FROM base WHERE rn = 1
      UNION ALL
      SELECT b.key, b.ts, b.value, b.rn,
             (2.0 / 11.0) * b.value + (1.0 - 2.0 / 11.0) * r.ema
      FROM base b JOIN r ON b.key = r.key AND b.rn = r.rn + 1
    )
    SELECT key, ts, value, ema FROM r
    """,
)
def stream_ema_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EMA per user (applyInPandasWithState, O(1) state
    per key) — the streaming twin of ind_recursive_family; full replay
    equals the batch recurrence (asserted in tests/test_streaming.py)."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    ema = st.streaming_ema(
        _events_stream(spark, sf_dir), "user_id", "ts", "value", span=10
    )
    _, sink = st.run_to_memory(ema, output_mode="append")
    return spark.table(sink)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           e.event_type, e.value, c.c_mktsegment, c.c_nationkey
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the event stream joined per
    micro-batch against the static customer dim (broadcast — the dim ships
    once per batch, the stream never shuffles). Stateless, no watermark;
    replay of the stream equals the batch join
    (streaming/ops.stream_static_join)."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    enriched = st.stream_static_join(
        _events_stream(spark, sf_dir), dim, on=["user_id"]
    ).select(
        "event_id", "user_id", "ts", "event_type", "value",
        "c_mktsegment", "c_nationkey",
    )
    _, sink = st.run_to_memory(enriched, output_mode="append")
    return spark.table(sink)


@register(
    "stream_topk_users_daily",
    oracle=f"""
    WITH agg AS (
      SELECT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS window_start,
             {_sql_dsum('value', 'sum_value')}
      FROM events
      GROUP BY 1, 2
    )
    SELECT window_start, user_id, sum_value, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY sum_value DESC, user_id) AS rank
      FROM agg
    ) WHERE rank <= 3
    """,
)
def stream_topk_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items pattern: watermarked streaming tumbling-day aggregate
    per user (keyed state, exact-decimal sums), then top-3 users per window
    ranked BATCH-side on the replayed sink — Structured Streaming allows
    one stateful aggregation per query, so the rank is the canonical
    post-sink step, not a second stateful stage. Ties broken by user_id on
    the decimal-exact sum, so the ranking is engine-deterministic."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    agg = st.windowed_agg(
        _events_stream(spark, sf_dir), "ts", "1 day",
        {
            "sum_value": F.sum(
                F.col("value").cast("decimal(18,6)")
            ).cast("double"),
        },
        watermark="1 day", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("sum_value").desc(), F.col("user_id").asc()
    )
    return (
        spark.table(sink)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "user_id", "sum_value", "rank")
    )


# ---------------------------------------------------------------------------
# ML pipelines (ml/pipeline.py, ml/metrics.py) — the reference's primary
# workload (SURVEY.md §2.8 M1-M9). Training is not SQL-expressible, so these
# are rows-only entries; every stage is seeded (seed=42) so reruns agree.
# ---------------------------------------------------------------------------

_ML_FEATURES = ["value", "sma10", "mom5", "roc5"]


def _ml_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → native indicator features + lead label, the engine's
    transposition of the reference's FE+label pipeline (stock_minute has no
    driver table; events.value is the series). Indicators share one window
    shuffle on user_id; label is the partitioned lead (Q1 intent mode)."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    events = load(spark, sf_dir, "events")
    d = ind.sma(events, 10, partition_by="user_id", order_by="ts", col="value")
    d = ind.momentum(d, 5, partition_by="user_id", order_by="ts", col="value")
    d = ind.roc(d, 5, partition_by="user_id", order_by="ts", col="value")
    d = win_ops.label_buy_sell(
        d, value_col="value", order_by="ts", partition_by="user_id", mode="lead"
    )
    return d.na.drop(subset=_ML_FEATURES)


@register("ml_rf_metrics")  # model training: no SQL twin, rows-only
def ml_rf_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RandomForest pipeline (M1+M4) on indicator features; returns the
    honestly-named metric rows (Q5): areaUnderROC / accuracy / f1."""
    from big_data_analysis_for_stock_market_data_spark import ml

    fit = ml.train_random_forest(
        _ml_training_frame(spark, sf_dir), _ML_FEATURES,
        num_trees=10, max_depth=5, seed=42,
    )
    return ml.metrics_df(spark, fit.metrics)


@register("ml_rf_confusion")  # rows-only
def ml_rf_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed confusion matrix of the RF predictions (vs the
    reference's sklearn-on-collect, G_2_svm.py:178-181)."""
    from big_data_analysis_for_stock_market_data_spark import ml

    fit = ml.train_random_forest(
        _ml_training_frame(spark, sf_dir), _ML_FEATURES,
        num_trees=10, max_depth=5, seed=42, evaluate=False,
    )
    return ml.confusion_matrix(fit.predictions)


@register("ml_svc_pca_metrics")  # rows-only
def ml_svc_pca_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LinearSVC on scale→PCA features (M2+M3+M8), the reference's
    svm_pca variant (G_2_svm_pca.py:75-122,224-225)."""
    from big_data_analysis_for_stock_market_data_spark import ml

    fit = ml.train_linear_svc(
        _ml_training_frame(spark, sf_dir), _ML_FEATURES,
        transform="pca", pca_k=3, max_iter=10, reg_param=0.1, seed=42,
    )
    return ml.metrics_df(spark, fit.metrics)


@register(
    "ml_pca_variance",
    # exact oracle via the 2x2 closed form: PCA on standardized columns
    # diagonalizes the sample CORRELATION matrix, whose 2x2 eigenvalues
    # are 1 ± |r| — so the explained-variance ratios are (1 ± |r|)/2
    # with r the Pearson correlation from exact-decimal raw sums (the
    # a9_corr_pairs replication pattern). The hashed variance_ratio
    # column is that replicated closed form; the eigensolver's own
    # output enters through a |breeze − closed| < 1e-9 boolean (their
    # difference is ~1e-14; hashing the solver floats directly would
    # gamble on a rounding boundary instead).
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS se,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_quantity AS DECIMAL(13,6))) AS DOUBLE) AS sqq,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(13,6))) AS DOUBLE) AS see,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                      * CAST(l_extendedprice AS DECIMAL(13,6))) AS DOUBLE) AS sqe
      FROM lineitem
    ), r AS (
      SELECT abs((n * sqe - sq * se)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * see - se * se)))
               AS abs_r
      FROM s
    )
    SELECT 0 AS component, ROUND((1.0 + abs_r) / 2.0, 6) AS variance_ratio,
           TRUE AS pca_matches_closed_form
    FROM r
    UNION ALL
    SELECT 1, ROUND((1.0 - abs_r) / 2.0, 6), TRUE FROM r
    """,
)
def ml_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA explained-variance ratios — the reference's k-selection step
    (G_2_rf_pca.py:100-142, 95%-variance cut at p.14), run on its
    correlated-group scenario (two correlated measures, where the
    reference found k=1 at 99.99% variance). The standardize→PCA
    pipeline's ratios must equal the correlation matrix's closed-form
    eigenvalue shares (1 ± |r|)/2: the hashed column replays that
    closed form from exact-decimal sums, and the eigensolver agreement
    rides as a checked boolean. The wider k=4 surface stays pinned in
    tests/test_ml.py."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        pca_explained_variance,
    )

    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice"]
    breeze = pca_explained_variance(li, cols, k=2)
    bdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(breeze)],
        "component int, __breeze double",
    )

    def d18(c):
        return F.col(c).cast("decimal(18,6)")

    def x19(a, b):
        return F.col(a).cast("decimal(19,6)") * F.col(b).cast("decimal(13,6)")

    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d18("l_quantity")).cast("double").alias("sq"),
        F.sum(d18("l_extendedprice")).cast("double").alias("se"),
        F.sum(x19("l_quantity", "l_quantity")).cast("double").alias("sqq"),
        F.sum(x19("l_extendedprice", "l_extendedprice"))
        .cast("double")
        .alias("see"),
        F.sum(x19("l_quantity", "l_extendedprice"))
        .cast("double")
        .alias("sqe"),
    )
    n = F.col("n")
    abs_r = F.abs(
        (n * F.col("sqe") - F.col("sq") * F.col("se"))
        / (
            F.sqrt(n * F.col("sqq") - F.col("sq") * F.col("sq"))
            * F.sqrt(n * F.col("see") - F.col("se") * F.col("se"))
        )
    )
    closed = s.select(abs_r.alias("__abs_r"))
    ratio = F.when(
        F.col("component") == 0, (F.lit(1.0) + F.col("__abs_r")) / F.lit(2.0)
    ).otherwise((F.lit(1.0) - F.col("__abs_r")) / F.lit(2.0))
    return (
        bdf.crossJoin(F.broadcast(closed))
        .select(
            "component",
            F.round(ratio, 6).alias("variance_ratio"),
            (F.abs(F.col("__breeze") - ratio) < F.lit(1e-9)).alias(
                "pca_matches_closed_form"
            ),
        )
        .orderBy("component")
    )


@register("ml_rdd_compat_rf")  # model training: no SQL twin, rows-only
def ml_rdd_compat_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5-M7 via the mllib-shaped compat shim (ml/rdd_compat.py): the
    reference's RDD flow — LabeledPoint lift, trainClassifier(numClasses=2,
    gini, 10 trees, depth 10, bins 32, seed 42), predict, zipped-pair
    metrics (G_2_rf_rdd.py:157-196) — executed entirely on the DataFrame
    engine (no per-row Python, no mllib)."""
    from big_data_analysis_for_stock_market_data_spark.ml import rdd_compat as rc

    frame = _ml_training_frame(spark, sf_dir)
    train, test = frame.randomSplit([0.7, 0.3], seed=42)
    model = rc.train_classifier(
        rc.labeled_points(train, "buy_or_sell", _ML_FEATURES),
        numClasses=2, categoricalFeaturesInfo={}, numTrees=10,
        featureSubsetStrategy="auto", impurity="gini", maxDepth=10,
        maxBins=32, seed=42,
    )
    preds = model.predict(rc.labeled_points(test, "buy_or_sell", _ML_FEATURES))
    pairs = preds.select("label", "prediction")
    rows = [
        (k, round(v, 6))
        for k, v in sorted(
            {**rc.binary_classification_metrics(pairs),
             **rc.multiclass_metrics(pairs)}.items()
        )
    ]
    return spark.createDataFrame(rows, "metric string, value double")


@register("ml_rf_grouped_pca")  # model training: no SQL twin, rows-only
def ml_rf_grouped_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group scale+PCA RF — the reference's rf_pca preprocessing
    (G_2_rf_pca.py:74-90,132-142: 'correlated' and 'non_correlated' column
    groups scaled and PCA-projected separately, model trains on the union).
    The split is DERIVED from a distributed correlation pass
    (ml.correlated_split) instead of the reference's hardcoded lists.
    Output: per-group column counts + honestly-named metric rows (Q5)."""
    from big_data_analysis_for_stock_market_data_spark import ml

    frame = _ml_training_frame(spark, sf_dir)
    corr, non_corr = ml.correlated_split(frame, _ML_FEATURES, threshold=0.8)
    # degenerate splits (all/none correlated) still exercise both chains:
    # fall back to a fixed halving so the entry is stable across SFs
    if not corr or not non_corr:
        corr, non_corr = _ML_FEATURES[:2], _ML_FEATURES[2:]
    fit = ml.train_rf_grouped(
        frame,
        {
            "corr": (corr, "pca", min(2, len(corr))),
            "noncorr": (non_corr, "scale", 0),
        },
        num_trees=10, max_depth=5, seed=42,
    )
    rows = [("n_corr_cols", float(len(corr))),
            ("n_noncorr_cols", float(len(non_corr)))]
    rows += [(k, round(v, 6)) for k, v in sorted(fit.metrics.items())]
    return spark.createDataFrame(rows, "metric string, value double")


@register("ml_gbt_metrics")  # model training: no SQL twin, rows-only
def ml_gbt_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GBTClassifier pipeline (reference M10: imported at G_2_rf_rdd.py:24,
    never called — completed as a first-class estimator); honestly-named
    metric rows (Q5)."""
    from big_data_analysis_for_stock_market_data_spark import ml

    fit = ml.train_gbt(
        _ml_training_frame(spark, sf_dir), _ML_FEATURES,
        max_iter=5, max_depth=3, seed=42,
    )
    return ml.metrics_df(spark, fit.metrics)


@register("ml_cv_rf_grid")  # model selection: no SQL twin, rows-only
def ml_cv_rf_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 3-fold CrossValidator over an RF ParamGridBuilder grid
    (reference M10: imported at G_2_rf_rdd.py:32, never called). Returns
    one row per grid point with its mean held-out AUC."""
    from big_data_analysis_for_stock_market_data_spark import ml

    _, grid_df = ml.cross_validate_rf(
        _ml_training_frame(spark, sf_dir), _ML_FEATURES,
        num_trees_grid=(5, 10), max_depth_grid=(3, 5),
        num_folds=3, parallelism=4, seed=42,
    )
    return grid_df


# ---------------------------------------------------------------------------
# Reference-workload replication (stock.py) + remaining operator surface.
# ---------------------------------------------------------------------------

# SQL twin of the distributed stock fixture (md5 hash mode): the uniform
# stream, the per-symbol decimal-exact prefix sum, the OHLC construction,
# the lead label, and an exact-decimal day-average — regenerated from
# range() in DuckDB. exp/ln differ between the JVM and DuckDB by ~1 ulp on
# ~10% of inputs (measured), so OHLC outputs are rounded to 6dp; every
# aggregate runs on DECIMAL-quantized values so the ulp never compounds.
_STK_U = (
    "((CAST(('0x' || substr(md5({x} || ':' || {salt}), 1, 15)) AS BIGINT)"
    " % 1000000007) / 1000000007.0)"
)


@register(
    "stock_fixture_daily_label",
    oracle=f"""
    WITH base AS (
      SELECT t.range AS id,
             t.range % 4 AS symbol_id,
             t.range // 4 AS i
      FROM range(0, 10000) t
    ),
    stepped AS (
      SELECT *,
             TIMESTAMP '2015-01-05 09:30:00'
               + (i // 390) * INTERVAL 1 DAY
               + (i % 390) * INTERVAL 1 MINUTE AS ts,
             ({_STK_U.format(x="(id + 42)::VARCHAR", salt="1")} - 0.5)
               * 0.002 AS step
      FROM base
    ),
    summed AS (
      SELECT *,
             CAST(SUM(CAST(step AS DECIMAL(28,8))) OVER (
               PARTITION BY symbol_id ORDER BY i) AS DOUBLE) AS cumret
      FROM stepped
    ),
    priced AS (
      SELECT *, exp(ln(100.0 + symbol_id * 10) + cumret) AS close
      FROM summed
    ),
    ohlc AS (
      SELECT *,
             COALESCE(LAG(close) OVER (
               PARTITION BY symbol_id ORDER BY i), close) AS open,
             1.0 + {_STK_U.format(x="(id + 42)::VARCHAR", salt="2")}
               * 0.001 AS spread_hi,
             1.0 - {_STK_U.format(x="(id + 42)::VARCHAR", salt="3")}
               * 0.001 AS spread_lo
      FROM priced
    ),
    bars AS (
      SELECT 'SYM' || symbol_id AS symbol, symbol_id, i, id, ts, open, close,
             GREATEST(open, close) * spread_hi AS high,
             LEAST(open, close) * spread_lo AS low,
             CAST(100 + (CAST(('0x' || substr(md5(id::VARCHAR || ':46'),
                                              1, 15)) AS BIGINT)
                         % 10000) AS INT) AS volume
      FROM ohlc
    )
    SELECT symbol, ts,
           ROUND(open, 6) AS open, ROUND(high, 6) AS high,
           ROUND(low, 6) AS low, ROUND(close, 6) AS close, volume,
           CASE WHEN LEAD(high) OVER (PARTITION BY symbol_id ORDER BY i)
                     > high THEN 1 ELSE 0 END AS buy_or_sell,
           ROUND(CAST(SUM(CAST(close AS DECIMAL(18,6))) OVER (
                   PARTITION BY symbol_id, CAST(ts AS DATE)) AS DOUBLE)
                 / COUNT(close) OVER (
                   PARTITION BY symbol_id, CAST(ts AS DATE)), 6)
             AS avg_close
    FROM bars
    """,
)
def stock_fixture_daily_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed stock-fixture generator (spark.range + hash uniforms
    + decimal-exact prefix sum + OHLC construction — stock.py, FIXTURES.md
    §A) certified end-to-end against a DuckDB regeneration, plus the lead
    label (W3) and an exact-decimal day-average on top. md5 hash mode for
    engine parity; the xxhash64 default is covered by the same code path."""
    from big_data_analysis_for_stock_market_data_spark import stock

    bars = stock.make_stock_fixture(
        spark, n_rows=10_000, n_symbols=4, hash_fn="md5"
    )
    lead_w = Window.partitionBy("symbol").orderBy("date")
    day_w = Window.partitionBy("symbol", "date_only")
    dec = F.col("close").cast("decimal(18,6)")
    return bars.select(
        "symbol",
        F.col("date").alias("ts"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "volume",
        F.when(F.lead("high", 1).over(lead_w) > F.col("high"), 1)
        .otherwise(0)
        .alias("buy_or_sell"),
        F.round(
            F.sum(dec).over(day_w).cast("double")
            / F.count("close").over(day_w),
            6,
        ).alias("avg_close"),
    )


@register(
    "stock_closed_form_indicators",
    # fixture CTE duplicated verbatim from stock_fixture_daily_label (kept
    # inline so neither oracle can drift when the other is edited); on top:
    # the closed-form indicator surface with exact-decimal window sums —
    # variance via the beta trick (c·Σx² − (Σx)² computed in EXACT decimal,
    # one scale-8 round) so Bollinger is deterministic cross-engine
    oracle=f"""
    WITH base AS (
      SELECT t.range AS id,
             t.range % 4 AS symbol_id,
             t.range // 4 AS i
      FROM range(0, 10000) t
    ),
    stepped AS (
      SELECT *,
             TIMESTAMP '2015-01-05 09:30:00'
               + (i // 390) * INTERVAL 1 DAY
               + (i % 390) * INTERVAL 1 MINUTE AS ts,
             ({_STK_U.format(x="(id + 42)::VARCHAR", salt="1")} - 0.5)
               * 0.002 AS step
      FROM base
    ),
    summed AS (
      SELECT *,
             CAST(SUM(CAST(step AS DECIMAL(28,8))) OVER (
               PARTITION BY symbol_id ORDER BY i) AS DOUBLE) AS cumret
      FROM stepped
    ),
    priced AS (
      SELECT *, exp(ln(100.0 + symbol_id * 10) + cumret) AS close
      FROM summed
    ),
    ohlc AS (
      SELECT *,
             COALESCE(LAG(close) OVER (
               PARTITION BY symbol_id ORDER BY i), close) AS open,
             1.0 + {_STK_U.format(x="(id + 42)::VARCHAR", salt="2")}
               * 0.001 AS spread_hi,
             1.0 - {_STK_U.format(x="(id + 42)::VARCHAR", salt="3")}
               * 0.001 AS spread_lo
      FROM priced
    ),
    bars AS (
      SELECT 'SYM' || symbol_id AS symbol, symbol_id, i, ts, open, close,
             GREATEST(open, close) * spread_hi AS high,
             LEAST(open, close) * spread_lo AS low
      FROM ohlc
    ),
    r AS (
      SELECT symbol, symbol_id, i, ts,
             ROUND(close, 6) AS x, ROUND(high, 6) AS h, ROUND(low, 6) AS l
      FROM bars
    ),
    wnd AS (
      SELECT symbol, symbol_id, i, ts, x, h, l,
             CAST(SUM(CAST(x AS DECIMAL(12,6))) OVER f20
                  AS DECIMAL(19,6)) AS s,
             CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
                  OVER f20 AS DECIMAL(26,12)) AS p,
             COUNT(x) OVER f20 AS c,
             MAX(h) OVER f14 AS hh,
             MIN(l) OVER f14 AS ll,
             LAG(x, 10) OVER o AS x10,
             LAG(x, 1) OVER o AS x1
      FROM r
      WINDOW o AS (PARTITION BY symbol_id ORDER BY i),
             f20 AS (PARTITION BY symbol_id ORDER BY i
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             f14 AS (PARTITION BY symbol_id ORDER BY i
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    trs AS (
      SELECT *,
             GREATEST(h, COALESCE(x1, x)) - LEAST(l, COALESCE(x1, x)) AS tr
      FROM wnd
    ),
    atr AS (
      SELECT *,
             CAST(SUM(CAST(tr AS DECIMAL(18,6))) OVER f14b AS DOUBLE)
               / COUNT(tr) OVER f14b AS atr14
      FROM trs
      WINDOW f14b AS (PARTITION BY symbol_id ORDER BY i
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, ts, x AS close,
           CAST(s AS DOUBLE) / c AS sma20,
           CASE WHEN c > 1 THEN CAST(s AS DOUBLE) / c
                + 2 * sqrt(CAST(round(CAST(c AS DECIMAL(4,0)) * p - s * s, 8)
                                AS DOUBLE) / (c * (c - 1))) END AS upperband,
           CASE WHEN c > 1 THEN CAST(s AS DOUBLE) / c
                - 2 * sqrt(CAST(round(CAST(c AS DECIMAL(4,0)) * p - s * s, 8)
                                AS DOUBLE) / (c * (c - 1))) END AS lowerband,
           x - x10 AS mom10,
           100.0 * (x - x10) / NULLIF(x10, 0.0) AS roc10,
           -100.0 * (hh - x) / NULLIF(hh - ll, 0.0) AS willr14,
           100.0 * (x - ll) / NULLIF(hh - ll, 0.0) AS fastk14,
           (h + l + x) / 3.0 AS typprice,
           tr AS trange,
           atr14
    FROM atr
    """,
)
def stock_closed_form_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed-form indicator surface (SMA/Bollinger/MOM/ROC/WILLR/
    fastk/TYPPRICE/TRANGE/ATR) computed on the certified stock fixture and
    hash-verified end-to-end: fixture regeneration + every window formula
    replayed in SQL. Inputs quantized to 6dp (absorbing the fixture's
    documented cross-engine ulp drift); variance via exact-decimal
    c·Σx² − (Σx)² — deterministic Bollinger bands (the beta technique)."""
    from big_data_analysis_for_stock_market_data_spark import stock

    bars = stock.make_stock_fixture(
        spark, n_rows=10_000, n_symbols=4, hash_fn="md5"
    )
    x = F.round(F.col("close"), 6)
    h = F.round(F.col("high"), 6)
    low = F.round(F.col("low"), 6)
    w = Window.partitionBy("symbol").orderBy("date")
    fr20 = w.rowsBetween(-19, 0)
    fr14 = w.rowsBetween(-13, 0)

    xd = x.cast("decimal(12,6)")
    s = F.sum(xd).over(fr20).cast("decimal(16,6)")
    p = F.sum(xd * xd).over(fr20).cast("decimal(26,12)")
    c = F.count(F.col("close")).over(fr20)
    num = (
        (c.cast("decimal(4,0)") * p - s * s)
        .cast("decimal(30,8)").cast("double")
    )
    sma20 = s.cast("double") / c
    sd = F.sqrt(num / (c * (c - 1)))
    hh = F.max(h).over(fr14)
    ll = F.min(low).over(fr14)
    x10 = F.lag(x, 10).over(w)
    x1 = F.lag(x, 1).over(w)
    tr = (
        F.greatest(h, F.coalesce(x1, x)) - F.least(low, F.coalesce(x1, x))
    )
    d = bars.select(
        "symbol", F.col("date").alias("ts"), x.alias("close"),
        sma20.alias("sma20"),
        F.when(c > 1, sma20 + 2 * sd).alias("upperband"),
        F.when(c > 1, sma20 - 2 * sd).alias("lowerband"),
        (x - x10).alias("mom10"),
        F.try_divide(100.0 * (x - x10), F.nullif(x10, F.lit(0.0)))
            .alias("roc10"),
        F.try_divide(-100.0 * (hh - x), F.nullif(hh - ll, F.lit(0.0)))
            .alias("willr14"),
        F.try_divide(100.0 * (x - ll), F.nullif(hh - ll, F.lit(0.0)))
            .alias("fastk14"),
        ((h + low + x) / 3.0).alias("typprice"),
        tr.alias("trange"),
    )
    w2 = Window.partitionBy("symbol").orderBy("ts").rowsBetween(-13, 0)
    atr14 = (
        F.sum(F.col("trange").cast("decimal(18,6)")).over(w2).cast("double")
        / F.count("trange").over(w2)
    )
    return d.withColumn("atr14", atr14)


@register(
    "stock_feature_frame",
    # Full-pipeline oracle on the md5 fixture replay: regenerate the bars
    # (same CTE chain certified by stock_fixture_daily_label), rebuild the
    # lead label, the EXACT-DECIMAL day features (daily_features stages
    # sums in DECIMAL(18,6), so the values are order-free), and the
    # 4-state pandas-ewm recursion feeding macd = (ema5-ema10) -
    # (ema12-ema26). The fixture's exp/ln are libm, so raw prices carry
    # ~1-ulp cross-engine noise; every emitted column absorbs it —
    # ROUND(close,6), integer micro-unit macd, decimal-staged averages.
    # The closed-form indicator surface of the same pipeline is
    # oracle-covered separately by stock_closed_form_indicators.
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT t.range AS id,
             t.range % 2 AS symbol_id,
             t.range // 2 AS i
      FROM range(0, 4000) t
    ),
    stepped AS (
      SELECT *,
             TIMESTAMP '2015-01-05 09:30:00'
               + (i // 390) * INTERVAL 1 DAY
               + (i % 390) * INTERVAL 1 MINUTE AS ts,
             ({_STK_U.format(x="(id + 42)::VARCHAR", salt="1")} - 0.5)
               * 0.002 AS step
      FROM base
    ),
    summed AS (
      SELECT *,
             CAST(SUM(CAST(step AS DECIMAL(28,8))) OVER (
               PARTITION BY symbol_id ORDER BY i) AS DOUBLE) AS cumret
      FROM stepped
    ),
    priced AS (
      SELECT *, exp(ln(100.0 + symbol_id * 10) + cumret) AS close
      FROM summed
    ),
    ohlc AS (
      SELECT *,
             COALESCE(LAG(close) OVER (
               PARTITION BY symbol_id ORDER BY i), close) AS open,
             1.0 + {_STK_U.format(x="(id + 42)::VARCHAR", salt="2")}
               * 0.001 AS spread_hi,
             1.0 - {_STK_U.format(x="(id + 42)::VARCHAR", salt="3")}
               * 0.001 AS spread_lo
      FROM priced
    ),
    bars AS (
      SELECT 'SYM' || symbol_id AS symbol, symbol_id, i, ts,
             CAST(ts AS DATE) AS d, open, close,
             GREATEST(open, close) * spread_hi AS high,
             LEAST(open, close) * spread_lo AS low
      FROM bars_src
    ),
    days AS (
      SELECT symbol_id, d,
             CAST(SUM(CAST(close AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(close) AS avg_close,
             CAST(SUM(CAST(open AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(open) AS avg_open
      FROM bars GROUP BY symbol_id, d
    ),
    days_l AS (
      SELECT *,
             LAG(avg_close) OVER (PARTITION BY symbol_id ORDER BY d)
               AS avg_close_prev_day
      FROM days
    ),
    lbl AS (
      SELECT b.*,
             CASE WHEN LEAD(b.high) OVER (
                    PARTITION BY b.symbol_id ORDER BY b.i) > b.high
                  THEN 1 ELSE 0 END AS buy_or_sell,
             ROW_NUMBER() OVER (
               PARTITION BY b.symbol_id ORDER BY b.i) AS rn
      FROM bars b
    ),
    r AS (
      SELECT symbol_id, rn, close AS x,
             close AS ema5, close AS ema10, close AS e12, close AS e26
      FROM lbl WHERE rn = 1
      UNION ALL
      SELECT b.symbol_id, b.rn, b.close,
             CASE WHEN r.ema5 = b.close THEN r.ema5
                  ELSE ((1.0 - 2.0/6.0) * r.ema5 + (2.0/6.0) * b.close)
                       / ((1.0 - 2.0/6.0) + 2.0/6.0) END,
             CASE WHEN r.ema10 = b.close THEN r.ema10
                  ELSE ((1.0 - 2.0/11.0) * r.ema10 + (2.0/11.0) * b.close)
                       / ((1.0 - 2.0/11.0) + 2.0/11.0) END,
             CASE WHEN r.e12 = b.close THEN r.e12
                  ELSE ((1.0 - 2.0/13.0) * r.e12 + (2.0/13.0) * b.close)
                       / ((1.0 - 2.0/13.0) + 2.0/13.0) END,
             CASE WHEN r.e26 = b.close THEN r.e26
                  ELSE ((1.0 - 2.0/27.0) * r.e26 + (2.0/27.0) * b.close)
                       / ((1.0 - 2.0/27.0) + 2.0/27.0) END
      FROM lbl b JOIN r ON b.symbol_id = r.symbol_id AND b.rn = r.rn + 1
    )
    SELECT l.symbol, l.ts, ROUND(l.close, 6) AS close, l.buy_or_sell,
           CAST(round(((r.ema5 - r.ema10) - (r.e12 - r.e26)) * 1000000.0)
                AS BIGINT) AS macd_micro,
           dl.avg_close, dl.avg_open, dl.avg_close_prev_day
    FROM lbl l
    JOIN r ON r.symbol_id = l.symbol_id AND r.rn = l.rn
    JOIN days_l dl ON dl.symbol_id = l.symbol_id AND dl.d = l.d
    """.replace("FROM bars_src", "FROM ohlc"),
)
def stock_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full FE+label pipeline (G_2_rf_nordd_fe.py:47-313)
    on the deterministic synthetic stock fixture — fused single-shuffle
    form; fused==join-back parity is asserted in tests/test_stock.py.
    ORACLE-CHECKED (was rows-only): the emitted slice is the pipeline's
    bit-exact-replayable surface — fixture, lead label, exact-decimal day
    features, and the sequential pandas-ewm macd; the pandas-rolling
    closed-form block is hash-covered by stock_closed_form_indicators and
    parity-pinned in test_indicators. md5 hash mode for engine parity
    (xxhash64 default exercises the identical code path)."""
    from big_data_analysis_for_stock_market_data_spark import stock

    bars = stock.make_stock_fixture(
        spark, n_rows=4_000, n_symbols=2, hash_fn="md5"
    )
    d = stock.feature_frame(bars)
    # macd in integer micro-units: the fixture's exp/ln go through libm,
    # so RAW doubles differ at 1 ulp between engines (~1e-14 abs) — the
    # fixed-point emission absorbs that exactly like the closed-form
    # entries' ROUND(...,6) does for prices.
    return d.select(
        "symbol", F.col("date").alias("ts"),
        F.round("close", 6).alias("close"), "buy_or_sell",
        F.round(F.col("macd") * 1e6, 0).cast("long").alias("macd_micro"),
        "avg_close", "avg_open", "avg_close_prev_day",
    )


@register(
    "skew_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           {_sql_dsum('l_quantity', 'sum_qty')},
           COUNT(*) AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,8)))
                      AS DOUBLE)
                 / COUNT(l_extendedprice), 6) AS avg_price,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation on a 3-distinct-key grouping (the
    hot-key shape): salt spreads each key over 16 reducers, merge stage
    recombines. Decimal sums make the re-association value-identical to
    the direct plan — the oracle is the plain GROUP BY."""
    from big_data_analysis_for_stock_market_data_spark.operators.skew import (
        salted_group_agg,
    )

    li = load(spark, sf_dir, "lineitem")
    out = salted_group_agg(
        li, "l_returnflag",
        {
            "sum_qty": ("sum", "l_quantity"),
            "n_rows": ("count", "l_quantity"),
            "avg_price": ("avg", "l_extendedprice"),
            "min_qty": ("min", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
        },
        salt_buckets=16,
    )
    # 6dp on the ratio: DuckDB's DECIMAL(38,8)->DOUBLE cast is not
    # correctly rounded once the exact total exceeds 2^52 units (observed
    # at sf0.1: 1.5e-11 drift on a 5e4-scale avg); the sums themselves
    # stay decimal-exact on both sides
    return out.withColumn("avg_price", F.round("avg_price", 6)).orderBy(
        "l_returnflag"
    )


@register(
    "o3_random_split",
    # property oracle: randomSplit's Bernoulli thresholds are Spark's
    # XORShiftRandom — no SQL twin exists BY DESIGN (that's what
    # o3_hash_split is for). What IS checkable: the corpus count, the
    # partition property (train + test == total, no row lost or
    # duplicated), and the seeded split fraction landing in an 8σ
    # Binomial(n, 0.7) envelope around 0.7 (floored at ±0.03, its value
    # at sf0.01 — the fixed 0.03 was only ~2.5σ at sf0.001's 1,500
    # orders (σ = sqrt(0.21/1500) ≈ 0.0118) and the seeded draw landed
    # outside it; deterministic anyway for a fixed seed + file layout).
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           TRUE AS split_complete,
           TRUE AS train_frac_ok
    FROM orders
    """,
)
def o3_random_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 seeded randomSplit: the engine standard is ALWAYS-seeded splits
    (the reference left G_2_rf_nordd.py:63 unseeded). Emits the corpus
    count plus the two facts a split must satisfy — completeness
    (train + test == total) and the seeded 0.7 fraction envelope — as
    oracle-checked booleans; per-split counts stay available via
    o3_hash_split's exactly-replayable twin."""
    orders = load(spark, sf_dir, "orders")
    train, test = orders.randomSplit([0.7, 0.3], seed=42)
    # counts stay in the plan as broadcast 1-row aggregates (no driver
    # .count() scalars)
    split_counts = (
        train.select(F.lit(1).alias("__t"))
        .unionAll(test.select(F.lit(0).alias("__t")))
        .agg(
            F.count(F.lit(1)).alias("__n_split"),
            F.sum("__t").alias("__n_train"),
        )
    )
    total = orders.agg(F.count(F.lit(1)).alias("n_total"))
    return total.crossJoin(F.broadcast(split_counts)).select(
        "n_total",
        (F.col("__n_split") == F.col("n_total")).alias("split_complete"),
        (
            F.abs(
                F.col("__n_train").cast("double")
                / F.col("n_total").cast("double")
                - F.lit(0.7)
            )
            # n-adaptive 8-sigma envelope, floored at the historical 0.03
            # (= 8 sigma at the driver's sf0.01): the fixed 0.03 was only
            # ~2.5 sigma at sf0.001's 1.5k orders (sigma ~ 0.0118) and
            # the seeded draw landed outside it
            < F.greatest(
                F.lit(0.03),
                F.lit(8.0) * F.sqrt(F.lit(0.21) / F.col("n_total")),
            )
        ).alias("train_frac_ok"),
    )


@register(
    "o3_hash_split",
    # exact SQL twin: the bucket is md5(key ':' seed) first-8-hex-digits
    # mod 10000 in both engines — the reproducible-under-repartitioning
    # alternative to randomSplit's partition-layout-dependent sampling.
    oracle="""
    SELECT CASE WHEN b < 7000 THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS n_rows
    FROM (
      SELECT ('0x' || substr(md5(o_orderkey::VARCHAR || ':42'), 1, 8))::BIGINT
             % 10000 AS b
      FROM orders
    )
    GROUP BY 1
    """,
)
def o3_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 deterministic hash split (ml.pipeline.hash_split): split
    membership is a pure function of the row key, so it survives
    repartitioning/recomputation — the 100 TB-safe form of randomSplit,
    and the one a SQL oracle can verify exactly."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import split_bucket

    orders = load(spark, sf_dir, "orders")
    b = split_bucket(F.col("o_orderkey"), seed=42)
    return (
        orders.select(
            F.when(b < 7000, "train").otherwise("test").alias("split")
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "s1_csv_roundtrip",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum('l_quantity', 'sum_qty')},
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV source fidelity: parquet -> CSV (header) -> explicit-schema
    CSV scan -> aggregate must equal the oracle on the original table.
    Exercises the engine's no-inferSchema policy (Q6: inference costs a
    second full pass)."""
    import tempfile

    from pyspark.sql import types as T

    from big_data_analysis_for_stock_market_data_spark.sources.io import read_csv

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    out_dir = tempfile.mkdtemp(prefix="engine_csv_rt_")
    li.write.mode("overwrite").option("header", "true").csv(out_dir)
    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    back = read_csv(spark, out_dir, schema=schema)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity"), "sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "merge_latest_events",
    # window-row_number twin of the max_by aggregate: same survivor because
    # the order tuple (ts DESC, event_id DESC) is a total order per key
    oracle="""
    SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS last_ts,
           value AS last_value,
           event_id AS last_event_id
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def merge_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 upsert resolution: latest event per (user, type) via a
    max_by(struct) hash aggregate — map-side combine, one shuffled candidate
    per partition-key instead of the window formulation's full history
    shuffle (operators/aggregates.latest_by_key)."""
    ev = load(spark, sf_dir, "events")
    out = agg_ops.latest_by_key(
        ev, keys=["user_id", "event_type"], order=["ts", "event_id"],
        payload=["ts", "value", "event_id"],
    )
    return out.select(
        "user_id", "event_type",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        F.col("event_id").alias("last_event_id"),
    )


_SCD2_ORACLE_BODY = """
      SELECT user_id, event_type, value, event_id,
             CAST(ts AS TIMESTAMP) AS valid_from,
             CAST(lead(ts) OVER w AS TIMESTAMP) AS valid_to,
             lead(ts) OVER w IS NULL AS is_current
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
"""


@register(
    "merge_scd2_history",
    oracle=f"SELECT * FROM ({_SCD2_ORACLE_BODY})",
)
def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 upsert resolution: every event becomes an effective-dated
    version (valid_from/valid_to/is_current) per (user, type) — the
    versioned complement of merge_latest_events. Key-partitioned window,
    (ts, event_id) total order for deterministic boundaries
    (operators/aggregates.scd2_history)."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.scd2_history(
        ev, keys=["user_id", "event_type"], order=["ts", "event_id"],
        payload=["value", "event_id"],
    ).select(
        "user_id", "event_type", "value", "event_id",
        "valid_from", "valid_to", "is_current",
    )


@register(
    "scd2_snapshot_asof",
    oracle=f"""
    SELECT * FROM ({_SCD2_ORACLE_BODY}) h
    WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
    """,
)
def scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time read over the SCD-2 history: the table exactly as it
    stood mid-month — one live version per key that existed by then. The
    as-of predicate is a pure pushed-down filter over the history
    (operators/aggregates.snapshot_as_of)."""
    ev = load(spark, sf_dir, "events")
    hist = agg_ops.scd2_history(
        ev, keys=["user_id", "event_type"], order=["ts", "event_id"],
        payload=["value", "event_id"],
    ).select(
        "user_id", "event_type", "value", "event_id",
        "valid_from", "valid_to", "is_current",
    )
    return agg_ops.snapshot_as_of(hist, "2024-01-15 12:00:00")


@register(
    "a10_groupwise_ols",
    # bit-exact by integer quantization: x = whole hours since 2024-01-01
    # (integer division of epoch micros), y = value in cents (round half
    # away from zero — same rule both engines). All moments are exact
    # 64-bit sums; num/den << 2^53 convert exactly to double; the final
    # IEEE divisions are then bit-identical. No rounding of the output.
    oracle="""
    WITH q AS (
      SELECT user_id,
             (epoch_us(CAST(ts AS TIMESTAMP))
              - epoch_us(TIMESTAMP '2024-01-01')) // 3600000000 AS x,
             CAST(round(value * 100.0) AS BIGINT) AS y
      FROM events
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM q GROUP BY user_id
    )
    SELECT user_id, n,
           CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
           (CAST(sy AS DOUBLE)
            - (CASE WHEN n >= 2 AND (n * sxx - sx * sx) <> 0
                    THEN CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE) END)
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
    FROM m
    ORDER BY user_id
    """,
)
def a10_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-group linear regression: each user's value trend
    (cents per hour) fit by closed-form normal equations over exact integer
    moments — one hash aggregate, 5 longs of state per group regardless of
    group size (operators/aggregates.groupwise_ols). The grouped-ML shape
    (per-entity trend fitting) without any per-group iteration."""
    ev = load(spark, sf_dir, "events")
    origin = F.lit("2024-01-01 00:00:00").cast("timestamp")
    x = F.floor(
        (F.unix_micros(F.col("ts")) - F.unix_micros(origin)) / F.lit(3_600_000_000)
    )
    y = F.round(F.col("value") * 100.0, 0)
    return agg_ops.groupwise_ols(ev, ["user_id"], x, y).orderBy("user_id")


@register(
    "a11_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT s1.user_id,
           CAST(t1 AS TIMESTAMP) AS step1_ts,
           CAST(t2 AS TIMESTAMP) AS step2_ts,
           CAST(t3 AS TIMESTAMP) AS step3_ts,
           1 + CAST(t2 IS NOT NULL AS INT) + CAST(t3 IS NOT NULL AS INT)
             AS steps_reached
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    ORDER BY s1.user_id
    """,
)
def a11_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: earliest
    completion chain per user, strictly-increasing timestamps, null once
    the chain breaks (operators/aggregates.funnel_steps). One map-side
    combinable min-aggregate per step + key-equi joins — no event-history
    window, no pair explosion."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.funnel_steps(
        ev, keys=["user_id"], ts_col="ts", step_col="event_type",
        steps=["view", "click", "purchase"],
    ).orderBy("user_id")


@register(
    "ml_auc_exact",
    # Mann-Whitney rank AUC, all-integer until one final division: doubled
    # average rank per tie group keeps everything integral; magnitudes
    # <= 2·N² so the doubles are exact
    oracle="""
    WITH g AS (
      SELECT l_extendedprice AS s, COUNT(*) AS cnt,
             SUM(CAST(l_returnflag = 'R' AS BIGINT)) AS npos
      FROM lineitem GROUP BY l_extendedprice
    ),
    r AS (
      SELECT npos, cnt,
             2 * (COALESCE(SUM(cnt) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + 1) + cnt - 1 AS ar2
      FROM g
    )
    SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
           CAST(SUM(cnt - npos) AS BIGINT) AS n_neg,
           CAST(SUM(npos * ar2) - SUM(npos) * (SUM(npos) + 1) AS DOUBLE)
             / (2.0 * CAST(SUM(npos) * SUM(cnt - npos) AS DOUBLE)) AS auc
    FROM r
    """,
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC of l_extendedprice as a predictor of
    returned lineitems — the evaluator internal (Mann-Whitney U) as a
    first-class distributed op (ml/metrics.exact_auc): per-score tie
    groups, rank prefix over the distinct-score table only, bit-exact
    integer arithmetic until one final division."""
    from big_data_analysis_for_stock_market_data_spark.ml.metrics import exact_auc

    li = load(spark, sf_dir, "lineitem")
    return exact_auc(
        li.select("l_extendedprice", (F.col("l_returnflag") == "R").alias("y")),
        "l_extendedprice", "y",
    )


@register(
    "merge_cdc_apply",
    # events as a synthetic change stream: 'signup' inserts, 'error' is the
    # tombstone, everything else updates. Survivor = latest change per
    # (user, type-class is irrelevant — keyed on user_id only); users whose
    # LAST change is a tombstone vanish.
    oracle="""
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS changed_at,
           value AS last_value,
           event_id AS last_event_id
    FROM (
      SELECT *,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I' ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t
    WHERE rn = 1 AND op <> 'D'
    ORDER BY user_id
    """,
)
def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (operators/aggregates.apply_cdc): the event stream read
    as inserts/updates/deletes collapses to final table state — latest
    change wins per user, tombstoned users drop out. One max_by(struct)
    hash aggregate; the third member of the merge family after SCD-1
    (latest_by_key) and SCD-2 (scd2_history)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "op",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U"),
    )
    out = agg_ops.apply_cdc(
        ev, keys=["user_id"], order=["ts", "event_id"],
        payload=["ts", "value", "event_id"],
    )
    return out.select(
        "user_id",
        F.col("ts").alias("changed_at"),
        F.col("value").alias("last_value"),
        F.col("event_id").alias("last_event_id"),
    ).orderBy("user_id")


@register(
    "scd2_temporal_join",
    # per-click lookup of the purchase-version valid at click time — the
    # point-in-time join that prevents future-leakage
    oracle="""
    WITH hist AS (
      SELECT user_id, value, event_id,
             CAST(ts AS TIMESTAMP) AS valid_from,
             CAST(lead(ts) OVER w AS TIMESTAMP) AS valid_to
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT c.event_id AS click_id, c.user_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           h.value AS purchase_value,
           h.valid_from AS purchase_version_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    LEFT JOIN hist h
      ON h.user_id = c.user_id
     AND h.valid_from <= CAST(c.ts AS TIMESTAMP)
     AND (h.valid_to IS NULL OR h.valid_to > CAST(c.ts AS TIMESTAMP))
    ORDER BY click_id
    """,
)
def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each click joined to the purchase-history
    version valid AT the click's own timestamp (no future leakage) —
    scd2_history composed with temporal_join
    (operators/aggregates.temporal_join). Equi-shuffle on user_id with the
    validity range as residual predicate."""
    ev = load(spark, sf_dir, "events")
    hist = agg_ops.scd2_history(
        ev.filter(F.col("event_type") == "purchase"),
        keys=["user_id"], order=["ts", "event_id"], payload=["value", "event_id"],
    ).select("user_id", "value", "valid_from", "valid_to")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    joined = agg_ops.temporal_join(clicks, hist, ["user_id"], "click_ts")
    return joined.select(
        "click_id", "user_id", "click_ts",
        F.col("value").alias("purchase_value"),
        F.col("valid_from").alias("purchase_version_ts"),
    ).orderBy("click_id")


@register(
    "j5_salted_join",
    # the salt only scatters placement, so the oracle is the PLAIN join
    oracle=f"""
    SELECT s.s_nationkey,
           COUNT(*) AS n_items,
           {_sql_dsum('l.l_extendedprice', 'sum_price')}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey
    ORDER BY s.s_nationkey
    """,
)
def j5_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi join (operators/skew.salted_join): the fact
    side salts each row deterministically, the supplier dim replicates per
    salt, and the join runs on (key, salt) so one hot supplier spreads
    over 8 reducers. Value-identical to the plain join by construction."""
    from big_data_analysis_for_stock_market_data_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, on="l_suppkey", salt_buckets=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
        .orderBy("s_nationkey")
    )


@register(
    "j6_binned_range_join",
    # value bands from supplier keys: [k*5, k*5+7.5) — all binary
    # fractions, so lo/hi/bin arithmetic is exact in both engines; the
    # binned plan must equal the plain theta join row-for-row
    oracle="""
    SELECT e.event_id, s.s_suppkey, e.value,
           CAST(s.s_suppkey * 5.0 AS DOUBLE) AS band_lo
    FROM events e
    JOIN supplier s
      ON e.value >= s.s_suppkey * 5.0
     AND e.value <  s.s_suppkey * 5.0 + 7.5
    ORDER BY e.event_id, s.s_suppkey
    """,
)
def j6_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via binning (operators/joins.
    binned_range_join): intervals explode to covered bins, points map to
    one bin, and the match runs as an EQUI join on the bin key with the
    exact range predicate as residual — the distributed form of a range
    join (a pure range predicate would force a |left| x |right|
    nested-loop). Overlapping bands exercise multi-match; each match
    surfaces exactly once without dedup."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_suppkey") * 5.0).alias("band_lo"),
        (F.col("s_suppkey") * 5.0 + 7.5).alias("band_hi"),
    )
    out = join_ops.binned_range_join(
        ev, sup, "value", "band_lo", "band_hi", bin_width=5.0
    )
    return out.select("event_id", "s_suppkey", "value", "band_lo").orderBy(
        "event_id", "s_suppkey"
    )


@register(
    "seq_user_event_export",
    # array_agg(... ORDER BY) twin: the (ts, event_id) order is total per
    # user, so the joined sequence string is deterministic
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS event_seq
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def seq_user_event_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence export: each user's time-ordered event-type
    chain as one string — the session-sequence feature a sequence-model
    training pipeline emits per entity. One hash aggregate
    (collect_list of (ts, event_id, type) structs), then a JVM-side
    array_sort + transform + concat_ws — the ordering happens inside each
    group's collected array, never as a global sort."""
    ev = load(spark, sf_dir, "events")
    packed = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("__seq"),
    )
    return packed.select(
        "user_id", "n_events",
        F.concat_ws(
            ">", F.transform(F.col("__seq"), lambda x: x["event_type"])
        ).alias("event_seq"),
    ).orderBy("user_id")


@register(
    "a12_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.day) AS day_offset,
           COUNT(*) AS n_users
    FROM act a JOIN first f ON f.user_id = a.user_id
    GROUP BY f.cohort_day, day_offset
    ORDER BY f.cohort_day, day_offset
    """,
)
def a12_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-activity day,
    counted on each later day they return
    (operators/aggregates.cohort_retention) — two key-grouped aggregates
    + one key join, no history window."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.cohort_retention(ev, key="user_id", ts_col="ts")


@register(
    "w_transition_matrix",
    oracle="""
    SELECT from_state, to_state, COUNT(*) AS n FROM (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_state,
             event_type AS to_state
      FROM events
    ) WHERE from_state IS NOT NULL
    GROUP BY from_state, to_state
    ORDER BY from_state, to_state
    """,
)
def w_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition counts (the Markov next-event
    matrix): key-partitioned lag + grouped count
    (operators/aggregates.transition_matrix)."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.transition_matrix(
        ev, key="user_id", ts_col="ts", state_col="event_type",
        order=["ts", "event_id"],
    )


@register(
    "w_rolling_active_users",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    g AS (
      SELECT user_id, day,
             CASE WHEN lag(day) OVER w IS NULL
                    OR date_diff('day', lag(day) OVER w, day) >= 7
                  THEN 1 ELSE 0 END AS brk
      FROM days
      WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    isl AS (
      SELECT user_id, day,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY day) AS island
      FROM g
    ),
    iv AS (
      SELECT user_id, island, MIN(day) AS s, MAX(day) AS e
      FROM isl GROUP BY user_id, island
    ),
    deltas AS (
      SELECT s AS day, 1 AS d FROM iv
      UNION ALL
      SELECT e + 7, -1 FROM iv
    ),
    agg AS (SELECT day, SUM(d) AS dd FROM deltas GROUP BY day)
    SELECT day,
           CAST(SUM(dd) OVER (ORDER BY day) AS BIGINT) AS active_count
    FROM agg
    ORDER BY day
    """,
)
def w_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active-user count as a step function — no
    per-window COUNT DISTINCT: gaps-and-islands coverage intervals per
    user, ±1 deltas at interval boundaries, one two-phase prefix sum over
    delta days in key-range buckets, planned with no job
    (operators/aggregates.rolling_active_counts)."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.rolling_active_counts(ev, key="user_id", ts_col="ts",
                                         window_days=7)


@register(
    "a14_abc_classification",
    # Pareto/ABC: parts ranked by exact-decimal revenue, cumulative share
    # via window sum of the SAME decimals (exact), classes at 60%/85%.
    # Share division happens once in double on identical inputs.
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, CAST(r AS DOUBLE) AS revenue,
             CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(SUM(r) OVER () AS DOUBLE) AS cum_share
      FROM rev
    )
    SELECT l_partkey, revenue,
           cum_share,
           CASE WHEN cum_share <= 0.6 THEN 'A'
                WHEN cum_share <= 0.85 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    ORDER BY l_partkey
    """,
)
def a14_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    classed by cumulative revenue share (A: top 60%, B: to 85%, C: tail).
    The ranking window runs over |parts| aggregate rows, not line items;
    shares divide exact-decimal sums so both engines agree bit-for-bit."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).alias("__r")
    )
    w = Window.orderBy(F.col("__r").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_share = (
        F.sum("__r").over(w).cast("double")
        / F.sum("__r").over(total).cast("double")
    )
    out = rev.select(
        "l_partkey",
        F.col("__r").cast("double").alias("revenue"),
        cum_share.alias("cum_share"),
    ).withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.6, "A")
        .when(F.col("cum_share") <= 0.85, "B")
        .otherwise("C"),
    )
    return out.orderBy("l_partkey")


@register(
    "a15_basket_pairs",
    # co-occurrence mining: part pairs bought in the same order, with
    # support counts — all integers, pair explosion bounded by per-order
    # line counts (the per-key quadratic is the per-order basket, ~7 rows)
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM parts a JOIN parts b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 3
    ORDER BY part_a, part_b
    """,
)
def a15_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 3
    orders. The self-join is keyed on the order — the quadratic blowup is
    per-basket (a handful of lines), never corpus-wide; the grouped count
    shuffles one row per surviving pair."""
    li = load(spark, sf_dir, "lineitem")
    parts = li.select("l_orderkey", "l_partkey").distinct()
    a = parts.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = parts.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
        .orderBy("part_a", "part_b")
    )


@register(
    "a24_association_rules",
    # directed rules over the support>=3 pairs: confidence and lift as
    # round(ratio-of-exact-ints * 1e9) -> BIGINT — double-to-integer
    # rounding of identical IEEE expressions is engine-portable
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM parts),
    item AS (
      SELECT l_partkey, COUNT(*) AS sup_i FROM parts GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS sup_ab
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 3
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent, sup_ab FROM pair
      UNION ALL
      SELECT pb AS antecedent, pa AS consequent, sup_ab FROM pair
    )
    SELECT r.antecedent, r.consequent, r.sup_ab,
           ia.sup_i AS sup_ante, ic.sup_i AS sup_cons,
           CAST(round(CAST(r.sup_ab AS DOUBLE) * 1000000000.0 / ia.sup_i)
                AS BIGINT) AS confidence_nano,
           CAST(round(CAST(r.sup_ab AS DOUBLE) * n.n_baskets
                      * 1000000000.0 / (ia.sup_i * ic.sup_i))
                AS BIGINT) AS lift_nano
    FROM rules r
    JOIN item ia ON ia.l_partkey = r.antecedent
    JOIN item ic ON ic.l_partkey = r.consequent
    CROSS JOIN n
    ORDER BY antecedent, consequent
    """,
)
def a24_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over the basket pairs (a15 continued):
    directed rules with support, confidence = sup(a,b)/sup(a), and lift =
    conf / P(b) — both emitted as round(ratio * 1e9) integers so the
    exact-integer-ratio arithmetic hashes identically in any engine.
    Basket count enters as a broadcast 1-row aggregate; the pair
    explosion stays per-order-bounded exactly as in a15."""
    li = load(spark, sf_dir, "lineitem")
    parts = li.select("l_orderkey", "l_partkey").distinct()
    parts = parts.localCheckpoint(eager=True)  # 4 consumers below
    n = parts.agg(
        F.count_distinct("l_orderkey").alias("__n_baskets")
    )
    item = parts.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("sup_i"))
    a = parts.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = parts.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= 3)
    )
    rules = pair.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"), "sup_ab",
    ).unionByName(
        pair.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"), "sup_ab",
        )
    )
    ia = item.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("sup_i").alias("sup_ante"),
    )
    ic = item.select(
        F.col("l_partkey").alias("consequent"),
        F.col("sup_i").alias("sup_cons"),
    )
    out = (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n))
    )
    conf = F.round(
        F.col("sup_ab").cast("double") * 1e9 / F.col("sup_ante"), 0
    ).cast("long")
    lift = F.round(
        F.col("sup_ab").cast("double") * F.col("__n_baskets") * 1e9
        / (F.col("sup_ante") * F.col("sup_cons")),
        0,
    ).cast("long")
    return out.select(
        "antecedent", "consequent", "sup_ab", "sup_ante", "sup_cons",
        conf.alias("confidence_nano"), lift.alias("lift_nano"),
    ).orderBy("antecedent", "consequent")


@register(
    "ml_string_index",
    # deterministic StringIndexer: index = dense frequency rank with an
    # explicit (freq DESC, value ASC) total order — pure integers
    oracle="""
    WITH vocab AS (
      SELECT event_type, COUNT(*) AS freq FROM events GROUP BY event_type
    ),
    mapping AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY freq DESC, event_type) - 1
               AS event_type_idx
      FROM vocab
    )
    SELECT e.event_id, e.event_type, m.event_type_idx
    FROM events e JOIN mapping m USING (event_type)
    ORDER BY e.event_id
    """,
)
def ml_string_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic StringIndexer twin (ml/pipeline.string_index):
    category -> dense index by (frequency DESC, value ASC) — Spark ML's
    frequencyDesc ordering with the tie-break made a pure function of
    the data (the ML stage's tie order depends on partition layout).
    Vocab count + |vocab|-row rank window + broadcast join back."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import string_index

    ev = load(spark, sf_dir, "events")
    out = string_index(ev, "event_type")
    return out.select("event_id", "event_type", "event_type_idx").orderBy(
        "event_id"
    )


@register(
    "a16_rfm_segments",
    # per-customer R/F/M terciles: boundaries = exact interpolated 33/67th
    # percentiles rounded once to 6dp (identical both engines); score =
    # 1 + count of boundaries <= value. Monetary uses exact-decimal sums.
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT round(quantile_cont(recency_days, 1.0/3), 6) AS r1,
             round(quantile_cont(recency_days, 2.0/3), 6) AS r2,
             round(quantile_cont(frequency, 1.0/3), 6) AS f1,
             round(quantile_cont(frequency, 2.0/3), 6) AS f2,
             round(quantile_cont(monetary, 1.0/3), 6) AS m1,
             round(quantile_cont(monetary, 2.0/3), 6) AS m2
      FROM cust
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           1 + CAST(recency_days >= r1 AS INT)
             + CAST(recency_days >= r2 AS INT) AS r_score,
           1 + CAST(frequency >= f1 AS INT)
             + CAST(frequency >= f2 AS INT) AS f_score,
           1 + CAST(monetary >= m1 AS INT)
             + CAST(monetary >= m2 AS INT) AS m_score
    FROM cust, b
    ORDER BY o_custkey
    """,
)
def a16_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order, vs the
    corpus max date), frequency (order count), monetary (exact-decimal
    spend), each scored 1-3 by exact tercile boundaries (two control-plane
    doubles per axis, binning as a pure projection — the ml_quantile_bins
    machinery applied per axis)."""
    o = load(spark, sf_dir, "orders")
    # corpus max date and tercile bounds both stay IN the plan as
    # broadcast 1-row aggregates — no .first() driver scalars
    gmax = o.agg(F.max(F.to_date("o_orderdate")).alias("__gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "o_custkey",
            F.datediff("__gmax", "__last").alias("recency_days"),
            "frequency", "monetary",
        )
        # per-customer frame feeds BOTH the tercile bounds and the final
        # scoring projection; checkpoint so the orders scan + aggregate
        # runs once (r08: was 4 scans / 9 exchanges, now 2 / 4)
        .localCheckpoint(eager=True)
    )
    bounds = cust.agg(
        *[
            F.round(F.percentile(c, F.lit(q)), 6).alias(f"__{c}_{i}")
            for c in ("recency_days", "frequency", "monetary")
            for i, q in ((1, 1.0 / 3), (2, 2.0 / 3))
        ]
    )

    def score(col: str) -> Column:
        return (
            1
            + (F.col(col) >= F.col(f"__{col}_1")).cast("int")
            + (F.col(col) >= F.col(f"__{col}_2")).cast("int")
        )

    return (
        cust.crossJoin(F.broadcast(bounds))
        .select(
            "o_custkey", "recency_days", "frequency", "monetary",
            score("recency_days").alias("r_score"),
            score("frequency").alias("f_score"),
            score("monetary").alias("m_score"),
        )
        .orderBy("o_custkey")
    )


@register(
    "a17_zscore_outliers",
    # bit-exact z-score gate: per-user mean and variance from integer
    # cents moments (n·Σx² − (Σx)² — exact longs << 2^53), σ via IEEE
    # sqrt on identical doubles, flag |x·n − Σx| > 2·n·σ_scaled avoided by
    # comparing in the same double algebra on both sides
    oracle="""
    WITH q AS (
      SELECT event_id, user_id,
             CAST(round(value * 100.0) AS BIGINT) AS c
      FROM events
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(c) AS BIGINT) AS sx,
             CAST(SUM(c * c) AS BIGINT) AS sxx
      FROM q GROUP BY user_id
    )
    SELECT q.event_id, q.user_id,
           CAST(q.c AS DOUBLE) / 100.0 AS value_cents,
           (CAST(q.c AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.n)
             / sqrt((m.n * m.sxx - m.sx * m.sx)
                    / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS zscore
    FROM q JOIN m ON m.user_id = q.user_id
    WHERE m.n >= 3
      AND (m.n * m.sxx - m.sx * m.sx) > 0
      AND abs(CAST(q.c AS DOUBLE) - CAST(m.sx AS DOUBLE) / m.n)
          > 2.0 * sqrt((m.n * m.sxx - m.sx * m.sx)
                       / (CAST(m.n AS DOUBLE) * (m.n - 1)))
    ORDER BY q.event_id
    """,
)
def a17_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier flagging: events more than 2 sample standard
    deviations from their user's mean. Moments are exact integer cents
    (the groupwise_ols trick), so mean/σ/z are built from identical
    doubles in any engine — the flag boundary cannot flip. One grouped
    aggregate + one broadcast-or-hash join back; no window."""
    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_id", "user_id",
        F.round(F.col("value") * 100.0, 0).cast("long").alias("__c"),
    )
    m = q.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__c").alias("__sx"),
        F.sum(F.col("__c") * F.col("__c")).alias("__sxx"),
    )
    j = q.join(m, "user_id")
    n = F.col("__n")
    num = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    var = num / (n.cast("double") * (n - 1))
    mean = F.col("__sx").cast("double") / n
    dev = F.col("__c").cast("double") - mean
    z = dev / F.sqrt(var)
    return (
        j.filter((n >= 3) & (num > 0) & (F.abs(dev) > 2.0 * F.sqrt(var)))
        .select(
            "event_id", "user_id",
            (F.col("__c").cast("double") / 100.0).alias("value_cents"),
            z.alias("zscore"),
        )
        .orderBy("event_id")
    )


def _copurchase_edges(baskets: DataFrame) -> DataFrame:
    """The co-purchase part graph every ``g*`` entry and the graph decade
    folds run on: ``baskets`` is (l_orderkey, l_partkey) rows, plus any
    other columns (``copy_id``), which become keys of every join and
    group. Distinct (order, part) rows self-join on the order, each
    unordered part pair is kept once as u < v, and pairs bought together
    in at least two orders are the edges (keys…, u, v). Checkpointed:
    every caller reads the edge list more than once, and the distinct +
    self-join + support lineage would otherwise run once per reader."""
    keys = [c for c in baskets.columns if c not in ("l_orderkey", "l_partkey")]
    parts = baskets.distinct()
    a = parts.select("l_orderkey", *keys, F.col("l_partkey").alias("u"))
    b = parts.select("l_orderkey", *keys, F.col("l_partkey").alias("v"))
    return (
        a.join(b, ["l_orderkey", *keys])
        .filter(F.col("u") < F.col("v"))
        .groupBy(*keys, "u", "v")
        .agg(F.count(F.lit(1)).alias("__sup"))
        .filter(F.col("__sup") >= 2)
        .select(*keys, "u", "v")
        .localCheckpoint(eager=True)
    )


@register(
    "g1_triangle_count",
    # triangles on the co-purchase graph: edges (a<b) from basket pairs
    # with support >= 2; each triangle counted once via a<b<c ordering
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    )
    SELECT COUNT(*) AS n_triangles,
           (SELECT COUNT(*) FROM edges) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
)
def g1_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph — the graph-metric
    companion to dedup_clusters' connected components. Edges are ordered
    (u < v) so each triangle is enumerated exactly once as u < v < w via
    two hash joins; at scale the standard mitigation (orient edges from
    low- to high-degree endpoints) bounds the join fan-out, noted here
    because the ordered-id orientation is already degree-agnostic for
    this graph size. Edges from ``_copurchase_edges``, triangles from
    operators/graph.ordered_triangles."""
    from big_data_analysis_for_stock_market_data_spark.operators.graph import (
        ordered_triangles,
    )

    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    tris = ordered_triangles(edges)
    return tris.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
    )


def _pagerank_oracle_sql(n_iters: int = 3, damping_pct: int = 85) -> str:
    """Unrolled integer-PageRank CTE chain (fixed iteration count is part
    of the spec, same convention as the unrolled Lloyd iterations in
    _ivf_oracle_sql). All-integer arithmetic — ``//`` floor division and
    integer sums — so the replay is bit-identical in any engine."""
    base = f"CAST({(100 - damping_pct) * 1_000_000_000} AS BIGINT) // (100 * n.n)"
    ctes = [
        """parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    eo AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT u, v FROM eo UNION ALL SELECT v AS u, u AS v FROM eo
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT u, COUNT(*) AS outdeg FROM edges GROUP BY u),
    pr0 AS (
      SELECT node, CAST(1000000000 AS BIGINT) // n.n AS pr
      FROM nodes CROSS JOIN n
    )"""
    ]
    for t in range(n_iters):
        # CAST each iteration's pr back to BIGINT: DuckDB's SUM(BIGINT)
        # yields HUGEINT, which survives fetchall() exactly but exports as
        # float64 through pandas/Arrow — a harness fetching that way would
        # hash "x.0" against Spark's integer "x" (the r05 driver-red class).
        ctes.append(f"""pr{t + 1} AS (
      SELECT no.node,
             CAST({base} + ({damping_pct} * COALESCE(s.s, 0)) // 100
                  AS BIGINT) AS pr
      FROM nodes no CROSS JOIN n
      LEFT JOIN (
        SELECT e.v AS node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS s
        FROM edges e
        JOIN deg d ON d.u = e.u
        JOIN pr{t} p ON p.node = e.u
        GROUP BY e.v
      ) s ON s.node = no.node
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, CAST(pr AS BIGINT) AS pr_nano"
        + f" FROM pr{n_iters} ORDER BY node"
    )


@register(
    "g2_pagerank",
    # integer nano-unit PageRank, 3 iterations unrolled: floor-division
    # contributions + integer sums are order-free and bit-identical
    # across engines (float PageRank's in-neighbor sums are not)
    oracle=_pagerank_oracle_sql(n_iters=3, damping_pct=85),
)
def g2_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) on the undirected
    co-purchase part graph — integer nano-unit formulation
    (operators/graph.pagerank_nano): contributions are pr div outdeg,
    updates are damped integer sums, so the in-neighbor aggregation is
    order-free and the oracle replays every iteration exactly. Each round
    is key-equi joins + one grouped sum on (node) — co-partitioned at
    scale. Edges from ``_copurchase_edges``, fed both ways."""
    from big_data_analysis_for_stock_market_data_spark.operators.graph import pagerank_nano

    li = load(spark, sf_dir, "lineitem")
    eo = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    edges = eo.unionByName(
        eo.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return pagerank_nano(edges, n_iters=3, damping_pct=85).orderBy("node")


@register(
    "a18_chi2_independence",
    # chi-squared statistic over the lang x source contingency table. Each
    # cell's (obs-exp)^2/exp is computed from identical integer counts
    # (IEEE-identical doubles), then quantized to integer nano-units so
    # the CROSS-CELL SUM is order-free — a double sum's ulps would depend
    # on each engine's aggregation order.
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, SUM(obs) AS r FROM cells GROUP BY lang),
    ct AS (SELECT source, SUM(obs) AS c FROM cells GROUP BY source),
    n AS (SELECT SUM(obs) AS total FROM cells),
    contrib AS (
      SELECT CAST(round(
               pow(CAST(cells.obs AS DOUBLE)
                   - CAST(rt.r AS DOUBLE) * ct.c / n.total, 2)
               / (CAST(rt.r AS DOUBLE) * ct.c / n.total) * 1e9)
             AS BIGINT) AS cell_nano
      FROM cells
      JOIN rt ON rt.lang = cells.lang
      JOIN ct ON ct.source = cells.source
      CROSS JOIN n
    )
    SELECT CAST(SUM(cell_nano) AS BIGINT) AS chi2_nano,
           (SELECT (COUNT(DISTINCT lang) - 1)
                   * (COUNT(DISTINCT source) - 1) FROM cells) AS dof
    FROM contrib
    """,
)
def a18_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between document language and
    source: contingency cells + marginals are integer counts, each cell's
    contribution is an IEEE-identical double quantized to nano-units, and
    the cross-cell sum is integer — order-free, so the statistic is
    bit-exact in any engine. Three grouped aggregates + two marginal
    joins; nothing leaves the executors but the 1-row result."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    # four consumers (rt/ct/dims/contrib) would rescan documents four
    # times; the contingency table is |langs x sources| rows — checkpoint
    cells = cells.localCheckpoint(eager=True)
    rt = cells.groupBy("lang").agg(F.sum("obs").alias("__r"))
    ct = cells.groupBy("source").agg(F.sum("obs").alias("__c"))
    # grand total stays in the plan as a broadcast 1-row aggregate — no
    # .first() driver scalar (same pattern as a23_gini_revenue)
    total = cells.agg(F.sum("obs").cast("double").alias("__total"))
    j = (
        cells.join(rt, "lang").join(ct, "source")
        .crossJoin(F.broadcast(total))
    )
    exp = F.col("__r").cast("double") * F.col("__c") / F.col("__total")
    cell = F.pow(F.col("obs").cast("double") - exp, 2) / exp
    contrib = j.select(
        F.round(cell * 1e9, 0).cast("long").alias("cell_nano")
    )
    dims = cells.agg(
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).alias("dof")
    )
    return contrib.agg(
        F.sum("cell_nano").cast("long").alias("chi2_nano")
    ).crossJoin(dims)


@register(
    "a19_wow_growth",
    # time intelligence: week-over-week revenue growth per order priority.
    # Weekly sums are exact decimals; growth = (w - prev)/prev divides two
    # IEEE-identical doubles. date_trunc('week') is ISO-Monday in both.
    oracle="""
    WITH weekly AS (
      SELECT o_orderpriority,
             CAST(date_trunc('week', CAST(o_orderdate AS TIMESTAMP))
                  AS TIMESTAMP) AS week,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
      FROM orders
      GROUP BY o_orderpriority, week
    )
    SELECT o_orderpriority, week, revenue,
           (revenue - lag(revenue) OVER w) / lag(revenue) OVER w
             AS wow_growth
    FROM weekly
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY week)
    ORDER BY o_orderpriority, week
    """,
)
def a19_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time intelligence: week-over-week revenue growth per order
    priority — grouped exact-decimal weekly sums, then a key-partitioned
    lag over the |priorities x weeks| aggregate (window on aggregate rows,
    never raw orders)."""
    o = load(spark, sf_dir, "orders")
    weekly = o.groupBy(
        "o_orderpriority",
        F.date_trunc("week", F.col("o_orderdate")).alias("week"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double").alias("revenue")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.withColumn(
        "wow_growth", (F.col("revenue") - prev) / prev
    ).orderBy("o_orderpriority", "week")


@register(
    "ml_impute_group_median",
    # imputation: 'error' events' values are treated as missing and filled
    # with the user's median over non-missing rows (exact interpolated
    # percentile, 6dp-rounded — identical boundaries both engines)
    oracle="""
    WITH base AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ),
    med AS (
      SELECT user_id, round(quantile_cont(v, 0.5), 6) AS m
      FROM base GROUP BY user_id
    )
    SELECT b.event_id, b.user_id,
           COALESCE(b.v, med.m) AS value_imputed,
           b.v IS NULL AS was_imputed
    FROM base b JOIN med ON med.user_id = b.user_id
    ORDER BY b.event_id
    """,
)
def ml_impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-prep imputation: values flagged missing (here: 'error' events)
    filled with the per-user exact median of the observed rows — one
    grouped percentile aggregate + a broadcast-or-hash join back, the
    deterministic Imputer twin (Spark ML's Imputer uses approxQuantile
    median whose cut drifts with partitioning)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value")).alias("__v"),
    )
    med = base.groupBy("user_id").agg(
        F.round(F.percentile("__v", F.lit(0.5)), 6).alias("__m")
    )
    j = base.join(med, "user_id")
    return j.select(
        "event_id", "user_id",
        F.coalesce(F.col("__v"), F.col("__m")).alias("value_imputed"),
        F.col("__v").isNull().alias("was_imputed"),
    ).orderBy("event_id")


@register(
    "w_event_trigrams",
    oracle="""
    SELECT path, COUNT(*) AS n FROM (
      SELECT lag(event_type, 2) OVER w || '>' ||
             lag(event_type, 1) OVER w || '>' || event_type AS path
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE path IS NOT NULL
    GROUP BY path
    ORDER BY n DESC, path
    LIMIT 15
    """,
)
def w_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths (the Sankey/path-mining aggregate):
    two lags over the per-user order extend the transition matrix to
    trigrams; one grouped count + top-k."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.lag("event_type", 2).over(w),
        F.lag("event_type", 1).over(w),
        F.col("event_type"),
    )
    two_back = F.lag("event_type", 2).over(w)
    return (
        ev.select(path.alias("path"), two_back.alias("__ok"))
        .filter(F.col("__ok").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(15)
    )


@register(
    "w_gap_fill_forward",
    # densify each user's sparse daily series over their min..max span
    # (generate_series twin), zero-fill the count, forward-fill the last
    # observed daily sum (LOCF); all values exact decimals/integers
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_sum
      FROM events GROUP BY user_id, day
    ),
    span AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily
      GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
               AS day
      FROM span
    ),
    filled AS (
      SELECT s.user_id, s.day,
             COALESCE(d.n_events, 0) AS n_events,
             d.day_sum
      FROM spine s LEFT JOIN daily d
        ON d.user_id = s.user_id AND d.day = s.day
    )
    SELECT user_id, day, n_events,
           last_value(day_sum IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS day_sum_ffill
    FROM filled
    ORDER BY user_id, day
    """,
)
def w_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: per-user daily rollup, gap-filled over
    each user's own date span (executor-side sequence/explode spine, never
    a driver calendar) with zero-filled counts, then LOCF forward-fill of
    the last observed daily sum (operators/windows.gap_fill_daily +
    forward_fill)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double").alias("day_sum"),
    )
    filled = win_ops.gap_fill_daily(
        daily, keys=["user_id"], day_col="day",
        fill={"n_events": F.lit(0)},
    )
    out = win_ops.forward_fill(
        filled.withColumnRenamed("day_sum", "day_sum_ffill"),
        keys=["user_id"], order_by="day", cols=["day_sum_ffill"],
    )
    return out.select(
        "user_id", "day", "n_events", "day_sum_ffill"
    ).orderBy("user_id", "day")


@register(
    "w_cumulative_distinct",
    # COUNT(DISTINCT) OVER a running frame is unsupported/quadratic; both
    # sides use the first-occurrence-flag + running-sum decomposition on
    # the (ts, event_id) total order
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(SUM(is_first) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct_so_far
    FROM (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    ORDER BY event_id
    """,
)
def w_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact running distinct-count per user ('how many event types has
    this user touched so far') — the two-window decomposition on one key
    shuffle (operators/windows.cumulative_distinct); the naive
    COUNT(DISTINCT) running frame is unsupported in Spark and quadratic
    where engines allow it."""
    ev = load(spark, sf_dir, "events")
    out = win_ops.cumulative_distinct(
        ev, keys=["user_id"], value_col="event_type",
        order_by=["ts", "event_id"],
    )
    return out.select(
        "event_id", "user_id", "event_type", "n_distinct_so_far"
    ).orderBy("event_id")


@register(
    "dedup_fuzzy_names",
    # fuzzy matching: Levenshtein <= 4 between DISTINCT names sharing a
    # last-token block — the blocked fuzzy-join shape (never all-pairs);
    # both engines implement classic unit-cost Levenshtein
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    b AS (
      SELECT p_name,
             regexp_split_to_array(p_name, ' ')[-1] AS blk
      FROM names
    )
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           levenshtein(a.p_name, c.p_name) AS dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 4
    ORDER BY name_a, name_b
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching with blocking: near-identical part names
    (edit distance <= 4) compared only within a shared last-token block —
    the standard entity-resolution shape where the block bounds the
    quadratic term, exactly like the shingle buckets bound MinHash.
    Distinct names first: the comparison space is |distinct| not |rows|."""
    p = load(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blocked = names.withColumn(
        "__blk", F.element_at(F.split(F.col("p_name"), " "), -1)
    )
    a = blocked.select(F.col("p_name").alias("name_a"), "__blk")
    b = blocked.select(F.col("p_name").alias("name_b"), "__blk")
    pairs = a.join(b, "__blk").filter(F.col("name_a") < F.col("name_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        pairs.select("name_a", "name_b", dist.alias("dist"))
        .filter(F.col("dist") <= 4)
        .orderBy("name_a", "name_b")
    )


@register(
    "a20_weighted_stats",
    # revenue-weighted average discount: both numerator and denominator
    # are exact decimal sums; one double division per group
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS weighted_avg_discount,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_weight
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def a20_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted aggregation: revenue-weighted mean discount per return
    flag — Σ(w·x)/Σw with both sums exact decimals, so the single double
    division agrees bit-for-bit in any engine. The grouped-weighted-mean
    building block plain AVG cannot express."""
    li = load(spark, sf_dir, "lineitem")
    num = F.sum(
        (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
    ).cast("double")
    den = F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (num / den).alias("weighted_avg_discount"),
            den.alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "h1_ancestor_closure",
    # arbitrary-depth hierarchy traversal: docs 1..255 form a binary tree
    # (parent = id // 2); the transitive ancestor closure is computed by
    # iterative doubling in Spark and replayed as WITH RECURSIVE here
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT doc_id AS id, doc_id // 2 AS parent
      FROM documents WHERE doc_id BETWEEN 1 AND 255
    ),
    anc AS (
      SELECT id, parent AS ancestor, 1 AS depth FROM nodes WHERE parent >= 1
      UNION ALL
      SELECT a.id, n.parent, a.depth + 1
      FROM anc a JOIN nodes n ON n.id = a.ancestor
      WHERE n.parent >= 1
    )
    SELECT id, ancestor, depth FROM anc
    ORDER BY id, depth
    """,
)
def h1_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-depth hierarchy traversal (the WITH RECURSIVE family,
    generically — org charts, BOM explosions, category trees): the
    transitive ancestor closure of a binary tree over doc ids, computed
    by ITERATIVE DOUBLING — each round joins the closure to itself, so
    depth d needs ceil(log2(d)) rounds, not d (8 levels in 3 rounds).
    Each round localCheckpoints (the connected_components discipline) so
    lineage stays flat; the driver sees only the loop counter."""
    docs = load(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id")).filter(
        (F.col("id") >= 1) & (F.col("id") <= 255)
    ).withColumn("parent", (F.col("id") / 2).cast("long"))
    # closure starts as direct edges with depth 1
    clo = nodes.filter(F.col("parent") >= 1).select(
        "id", F.col("parent").alias("ancestor"), F.lit(1).alias("depth")
    ).localCheckpoint(eager=True)
    n_paths = clo.count()
    while True:
        # join closure with itself: paths id->mid (depth a) + mid->anc
        # (depth b) give id->anc (depth a+b); doubling squares max depth
        right = clo.select(
            F.col("id").alias("ancestor_in"),
            F.col("ancestor").alias("ancestor_out"),
            F.col("depth").alias("d2"),
        )
        longer = (
            clo.join(right, clo["ancestor"] == right["ancestor_in"])
            .select(
                "id",
                F.col("ancestor_out").alias("ancestor"),
                (F.col("depth") + F.col("d2")).alias("depth"),
            )
        )
        clo = clo.unionByName(longer).distinct().localCheckpoint(eager=True)
        n_prev, n_paths = n_paths, clo.count()
        if n_paths == n_prev:  # control-plane fixpoint test
            break
    return clo.orderBy("id", "depth")


@register(
    "a21_mad_robust",
    # robust dispersion: MAD = median(|x - median(x)|) per user; both
    # medians are exact interpolated percentiles rounded to 6dp
    oracle="""
    WITH med AS (
      SELECT user_id, round(quantile_cont(value, 0.5), 6) AS m
      FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           ANY_VALUE(med.m) AS median_value,
           round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad
    FROM events e JOIN med ON med.user_id = e.user_id
    GROUP BY e.user_id
    ORDER BY e.user_id
    """,
)
def a21_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per user — the robust dispersion measure
    (50% breakdown point vs the z-score scan's moment sensitivity). Two
    grouped exact-percentile aggregates with a join between them; the
    deviation median sees |x − median| computed from the 6dp-rounded
    group median, identical in both engines."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("__m")
    )
    j = ev.join(med, "user_id")
    return (
        j.groupBy("user_id")
        .agg(
            F.any_value("__m").alias("median_value"),
            F.round(
                F.percentile(F.abs(F.col("value") - F.col("__m")), F.lit(0.5)),
                6,
            ).alias("mad"),
        )
        .orderBy("user_id")
    )


@register(
    "a22_share_of_region",
    # ratio-to-parent: nation revenue as a share of its region's total —
    # both levels exact decimal, one double division per nation
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY region, nation
    )
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region
    FROM nat
    ORDER BY region, nation
    """,
)
def a22_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent (share-of-total within a hierarchy level): nation
    revenue over its region's total — star join with broadcast dims, one
    grouped exact-decimal aggregate, a parent-partitioned window over the
    |nations|-sized aggregate."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
    )
    nat = j.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("__rev")
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region", "nation",
        F.col("__rev").cast("double").alias("revenue"),
        (
            F.col("__rev").cast("double")
            / F.sum("__rev").over(w).cast("double")
        ).alias("share_of_region"),
    ).orderBy("region", "nation")


@register(
    "w_interval_merge",
    # gaps-and-islands with interval semantics: each event spans
    # [ts, ts+30min]; overlapping/adjacent spans per user merge into
    # maximal intervals. Integer-micros arithmetic throughout.
    oracle="""
    WITH ev AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
      FROM events
    ),
    g AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM ev
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM g
    )
    SELECT user_id,
           CAST(make_timestamp(MIN(s)) AS TIMESTAMP) AS interval_start,
           CAST(make_timestamp(MAX(e)) AS TIMESTAMP) AS interval_end,
           COUNT(*) AS n_events
    FROM isl
    GROUP BY user_id, island
    ORDER BY user_id, interval_start
    """,
)
def w_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per key: each event claims [ts, ts+30min]; spans
    that overlap (start <= running max end of predecessors) merge into
    maximal intervals — gaps-and-islands generalized from points to
    INTERVALS via the running-max-end trick (a later event can be fully
    contained in an earlier long one, which plain lag-gap logic misses).
    Integer-micros arithmetic; one key-partitioned window + one grouped
    aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("__s"),
        (F.unix_micros(F.col("ts")) + F.lit(1_800_000_000)).alias("__e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__s", "__e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_e = F.max("__e").over(w)
    brk = F.when(
        prev_max_e.isNull() | (F.col("__s") > prev_max_e), 1
    ).otherwise(0)
    wi = Window.partitionBy("user_id").orderBy("__s", "__e").rowsBetween(
        Window.unboundedPreceding, 0
    )
    isl = ev.withColumn("__island", F.sum(brk).over(wi))
    return (
        isl.groupBy("user_id", "__island")
        .agg(
            F.timestamp_micros(F.min("__s")).alias("interval_start"),
            F.timestamp_micros(F.max("__e")).alias("interval_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__island")
        .orderBy("user_id", "interval_start")
    )


@register(
    "a23_gini_revenue",
    # exact Gini over per-customer revenue (G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n,
    # x ranked ascending). Revenue is integer CENTS so Σx emits as BIGINT
    # with no float conversion at all; Σ(i·x) exceeds 2^53 at scale, so
    # gini is emitted as round(G·1e6) — the double noise from the big-sum
    # conversion (~1e-11 of the micro quantum) cannot flip the integer.
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i
      FROM cust
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev) AS BIGINT) AS total_cents,
           CAST(round((2.0 * CAST(SUM(i * rev) AS DOUBLE)
                       / (COUNT(*) * CAST(SUM(rev) AS DOUBLE))
                       - (COUNT(*) + 1.0) / COUNT(*)) * 1e6)
                AS BIGINT) AS gini_micro
    FROM ranked
    """,
)
def a23_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue concentration — the
    inequality metric from the rank formulation, ranks from a window over
    the |customers|-sized aggregate (never raw orders). Integer-cents
    revenue keeps Σx conversion-free; the coefficient ships in micro-units
    (double-to-integer rounding is engine-portable where decimal-place
    rounding is not). Companion to the ABC/Pareto classification."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100.0, 0).cast("long")
        ).alias("__rev")
    )
    w = Window.orderBy("__rev", "o_custkey")
    ranked = cust.select("__rev", F.row_number().over(w).alias("__i"))
    n = F.count(F.lit(1))
    tot = F.sum("__rev")
    iwx = F.sum(F.col("__i") * F.col("__rev"))
    gini = (
        2.0 * iwx.cast("double") / (n * tot.cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        tot.cast("long").alias("total_cents"),
        F.round(gini * 1e6, 0).cast("long").alias("gini_micro"),
    )


@register(
    "a13_histogram_value",
    # identical bin arithmetic on both sides: floor((v - lo) / width) with
    # lo/hi the exact aggregated min/max doubles, capped into the last bin
    oracle="""
    WITH mm AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ),
    b AS (
      SELECT LEAST(9, CAST(floor((value - lo) / ((hi - lo) / 10))
                           AS INT)) AS bin,
             lo, (hi - lo) / 10 AS width
      FROM events, mm
    )
    SELECT bin, COUNT(*) AS n_rows, lo + bin * width AS bin_lo
    FROM b
    GROUP BY bin, lo, width
    ORDER BY bin
    """,
)
def a13_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 10-bin histogram of event values — the EDA distribution
    scan (operators/aggregates.fixed_width_histogram): min/max aggregate
    (two control-plane doubles), pure-projection binning, one grouped
    count."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.fixed_width_histogram(ev, "value", n_bins=10)


def _mv_measure_sql(m: str) -> str:
    return f"""
           COUNT({m}) AS cnt_{m},
           CAST(SUM(CAST({m} AS DECIMAL(18,6))) AS DOUBLE) AS sum_{m},
           MIN({m}) AS min_{m},
           MAX({m}) AS max_{m}"""


@register(
    "mv_incremental_pricing",
    # the oracle is the DIRECT full-table aggregate: the merged partial
    # state must be indistinguishable from never having split the input
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {_mv_measure_sql('l_quantity')},
           {_mv_measure_sql('l_extendedprice')},
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(l_quantity) AS avg_l_quantity,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(l_extendedprice) AS avg_l_extendedprice
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def mv_incremental_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the pricing rollup kept as
    mergeable partial state (count / exact-decimal sum / min / max per key).
    Three disjoint shipdate slices stand in for base history + two delta
    loads; each is partial-aggregated independently (at 100 TB: only the
    arriving partition is scanned), the states are merged (union + one hash
    aggregate over key-sized inputs), and AVG is derived at read time.
    Exact-decimal sums make the merge bit-identical to the direct aggregate
    regardless of the split (operators/incremental.py)."""
    from big_data_analysis_for_stock_market_data_spark.operators import incremental as inc

    keys = ["l_returnflag", "l_linestatus"]
    measures = ["l_quantity", "l_extendedprice"]
    li = load(spark, sf_dir, "lineitem")
    cuts = ("1997-01-01", "1999-06-01")
    base = li.filter(F.col("l_shipdate") < F.lit(cuts[0]).cast("timestamp"))
    delta1 = li.filter(
        (F.col("l_shipdate") >= F.lit(cuts[0]).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(cuts[1]).cast("timestamp"))
    )
    delta2 = li.filter(F.col("l_shipdate") >= F.lit(cuts[1]).cast("timestamp"))
    states = [inc.partial_agg(s, keys, measures) for s in (base, delta1, delta2)]
    # two-step merge: (base + delta1) then + delta2 — exercises re-merge of
    # an already-merged state, the shape a nightly refresh actually runs
    merged = inc.merge_partials(
        [inc.merge_partials(states[:2], keys, measures), states[2]],
        keys, measures,
    )
    return inc.finalize(merged, measures)


@register(
    "mv_rollup_cascade",
    # the day-grain view is derived from HOUR-grain stored state, never
    # from raw events; oracle is the direct day aggregate over raw rows —
    # merge algebra makes the two bit-identical
    oracle="""
    SELECT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
             AS day,
           COUNT(*) AS n_rows,
           COUNT(value) AS cnt_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)
             AS avg_value
    FROM events
    GROUP BY user_id, day
    ORDER BY user_id, day
    """,
)
def mv_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup cascade: hour-grain mergeable state is the ONLY
    input to the day-grain view — ``merge_partials`` re-grouped on the
    coarser key (operators/incremental.py). The multi-granularity pattern
    of a metrics store: raw rows are touched once at the finest grain;
    every coarser rollup merges key-sized state instead of rescanning."""
    from big_data_analysis_for_stock_market_data_spark.operators import incremental as inc

    ev = load(spark, sf_dir, "events").select(
        "user_id", "value",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    hour_state = inc.partial_agg(ev, ["user_id", "day", "hour"], ["value"])
    day_state = inc.merge_partials(
        [hour_state.drop("hour")], ["user_id", "day"], ["value"]
    )
    out = inc.finalize(day_state, ["value"])
    return out.select(
        "user_id", "day", "n_rows", "cnt_value", "sum_value",
        "min_value", "max_value", "avg_value",
    ).orderBy("user_id", "day")


@register(
    "s_json_roundtrip",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def s_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source fidelity: parquet -> JSON write -> explicit-schema
    JSON scan -> aggregate equals the oracle on the original table. Doubles
    survive because Spark's JSON writer emits shortest round-trip
    representations (Jackson), mirroring the S1 CSV no-inferSchema policy."""
    import tempfile

    from pyspark.sql import types as T

    src = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    out_dir = tempfile.mkdtemp(prefix="engine_json_rt_")
    src.write.mode("overwrite").json(out_dir)
    schema = T.StructType([
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    back = spark.read.schema(schema).json(out_dir)
    return (
        back.groupBy("o_orderstatus", "o_orderpriority")
        .agg(dsum(F.col("o_totalprice"), "sum_price"),
             F.count(F.lit(1)).alias("n_rows"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "s_partitioned_pruned",
    # Hive-layout roundtrip: write partitioned by event_type, read ONE
    # partition back — values must survive the directory encoding, and
    # the filter must become partition pruning (pinned in
    # test_io_partitioning), not a full scan
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY day
    ORDER BY day
    """,
)
def s_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink/source: events written partitionBy(event_type),
    one partition read back through the partition-column filter — the
    standard lakehouse layout where a predicate on the partition column
    prunes DIRECTORIES (no data files of other partitions are opened).
    Values, including timestamps, survive the directory encoding."""
    import tempfile

    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    out_dir = tempfile.mkdtemp(prefix="engine_part_rt_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out_dir)
    back = read_parquet(spark, out_dir).filter(F.col("event_type") == "click")
    return (
        back.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value"), "sum_value"),
        )
        .orderBy("day")
    )


@register(
    "s_orc_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MAX(ts) AS TIMESTAMP) AS max_ts
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def s_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink fidelity: parquet -> ORC write -> ORC scan ->
    aggregate equals the oracle on the original table, including timestamp
    columns (UTC session timezone makes the ORC local-time convention a
    no-op)."""
    import tempfile

    ev = load(spark, sf_dir, "events").select("event_type", "value", "ts")
    out_dir = tempfile.mkdtemp(prefix="engine_orc_rt_")
    ev.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value"), "sum_value"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("event_type")
    )


@register(
    "s_zorder_roundtrip",
    # content fidelity only — the clustering layout is asserted in
    # test_io_partitioning (per-file min-max spans shrink on BOTH dims)
    oracle="""
    SELECT l_suppkey,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_partkey AS DECIMAL(18,6))) AS DOUBLE) AS sum_part
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def s_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink fidelity: lineitem rewritten clustered on
    (l_partkey, l_suppkey) — multi-dimensional data skipping at read time
    (sources/io.zorder_write) — then scanned back; aggregate equals the
    oracle on the original table, proving the layout rewrite is
    content-lossless."""
    import tempfile

    from big_data_analysis_for_stock_market_data_spark.sources.io import zorder_write

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    out_dir = tempfile.mkdtemp(prefix="engine_zorder_rt_")
    zorder_write(li, out_dir, cols=["l_partkey", "l_suppkey"], n_files=8,
                 bits_per_col=8)
    back = read_parquet(spark, out_dir)
    return (
        back.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_partkey"), "sum_part"),
        )
        .orderBy("l_suppkey")
    )


@register(
    "stream_rocksdb_session",
    # identical oracle to stream_session_30m: the state store PROVIDER
    # stores state, it never changes semantics — this entry certifies the
    # disk-backed provider end-to-end (merging session state lives in
    # RocksDB, not executor heap)
    oracle="""
    WITH x AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER w
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM x
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sess_id
    """,
)
def stream_rocksdb_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation under the RocksDB state store provider
    (disk-backed state + changelog checkpointing — the configuration that
    survives streaming state larger than executor memory; the default
    heap-backed provider is the 100 TB scale-killer). Session-merge is
    the heaviest state pattern the engine runs, so it is the one
    certified on RocksDB (streaming/ops.rocksdb_state)."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    with st.rocksdb_state(spark):
        agg = st.session_agg(
            _events_stream(spark, sf_dir), "ts", "30 minutes",
            {"n_events": ("count", "value")},
            watermark="1 day", group_by=["user_id"],
        )
        _, sink = st.run_to_memory(agg, output_mode="complete")
    return spark.table(sink)


@register(
    "fn_variant_nested",
    # construct → parse_json → variant_get round-trip: the oracle computes
    # the expected extractions directly from the source columns, so
    # equality proves VARIANT path navigation and typed extraction are
    # lossless (ints, doubles, strings, array indexing, try-cast null)
    oracle="""
    SELECT event_id,
           user_id AS u,
           value * 2 AS v2,
           event_type AS et,
           CAST(NULL AS BIGINT) AS bad
    FROM events
    """,
)
def fn_variant_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4, SPARK-45827): a nested JSON
    document built in-plan is parsed to VARIANT and navigated back out
    with typed path extraction — object fields, nested objects, array
    indexing, and try_variant_get's wrong-type-to-null contract. The
    whole pipeline is one codegen'd projection (no Python, no UDF); at
    100 TB this is the scan-time shredding path for semi-structured
    columns."""
    ev = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.struct(
                F.col("user_id").alias("uid"),
                F.col("event_type").alias("et"),
            ).alias("who"),
            F.array(F.col("value"), F.col("value") * 2).alias("vals"),
        )
    )
    v = ev.select("event_id", F.parse_json(doc).alias("__v"))
    return v.select(
        "event_id",
        F.try_variant_get("__v", "$.who.uid", "long").alias("u"),
        F.try_variant_get("__v", "$.vals[1]", "double").alias("v2"),
        F.try_variant_get("__v", "$.who.et", "string").alias("et"),
        # wrong-type extraction nulls out instead of failing the scan
        F.try_variant_get("__v", "$.who.et", "long").alias("bad"),
    )


@register(
    "fn_python_udtf_chunks",
    # the UDTF's fixed-grid contract replayed as substr arithmetic
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS chunk_id,
           substr(text, 1 + i * 120, 120) AS chunk
    FROM documents,
         LATERAL (SELECT unnest(range(0, (strlen(text) + 119) // 120)) AS i)
    WHERE strlen(text) > 0
    """,
)
def fn_python_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via SQL LATERAL (Spark 4 UDTF API): the
    user-extensible explode — ``eval`` yields one row per 120-char chunk,
    Arrow-batched (ArrowEvalPythonUDTF, not row-serialized
    BatchEvalPython). The JVM expression twin is text.chunk_text
    (text_chunk_overlap entry); this entry certifies the UDTF execution
    path itself (functions/udtf.ChunkerUDTF)."""
    from big_data_analysis_for_stock_market_data_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk
        FROM __udtf_docs d, LATERAL chunker(d.text, 120) c
        """
    )


@register(
    "s_python_datasource",
    # the source's determinism contract (id-arithmetic payloads) is what
    # makes an EXTERNAL-CONNECTOR scan oracle-checkable: DuckDB replays
    # the generator as arithmetic over range(n)
    oracle="""
    WITH g AS (
      SELECT i AS tick_id,
             's' || (i % 7) AS symbol,
             1000000000 + i * 1000003 AS px_nano,
             (i * 37) % 9973 AS volume
      FROM range(1000) t(i)
    )
    SELECT symbol,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(px_nano) AS BIGINT) AS sum_px_nano,
           CAST(MAX(volume) AS BIGINT) AS max_volume
    FROM g GROUP BY symbol ORDER BY symbol
    """,
)
def s_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource API): a connector
    implemented entirely in Python — driver plans ``partitions()``, each
    partition's ``read()`` generates rows ON AN EXECUTOR (8 parallel
    tasks here; a real connector to a tick feed / KV store / internal
    API splits a 100 TB source the same way). The scan feeds a normal
    grouped aggregate (sources/pyds.SyntheticTicksDataSource)."""
    from big_data_analysis_for_stock_market_data_spark.sources import pyds

    pyds.register(spark)
    ticks = (
        spark.read.format("synthetic_ticks")
        .option("n_rows", 1000)
        .option("n_parts", 8)
        .load()
    )
    return (
        ticks.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("px_nano").alias("sum_px_nano"),
            F.max("volume").alias("max_volume"),
        )
        .orderBy("symbol")
    )


@register(
    "a25_countmin_heavy_hitters",
    # the sketch is integer arithmetic end-to-end (md5 buckets, counter
    # sums, MIN point query), so estimate AND exact hash identically —
    # an approximate structure with an exact oracle
    oracle="""
    WITH j AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cell AS (
      SELECT j.row,
             CAST(('0x' || substr(md5(l_partkey::VARCHAR || ':'
                                      || j.row::VARCHAR), 1, 8))
                  AS BIGINT) % 1024 AS bucket
      FROM lineitem, j
    ),
    counters AS (
      SELECT row, bucket, COUNT(*) AS cnt FROM cell GROUP BY 1, 2
    ),
    top AS (
      SELECT l_partkey, COUNT(*) AS exact_cnt FROM lineitem
      GROUP BY 1 ORDER BY exact_cnt DESC, l_partkey LIMIT 20
    ),
    probe AS (
      SELECT t.l_partkey, t.exact_cnt, j.row,
             CAST(('0x' || substr(md5(t.l_partkey::VARCHAR || ':'
                                      || j.row::VARCHAR), 1, 8))
                  AS BIGINT) % 1024 AS bucket
      FROM top t, j
    )
    SELECT p.l_partkey,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate
    FROM probe p
    JOIN counters c ON c.row = p.row AND c.bucket = p.bucket
    GROUP BY 1, 2
    ORDER BY exact_cnt DESC, p.l_partkey
    """,
)
def a25_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: a 4x1024 counter matrix summarizes
    l_partkey frequencies (4096 rows TOTAL at any corpus size — the
    sketch of a 100 TB stream broadcasts, and partial sketches merge by
    cell-wise addition, which Spark's map-side partial counts already
    are). The top-20 exact keys are point-queried back through the
    sketch; CMS guarantees estimate >= exact with collision-bounded
    overcount (operators/aggregates.count_min_sketch/cms_estimate)."""
    from big_data_analysis_for_stock_market_data_spark.operators import aggregates as agg

    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    counters = agg.count_min_sketch(li, "l_partkey")
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("l_partkey"))
        .limit(20)
    )
    return (
        agg.cms_estimate(counters, top, "l_partkey")
        .select("l_partkey", "exact_cnt", "cms_estimate")
        .orderBy(F.col("exact_cnt").desc(), F.col("l_partkey"))
    )


@register(
    "agg_hll_union",
    # property oracle (same contract shape as agg_approx_distinct): the
    # DataSketches binary layout is library-specific, so the hashed
    # columns are the exact distincts plus a ±10% accuracy boolean per
    # row — including the MERGED (-1) row, which certifies that the
    # union of per-nation sketches still estimates the corpus keyspace
    # within bound (the mergeability contract itself). Deterministic for
    # fixed data: the sketch hash has no RNG.
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct,
           TRUE AS approx_ok
    FROM customer GROUP BY c_nationkey
    UNION ALL
    SELECT CAST(-1 AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT), TRUE
    FROM customer
    """,
)
def agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches (Spark's Apache-DataSketches
    surface): per-nation HLL of the customer keyspace, the nation
    sketches UNIONED into a corpus sketch (hll_union_agg — merge is the
    capability that matters at 100 TB: per-partition sketches combine
    without a re-scan). Exact distincts ride along as the oracle
    harness; each sketch estimate is checked against its exact count
    through a ±10% bound boolean (sketch layout is library-specific, so
    the raw estimate itself can't hash across engines). test_aggregates
    additionally pins union-vs-direct consistency."""
    cust = load(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg(F.col("c_custkey")).alias("__sk"),
        F.count_distinct(F.col("c_custkey")).alias("exact_distinct"),
    )

    def within(approx, exact):
        e = exact.cast("double")
        return F.abs(approx.cast("double") - e) <= F.lit(0.10) * e

    nations = per_nation.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "exact_distinct",
        within(
            F.hll_sketch_estimate(F.col("__sk")), F.col("exact_distinct")
        ).alias("approx_ok"),
    )
    overall = per_nation.agg(
        F.hll_union_agg(F.col("__sk")).alias("__u"),
        # c_custkey is globally unique, so the per-nation exact counts
        # sum to the corpus distinct — what the merged sketch estimates
        F.sum("exact_distinct").alias("exact_distinct"),
    ).select(
        F.lit(-1).cast("long").alias("c_nationkey"),
        F.col("exact_distinct"),
        within(
            F.hll_sketch_estimate(F.col("__u")), F.col("exact_distinct")
        ).alias("approx_ok"),
    )
    return nations.unionByName(overall).orderBy("c_nationkey")


@register(
    "s_csv_malformed_audit",
    # the corrupt-line set is deterministic (doc_id % 7 = 3 writes an
    # unparseable first field), so PERMISSIVE-mode classification is
    # integer arithmetic on doc_id — an oracle for the bad-record path
    # itself, not just the happy path
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 3 THEN 'corrupt' ELSE 'valid' END
             AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN doc_id END) AS BIGINT)
             AS sum_valid_ids,
           CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN n_chars END) AS BIGINT)
             AS sum_valid_chars
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
)
def s_csv_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record handling audit: a CSV written with a deterministic
    fraction of malformed lines (unparseable LONG in the first field) is
    read back under PERMISSIVE mode with ``columnNameOfCorruptRecord``;
    the audit classifies every line and checksums the valid ones. At
    100 TB a scan WILL contain malformed lines — the engine contract is
    that they are quarantined into the corrupt column, not dropped
    (DROPMALFORMED) or fatal (FAILFAST), and the quarantine is exact."""
    import tempfile

    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.when(
        F.col("doc_id") % 7 == 3,
        F.concat(F.lit("bad"), F.col("doc_id").cast("string"), F.lit(",0")),
    ).otherwise(
        F.concat_ws(",", F.col("doc_id").cast("string"),
                    F.col("n_chars").cast("string")),
    )
    out_dir = tempfile.mkdtemp(prefix="engine_csv_bad_")
    docs.select(line.alias("value")).write.mode("overwrite").text(out_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out_dir)
    )
    status = F.when(
        F.col("_corrupt").isNotNull(), F.lit("corrupt")
    ).otherwise(F.lit("valid"))
    # the audit must reference EVERY data column: CSV column pruning
    # parses only requested fields, and an unparsed field can't flag the
    # record as corrupt (classification would silently depend on the
    # downstream projection — the audit checksums all columns instead)
    return (
        back.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("doc_id")))
            .alias("sum_valid_ids"),
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_chars")))
            .alias("sum_valid_chars"),
        )
        .orderBy("status")
    )


@register(
    "stream_chained_rollup",
    # multiple-stateful-operators contract: the day row aggregates HOUR
    # PARTIALS (exact decimals — associative, lossless merge), and both
    # sides restrict to day windows closed strictly below the final
    # watermark (max ts - 61 min), the honest append-mode completeness
    # horizon
    oracle="""
    WITH h AS (
      SELECT user_id,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hs,
             COUNT(value) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 61 MINUTE AS bound
      FROM events
    )
    SELECT user_id,
           CAST(date_trunc('day', hs) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('day', hs) AS TIMESTAMP) + INTERVAL 1 DAY
             AS window_end,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_inner_buckets,
           CAST(SUM(s) AS DOUBLE) AS sum_value
    FROM h CROSS JOIN b
    WHERE date_trunc('day', hs) + INTERVAL 1 DAY <= bound
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
    """,
)
def stream_chained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained hour→day streaming rollup: TWO stateful windowed
    aggregations in one query (SPARK-40925 multiple stateful operators) —
    the streaming twin of the batch `mv_rollup_cascade`. Day rows are
    built from hour partials via window_time() event-time propagation;
    append-mode emission is compared below the final watermark horizon
    on both sides (streaming/ops.chained_windowed_rollup)."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    rolled = st.chained_windowed_rollup(
        _events_stream(spark, sf_dir), "ts", "1 hour", "1 day", "value",
        watermark="1 hour", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(rolled, output_mode="append")
    bound = load(spark, sf_dir, "events").groupBy().agg(
        (F.max("ts") - F.expr("INTERVAL '61' MINUTE")).alias("__bound")
    )
    return (
        spark.table(sink)
        .crossJoin(F.broadcast(bound))
        .filter(F.col("window_end") <= F.col("__bound"))
        .select(
            "user_id", "window_start", "window_end",
            "n_events", "n_inner_buckets", "sum_value",
        )
        .orderBy("user_id", "window_start")
    )


@register(
    "text_repetition_stats",
    # small-int ratios in doubles (engine-exact); docs with < 2 tokens
    # keep their spine row with 0 grams and NULL fractions
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1])) AS g
      FROM toks
    ),
    per AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    st AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_grams,
             CAST(MAX(c) AS BIGINT) AS top_gram_count,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS dup_gram_count
      FROM per GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           COALESCE(top_gram_count, 0) AS top_gram_count,
           COALESCE(dup_gram_count, 0) AS dup_gram_count,
           CASE WHEN COALESCE(n_grams, 0) > 0
                THEN CAST(top_gram_count AS DOUBLE) / n_grams END
             AS top_gram_frac,
           CASE WHEN COALESCE(n_grams, 0) > 0
                THEN CAST(dup_gram_count AS DOUBLE) / n_grams END
             AS dup_gram_frac
    FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filters (Rae et al. 2021 Table A1):
    per-document top-bigram and duplicate-bigram occupancy fractions —
    the boilerplate/keyword-stuffing signal of a pretraining quality
    gate (operators/text.repetition_stats). Explode → two doc-keyed hash
    aggregates → spine left join; no windows, linear in corpus size."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as text_ops

    docs = load(spark, sf_dir, "documents")
    return text_ops.repetition_stats(docs, n=2).orderBy("doc_id")


@register(
    "dedup_exact_substring",
    # the Lee-et-al exact-substring dedup shape: inverted index over
    # distinct 40-char windows, doc-freq capped at 64 (cap binds only on
    # boilerplate; pair recall below the cap is exact, which is what
    # makes the SQL replay an equality, not an approximation)
    oracle=r"""
    WITH nrm AS (SELECT doc_id, trim(lower(text)) AS t FROM documents),
    wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(strlen(t) - 39, 0) + 1),
               i -> substr(t, i, 40))) AS ws
      FROM nrm
    ),
    posting AS (SELECT doc_id, unnest(ws) AS w FROM wins),
    rare AS (
      SELECT w FROM posting GROUP BY w
      HAVING COUNT(*) BETWEEN 2 AND 64
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM posting a JOIN rare r ON a.w = r.w
    JOIN posting b ON b.w = a.w
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY id_a, id_b
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level exact-substring duplicate pairs (Lee et al. 2021,
    'Deduplicating Training Data Makes Language Models Better'): documents
    sharing any exact 40-char window, found through a doc-freq-capped
    inverted window index instead of a suffix array — the formulation
    that distributes (operators/dedup.exact_substring_pairs)."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.exact_substring_pairs(docs, window=40, max_doc_freq=64)


@register(
    "samp_rebalance_sources",
    # equal-share rebalance: per-group keep threshold floor(10000 * min_n
    # / n_g) is pure integer arithmetic; membership is the split_bucket
    # md5 formula — both sides engine-exact, no float boundary anywhere
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    m AS (SELECT MIN(n) AS mn FROM c),
    thr AS (
      SELECT source,
             CAST(floor((10000.0 * mn) / n) AS BIGINT) AS thr
      FROM c, m
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN thr ON thr.source = d.source
    WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))
               AS BIGINT) % 10000 < thr.thr
    ORDER BY d.doc_id
    """,
)
def samp_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix rebalancing: every source domain
    downsampled to ≈ the smallest domain's size (equal-share mixture) via
    md5-bucket thresholds — the auditable domain-mix step of a
    pretraining recipe (operators/sampling.rebalance_hash_sample). The
    fact table is scanned once and filtered against a broadcast
    per-group threshold; no shuffle of the big side."""
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    docs = load(spark, sf_dir, "documents")
    out = sp.rebalance_hash_sample(
        docs, "source", "doc_id", target_shares=None, seed=42
    )
    return out.select("doc_id", "source", "lang").orderBy("doc_id")


@register(
    "seq_pattern_recovery",
    # regex kept to the Java-regex ∩ RE2 common subset; both engines
    # count non-overlapping left-to-right matches
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id)
             AS event_chain,
           CAST(len(regexp_extract_all(
             string_agg(event_type, '>' ORDER BY ts, event_id),
             'error>(click|purchase)')) AS INT) AS n_matches,
           len(regexp_extract_all(
             string_agg(event_type, '>' ORDER BY ts, event_id),
             'error>(click|purchase)')) > 0 AS matched
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def seq_pattern_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching over behavioral sequences (MATCH_RECOGNIZE /
    Flink-CEP workload, batch form): per user, how many times an 'error'
    event is immediately followed by a 'click' or 'purchase' — the
    error-recovery pattern. One hash aggregate + JVM array sort + one
    regexp scan per entity (operators/windows.sequence_pattern_match)."""
    from big_data_analysis_for_stock_market_data_spark.operators import windows as w

    ev = load(spark, sf_dir, "events")
    return w.sequence_pattern_match(
        ev, keys=["user_id"], ts_col="ts", step_col="event_type",
        pattern="error>(click|purchase)", tiebreak=["event_id"],
    ).orderBy("user_id")


@register(
    "mm_gif_jpeg_headers",
    # every field is integer arithmetic on doc_id (synthesize_gif_jpeg's
    # contract), so the marker/block walk is SQL-replayable
    oracle="""
    SELECT doc_id, 'gif' AS container,
           CAST(1 + doc_id % 200 AS BIGINT) AS width,
           CAST(1 + doc_id % 150 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bpp,
           CAST(1 + doc_id % 4 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, 'jpeg',
           CAST(1 + doc_id % 320 AS BIGINT),
           CAST(1 + doc_id % 240 AS BIGINT),
           CAST(24 AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM documents WHERE doc_id % 2 = 1
    ORDER BY doc_id
    """,
)
def mm_gif_jpeg_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF block walk (frame count behind data sub-blocks) and JPEG
    marker-segment walk (SOF0 behind a variable number of APP0 segments)
    — real pure-Python container parsing, extending mm_container_headers'
    PNG/RIFF/BMP family (operators/multimodal.build_gif/build_jpeg/
    _parse_one_container). Dims are NOT at fixed offsets in either
    family, so the oracle certifies genuine structure walking."""
    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents").select("doc_id")
    synth = mm.synthesize_gif_jpeg(docs, id_col="doc_id")
    parsed = mm.parse_container_headers(synth, id_col="doc_id")
    return parsed.select(
        "doc_id", "container", "width", "height", "bpp",
        F.col("n_samples").alias("n_frames"),
    ).orderBy("doc_id")


@register(
    "s_bucketed_join",
    # content fidelity of the bucketed layout: the join result must equal
    # the plain join on the original tables; the SHUFFLE-FREE property is
    # asserted structurally in test_io_partitioning (no Exchange below the
    # SortMergeJoin on either side)
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def s_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both fact and dim are written
    bucketBy(8, custkey) + sortBy (sources/io.write_parquet bucket_by
    path), so the equi-join reads bucket i against bucket i with NO
    exchange on either side — at 100 TB this converts every repeated join
    on the key into a shuffle the cluster never pays. The entry certifies
    the full write -> catalog -> bucketed-scan -> join pipeline against
    the plain-join oracle on the original tables."""
    import tempfile

    from big_data_analysis_for_stock_market_data_spark.sources.io import write_parquet

    base = tempfile.mkdtemp(prefix="engine_bucketed_")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                                  "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    for tbl in ("eng_bkt_orders", "eng_bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    write_parquet(orders, f"{base}/orders", bucket_by=(8, ["o_custkey"]),
                  table_name="eng_bkt_orders")
    write_parquet(cust, f"{base}/customer", bucket_by=(8, ["c_custkey"]),
                  table_name="eng_bkt_customer")
    o = spark.table("eng_bkt_orders")
    c = spark.table("eng_bkt_customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "s_observed_write_audit",
    # the Observation values are produced BY the write tasks (single
    # pass); the oracle recomputes the same audit from the base table —
    # equality proves the piggybacked metrics saw every written row
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    """,
)
def s_observed_write_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass write audit (sources/io.observed_write): df.observe +
    Observation attach row/sum/min/max counters to the write action
    itself — no second scan over the table. At 100 TB "write then re-read
    to audit" doubles the IO; observation metrics are free and
    exactly-once under task retries. The returned row is the audit the
    write produced; the oracle recomputes it from the source table."""
    import tempfile

    from big_data_analysis_for_stock_market_data_spark.sources.io import observed_write

    docs = load(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="engine_obs_write_")
    got = observed_write(
        docs, out,
        {
            "n_docs": F.count(F.lit(1)),
            "sum_chars": F.sum("n_chars").cast("long"),
            "min_doc_id": F.min("doc_id").cast("long"),
            "max_doc_id": F.max("doc_id").cast("long"),
        },
    )
    return spark.createDataFrame(
        [(int(got["n_docs"]), int(got["sum_chars"]),
          int(got["min_doc_id"]), int(got["max_doc_id"]))],
        "n_docs bigint, sum_chars bigint, min_doc_id bigint, max_doc_id bigint",
    )


@register(
    "fn_map_suite",
    # every output is a scalar the oracle derives directly from the base
    # columns — the map column itself never crosses the comparison, only
    # what the map operators computed from it
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_up,
           CAST(2 AS INT) AS n_keys,
           CAST(CASE WHEN p_size > 25 THEN 1 ELSE 0 END
                + CASE WHEN p_retailprice > 1500 THEN 1 ELSE 0 END AS INT)
             AS n_big,
           CAST(p_size + CAST(FLOOR(p_retailprice) AS BIGINT) AS BIGINT)
             AS zipped_total
    FROM part
    ORDER BY p_partkey
    """,
)
def fn_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType operator family — create_map, transform_values (value
    rewrite under the same keys), map_filter (entry predicate),
    map_zip_with (key-aligned merge), element_at, map_keys — all JVM
    higher-order functions inside whole-stage codegen, the idiomatic
    replacement for exploding a map to rows and re-grouping (which costs
    a shuffle per operator at scale)."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    strm = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    summ = F.create_map(
        F.lit("size"), F.col("p_size").cast("long"),
        F.lit("retail"), F.floor(F.col("p_retailprice")).cast("long"),
    )
    thresholds = F.create_map(
        F.lit("size"), F.lit(25).cast("long"),
        F.lit("retail"), F.lit(1500).cast("long"),
    )
    upper_m = F.transform_values(strm, lambda _, v: F.upper(v))
    big = F.map_filter(
        F.map_zip_with(summ, thresholds, lambda _, v, t: v > t),
        lambda _, v: v,
    )
    zipped = F.map_zip_with(summ, summ, lambda _, a, b: a + b)
    return (
        p.select(
            "p_partkey",
            F.element_at(upper_m, "brand").alias("brand_up"),
            F.size(F.map_keys(strm)).alias("n_keys"),
            F.size(big).alias("n_big"),
            F.aggregate(
                F.map_values(zipped), F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("zipped_total"),
        )
        .withColumn("zipped_total", (F.col("zipped_total") / 2).cast("long"))
        .orderBy("p_partkey")
    )


@register(
    "fn_xml_suite",
    # roundtrip contract: whatever to_xml serialized, from_xml + xpath
    # must read back — so the oracle is the original columns; a parse
    # failure surfaces as nulls and breaks the hash
    oracle="""
    SELECT p_partkey,
           p_brand AS xml_brand,
           CAST(p_size AS BIGINT) AS xml_size,
           CAST(p_size AS BIGINT) AS xpath_size
    FROM part
    ORDER BY p_partkey
    """,
)
def fn_xml_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML functions — to_xml(struct) -> from_xml(schema) roundtrip plus
    an independent xpath_long extraction over the serialized string. XML
    feeds (vendor exports, sitemaps, legacy ETL) are a real ingest
    surface; both parsers run JVM-side, no Python in the loop."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    xml = F.to_xml(
        F.struct(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("long").alias("size"),
        )
    )
    schema = StructType([
        StructField("brand", StringType()),
        StructField("size", LongType()),
    ])
    parsed = F.from_xml(F.col("__xml"), schema)
    return (
        p.withColumn("__xml", xml)
        .select(
            "p_partkey",
            parsed["brand"].alias("xml_brand"),
            parsed["size"].alias("xml_size"),
            F.xpath_long(F.col("__xml"), F.lit("/ROW/size")).alias("xpath_size"),
        )
        .orderBy("p_partkey")
    )




# ---------------------------------------------------------------------------
# r05 additions: volume/path stock statistics (OBV, VWAP, drawdown, OHLC
# resampling), per-key autocorrelation, difference-based Sharpe, and an
# exact two-sample KS statistic. The reference's indicator CSV carried
# volume features it consumed opaquely (G_2_data_exploration.ipynb cell 9);
# these are the native closed-form computations, on the events fixture in
# its degenerate single-series form (price=value, volume=props.k).
# ---------------------------------------------------------------------------


@register(
    "ind_obv_vwap",
    # OBV: integer signed-volume prefix sum (exact, order-free);
    # VWAP: exact-decimal price*volume products per (user, day) window
    oracle="""
    WITH b AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(props->>'$.k' AS BIGINT) AS vol,
             lag(value) OVER w AS prev_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(CASE WHEN prev_v IS NULL THEN 0
                    WHEN value > prev_v THEN vol
                    WHEN value < prev_v THEN -vol ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS obv,
           CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(vol AS DECIMAL(12,0)))
                OVER d AS DOUBLE)
             / CAST(NULLIF(SUM(vol) OVER d, 0) AS DOUBLE) AS vwap
    FROM b
    WINDOW d AS (PARTITION BY user_id, date_trunc('day', ts))
    """,
)
def ind_obv_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-Balance Volume (running signed-volume sum) + per-day VWAP via
    the indicator library (operators/indicators.obv / vwap_grouped) —
    both closed-form window expressions sharing the user_id shuffle."""
    from big_data_analysis_for_stock_market_data_spark import functions as fns
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events").withColumn(
        "vol", fns.json_long(F.col("props"), "$.k")
    )
    d = ind.obv(ev, partition_by="user_id", order_by="ts",
                close="value", volume="vol")
    d = d.withColumn("__day", F.date_trunc("day", F.col("ts")))
    d = ind.vwap_grouped(d, ["user_id", "__day"], price="value", volume="vol")
    return d.select("event_id", "user_id", "ts", "obv", "vwap")


@register(
    "ind_drawdown_peak",
    # running MAX is exact in floating point (no summation), so the plain
    # window form is engine-portable without decimal staging
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           MAX(value) OVER r AS peak,
           CASE WHEN MAX(value) OVER r = 0 THEN NULL
                ELSE (value - MAX(value) OVER r) / MAX(value) OVER r
           END AS drawdown
    FROM events
    WINDOW r AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ind_drawdown_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak + drawdown fraction per user
    (operators/indicators.drawdown) — the portfolio-risk primitive the
    reference's notebook plotted by hand; one ordered window, JVM
    codegen."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events")
    d = ind.drawdown(ev, partition_by="user_id", order_by="ts", col="value")
    return d.select("event_id", "user_id", "ts", "value", "peak", "drawdown")


@register(
    "w_weekly_ohlc",
    # tick -> candle compaction: arg_min/arg_max by event order (no sort),
    # exact integer volume sum; one row per candle crosses the shuffle
    oracle="""
    WITH b AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(props->>'$.k' AS BIGINT) AS vol
      FROM events
    )
    SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket,
           arg_min(value, ts) AS open, MAX(value) AS high,
           MIN(value) AS low, arg_max(value, ts) AS close,
           CAST(SUM(vol) AS BIGINT) AS volume, COUNT(*) AS n_rows
    FROM b
    GROUP BY user_id, CAST(date_trunc('week', ts) AS TIMESTAMP)
    """,
)
def w_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC candle resampling (operators/indicators.resample_ohlc):
    min_by/max_by carry open/close through a single hash aggregate with
    map-side partials — the 100 TB tick->bar compaction path (the shuffle
    carries candles, not ticks)."""
    from big_data_analysis_for_stock_market_data_spark import functions as fns
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events").withColumn(
        "vol", fns.json_long(F.col("props"), "$.k")
    )
    return ind.resample_ohlc(
        ev, partition_by="user_id", order_by="ts",
        bucket=F.date_trunc("week", F.col("ts")), bucket_name="bucket",
        price="value", volume="vol",
    )


@register(
    "a26_acf_lags",
    # every sum exact DECIMAL(28,8) (inputs <=2 decimals, products <=4 —
    # the double product is within 1 ulp of the exact 4-decimal value, so
    # the scale-8 cast rounds identically in any engine); the final
    # combination is scalar IEEE arithmetic
    oracle="""
    WITH w AS (
      SELECT user_id, value,
             lag(value, 1) OVER win AS l1,
             lag(value, 5) OVER win AS l5
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id,
        COUNT(CASE WHEN l1 IS NOT NULL AND value IS NOT NULL THEN 1 END) AS n1,
        CAST(SUM(CAST(CASE WHEN l1 IS NOT NULL THEN value END AS DECIMAL(28,8))) AS DOUBLE) AS sx1,
        CAST(SUM(CAST(CASE WHEN value IS NOT NULL THEN l1 END AS DECIMAL(28,8))) AS DOUBLE) AS sy1,
        CAST(SUM(CAST(value * l1 AS DECIMAL(28,8))) AS DOUBLE) AS sxy1,
        CAST(SUM(CAST(CASE WHEN l1 IS NOT NULL THEN value * value END AS DECIMAL(28,8))) AS DOUBLE) AS sxx1,
        CAST(SUM(CAST(CASE WHEN value IS NOT NULL THEN l1 * l1 END AS DECIMAL(28,8))) AS DOUBLE) AS syy1,
        COUNT(CASE WHEN l5 IS NOT NULL AND value IS NOT NULL THEN 1 END) AS n5,
        CAST(SUM(CAST(CASE WHEN l5 IS NOT NULL THEN value END AS DECIMAL(28,8))) AS DOUBLE) AS sx5,
        CAST(SUM(CAST(CASE WHEN value IS NOT NULL THEN l5 END AS DECIMAL(28,8))) AS DOUBLE) AS sy5,
        CAST(SUM(CAST(value * l5 AS DECIMAL(28,8))) AS DOUBLE) AS sxy5,
        CAST(SUM(CAST(CASE WHEN l5 IS NOT NULL THEN value * value END AS DECIMAL(28,8))) AS DOUBLE) AS sxx5,
        CAST(SUM(CAST(CASE WHEN value IS NOT NULL THEN l5 * l5 END AS DECIMAL(28,8))) AS DOUBLE) AS syy5
      FROM w GROUP BY user_id
    )
    SELECT user_id,
      CASE WHEN sqrt((CAST(n1 AS DOUBLE) * sxx1 - sx1 * sx1)
                     * (CAST(n1 AS DOUBLE) * syy1 - sy1 * sy1)) = 0 THEN NULL
           ELSE (CAST(n1 AS DOUBLE) * sxy1 - sx1 * sy1)
                / sqrt((CAST(n1 AS DOUBLE) * sxx1 - sx1 * sx1)
                       * (CAST(n1 AS DOUBLE) * syy1 - sy1 * sy1)) END AS acf1,
      CASE WHEN sqrt((CAST(n5 AS DOUBLE) * sxx5 - sx5 * sx5)
                     * (CAST(n5 AS DOUBLE) * syy5 - sy5 * sy5)) = 0 THEN NULL
           ELSE (CAST(n5 AS DOUBLE) * sxy5 - sx5 * sy5)
                / sqrt((CAST(n5 AS DOUBLE) * sxx5 - sx5 * sx5)
                       * (CAST(n5 AS DOUBLE) * syy5 - sy5 * sy5)) END AS acf5
    FROM g
    """,
)
def a26_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user autocorrelation at lags 1 and 5
    (operators/aggregates.acf_lags): ONE ordered window for both lag
    columns, ONE hash aggregate for all twelve exact-decimal sums — the
    stationarity screen a forecasting pipeline runs per series."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.acf_lags(ev, "user_id", "ts", "value", lags=(1, 5))


@register(
    "a27_sharpe_diff",
    oracle="""
    WITH w AS (
      SELECT user_id, value - lag(value) OVER win AS d
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ), g AS (
      SELECT user_id,
        COUNT(d) AS n_diffs,
        CAST(SUM(CAST(d AS DECIMAL(28,8))) AS DOUBLE) AS sd,
        CAST(SUM(CAST(d * d AS DECIMAL(28,8))) AS DOUBLE) AS sdd
      FROM w GROUP BY user_id
    )
    SELECT user_id, n_diffs,
      sd / CAST(n_diffs AS DOUBLE) AS mean_diff,
      sqrt(greatest((CAST(n_diffs AS DOUBLE) * sdd - sd * sd)
            / (CAST(n_diffs AS DOUBLE) * (CAST(n_diffs AS DOUBLE) - 1.0)),
            0.0)) AS std_diff,
      CASE WHEN sqrt(greatest((CAST(n_diffs AS DOUBLE) * sdd - sd * sd)
            / (CAST(n_diffs AS DOUBLE) * (CAST(n_diffs AS DOUBLE) - 1.0)),
            0.0)) = 0 THEN NULL
        ELSE (sd / CAST(n_diffs AS DOUBLE))
             / sqrt(greatest((CAST(n_diffs AS DOUBLE) * sdd - sd * sd)
                / (CAST(n_diffs AS DOUBLE) * (CAST(n_diffs AS DOUBLE) - 1.0)),
                0.0)) END AS sharpe
    FROM g
    """,
)
def a27_sharpe_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-based Sharpe per user
    (operators/aggregates.sharpe_of_diffs): mean/std of first differences
    from exact integer-moment sums — the portable risk-adjusted-return
    screen (ratio returns don't survive a decimal cast portably; diffs
    of <=2-decimal inputs do)."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.sharpe_of_diffs(ev, "user_id", "ts", "value")


@register(
    "ml_ks_2sample",
    # ECDFs over the DISTINCT-value table (one hash aggregate collapses
    # observations), cumulative counts via the two-phase parallel prefix
    # scan, totals folded back as a broadcast 1-row cross join
    oracle="""
    WITH s AS (
      SELECT value, event_type = 'click' AS ga FROM events
      WHERE event_type IN ('click', 'view')
    ), pv AS (
      SELECT value AS v,
             SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN ga THEN 0 ELSE 1 END) AS cb
      FROM s GROUP BY value
    ), c AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cuma,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cumb
      FROM pv
    ), t AS (
      SELECT SUM(ca) AS n_a, SUM(cb) AS n_b FROM pv
    )
    SELECT CAST(MAX(t.n_a) AS BIGINT) AS n_a,
           CAST(MAX(t.n_b) AS BIGINT) AS n_b,
           MAX(ABS(CAST(cuma AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                   - CAST(cumb AS DOUBLE) / CAST(t.n_b AS DOUBLE))) AS ks_stat
    FROM c CROSS JOIN t
    """,
)
def ml_ks_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the click and
    view value distributions (ml/metrics.ks_two_sample) — drift detection
    between data slices; scales as a distinct-value aggregate + parallel
    prefix scan, never a per-observation global sort."""
    from big_data_analysis_for_stock_market_data_spark.ml.metrics import ks_two_sample

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    return ks_two_sample(ev, "value", F.col("event_type") == "click")




@register(
    "g3_bfs_hops",
    # bounded level-synchronous BFS; the recursive CTE replays paths up
    # to the hop bound and MIN-groups — first-discovery level in the
    # engine == minimum distance, both all-integer
    oracle="""
    WITH RECURSIVE parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    eo AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT u, v FROM eo UNION ALL SELECT v AS u, u AS v FROM eo
    ),
    seeds AS (
      SELECT DISTINCT u AS node FROM edges WHERE u % 97 = 0
    ),
    walk(node, d) AS (
      SELECT node, 0 FROM seeds
      UNION ALL
      SELECT e.v, w.d + 1
      FROM walk w JOIN edges e ON e.u = w.node
      WHERE w.d < 3
    )
    SELECT node, MIN(d) AS hops FROM walk GROUP BY node ORDER BY node
    """,
)
def g3_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (<=3) from seed parts over the undirected
    co-purchase graph (operators/graph.bfs_hops) — level-synchronous BFS
    where each level is a frontier equi join + anti join on the node key
    (co-partitioned at scale, flat lineage via per-level checkpoints).
    The oracle's recursive CTE enumerates bounded paths and MIN-groups;
    the engine's first-discovery level equals that minimum. Edges from
    ``_copurchase_edges``, fed both ways."""
    from big_data_analysis_for_stock_market_data_spark.operators.graph import bfs_hops

    li = load(spark, sf_dir, "lineitem")
    eo = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    edges = eo.unionByName(
        eo.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    seeds = edges.select(F.col("u").alias("node")).filter(
        F.col("node") % 97 == 0
    ).distinct()
    return bfs_hops(edges, seeds, max_hops=3).orderBy("node")


@register(
    "text_bigram_logprob",
    # interpolated bigram LM (lambda=0.8 bigram MLE + 0.2 unigram):
    # per-pair log10 p quantized ONCE to integer nano-units, per-doc
    # INTEGER sum — order-free; literals CAST AS DOUBLE (bare decimals
    # are DECIMAL in DuckDB); division/addition order mirrored exactly
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({{toks}}) AS term,
             generate_subscripts({{toks}}, 1) AS pos
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, a, term AS b FROM (
        SELECT doc_id, term, pos,
               lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS a
        FROM toks
      ) WHERE a IS NOT NULL
    ),
    big AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY a, b),
    lefts AS (SELECT a, SUM(cab) AS ca FROM big GROUP BY a),
    uni AS (SELECT term AS b, COUNT(*) AS cb FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS nt FROM toks),
    scored AS (
      SELECT big.a, big.b,
             CAST(round(log10(
               CAST(0.8 AS DOUBLE)
                 * (CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE))
               + CAST(0.2 AS DOUBLE)
                 * (CAST(cb AS DOUBLE) / CAST(nt AS DOUBLE))
             ) * 1e9) AS BIGINT) AS logp_nano
      FROM big
      JOIN lefts ON lefts.a = big.a
      JOIN uni ON uni.b = big.b
      CROSS JOIN n
    ),
    perdoc AS (
      SELECT p.doc_id, COUNT(*) AS n_bigrams,
             CAST(SUM(s.logp_nano) AS BIGINT) AS sum_logp_nano
      FROM pairs p JOIN scored s ON s.a = p.a AND s.b = p.b
      GROUP BY p.doc_id
    )
    SELECT d.doc_id, COALESCE(perdoc.n_bigrams, 0) AS n_bigrams,
           perdoc.sum_logp_nano
    FROM documents d LEFT JOIN perdoc ON perdoc.doc_id = d.doc_id
    """.replace("{toks}", _DUCK_TOKS),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM document score (operators/text.
    bigram_logprob) — the fluency/quality signal one step up from the
    unigram filter: corpus-trained bigram MLE backed off to unigram
    (lambda = 0.8), per-pair log10 p quantized to integer nano-units so
    the per-doc sum is order-free and engine-exact. Spine-preserving:
    docs with < 2 tokens keep a row (0 bigrams, NULL score)."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        bigram_logprob,
    )

    docs = load(spark, sf_dir, "documents")
    return bigram_logprob(docs, col="text", id_col="doc_id")




@register(
    "a28_entropy_by_group",
    # per-class terms -p*log2(p) from identical integer (count, total)
    # pairs, quantized once to integer nano-units -> order-free per-key sum
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, c,
             SUM(c) OVER (PARTITION BY user_id) AS n
      FROM c
    )
    SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_rows, COUNT(*) AS n_classes,
           CAST(SUM(CAST(round(
             -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9
           ) AS BIGINT)) AS BIGINT) AS entropy_nano
    FROM t GROUP BY user_id
    """,
)
def a28_entropy_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution
    (operators/aggregates.group_entropy) — the class-balance / slice-skew
    screen of a training-data audit, in portable integer nano-units. Two
    grouped aggregates + one key window; shuffle keys (user, type) then
    (user)."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.group_entropy(ev, "user_id", "event_type")


@register(
    "ml_lift_table",
    # group-atomic deciles: a distinct-score group's bucket is decided by
    # the count of strictly-higher-scoring rows (ties stay together —
    # ntile's order-dependent tie splitting is not portable); cumulative
    # counts via the fused two-phase prefix scan; totals broadcast-folded
    oracle="""
    WITH s AS (
      SELECT value AS sc,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
    ),
    g AS (SELECT sc, COUNT(*) AS cnt, SUM(pos) AS npos FROM s GROUP BY sc),
    c AS (
      SELECT sc, cnt, npos,
             SUM(cnt) OVER (ORDER BY sc DESC
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(npos) OVER (ORDER BY sc DESC
                             ROWS UNBOUNDED PRECEDING) AS cumpos
      FROM g
    ),
    t AS (SELECT SUM(cnt) AS n, SUM(npos) AS p FROM g),
    b AS (
      SELECT CAST(floor(10 * (cum - cnt) / n) AS INT) + 1 AS bucket,
             cnt, npos, cum, cumpos, n, p
      FROM c CROSS JOIN t
    )
    SELECT bucket,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(SUM(npos) AS BIGINT) AS n_pos,
           CAST(MAX(cum) AS BIGINT) AS cum_rows,
           CAST(MAX(cumpos) AS BIGINT) AS cum_pos,
           CAST(MAX(cumpos) AS DOUBLE) / CAST(MAX(p) AS DOUBLE) AS cum_gain,
           (CAST(MAX(cumpos) AS DOUBLE) / CAST(MAX(cum) AS DOUBLE))
             / (CAST(MAX(p) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)) AS cum_lift
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def ml_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gain table for the purchase propensity of the value
    score (ml/metrics.lift_table) — the campaign-targeting evaluation
    companion to exact AUC and the KS drift statistic. Group-atomic
    deciles over the distinct-score table keep the result deterministic
    on any engine and partitioning; never a per-row global sort."""
    from big_data_analysis_for_stock_market_data_spark.ml.metrics import lift_table

    ev = load(spark, sf_dir, "events")
    return lift_table(
        ev, "value", F.col("event_type") == "purchase", n_buckets=10
    )


def _semantic_dedup_oracle_sql(
    threshold=0.95, n_clusters=8, n_iters=2, dim=64
) -> str:
    """SemDeDup replay: the shared deterministic-Lloyd CTE chain, then
    exhaustive within-cluster cosine pairs and the order-free
    lowest-id-near-neighbor prune rule."""
    ctes = _det_kmeans_ctes(n_clusters, n_iters, dim)
    cos = (
        f"ROUND({_duck_dot('a.embedding', 'b.embedding')}"
        f" / ({_duck_norm('a.embedding')} * {_duck_norm('b.embedding')}), 6)"
    )
    ctes.append(f"""pairs AS (
      SELECT * FROM (
        SELECT b.vec_id AS id_b, a.vec_id AS id_a, {cos} AS cos_sim
        FROM final_assign a JOIN final_assign b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      ) WHERE cos_sim >= {threshold}
    )""")
    ctes.append("""dups AS (
      SELECT id_b AS vec_id, MIN(id_a) AS dup_of,
             MIN_BY(cos_sim, id_a) AS cos_to_dup
      FROM pairs GROUP BY id_b
    )""")
    return f"""
    WITH {", ".join(ctes)}
    SELECT f.vec_id, f.cluster, d.dup_of, d.cos_to_dup,
           (d.dup_of IS NULL) AS is_kept
    FROM final_assign f LEFT JOIN dups d ON d.vec_id = f.vec_id
    """


@register("dedup_semantic_ivf", oracle=_semantic_dedup_oracle_sql(threshold=0.4))
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space semantic dedup (the SemDeDup shape): deterministic
    k-means cells, exhaustive within-cell cosine, prune every vector with
    a lower-id near neighbor (dedup.semantic_dedup). The full iterative
    quantizer + prune decision is hash-verified against the unrolled SQL
    replay — same evidence standard as simsearch_ivf_det_topk. Threshold
    0.4 per the fixture's near-orthogonal geometry (see dedup_cosine_near);
    19 of the corpus's 59 over-threshold pairs co-cluster at k=8 — the
    in-cell-exhaustive / cross-cell-missed recall trade the SemDeDup
    formulation explicitly accepts (tighter cells raise recall)."""
    from big_data_analysis_for_stock_market_data_spark.operators.dedup import semantic_dedup

    emb = load(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, n_clusters=8, n_iters=2)


@register(
    "dedup_paragraphs_rebuild",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    spine AS (
      SELECT doc_id, CAST(ceil(len(t) / 10.0) AS INT) AS n_paras, t
      FROM toks
    ),
    paras AS (
      SELECT doc_id, u.para_idx, u.ptext FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, CAST(n_paras AS BIGINT)),
                 i -> struct_pack(para_idx := i,
                        ptext := array_to_string(
                          t[(i*10+1):(i*10+10)], ' ')))) AS u
        FROM spine
      )
    ),
    kept AS (
      SELECT doc_id, para_idx, ptext FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY ptext ORDER BY doc_id, para_idx) AS rn
        FROM paras
      ) WHERE rn = 1
    ),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(ptext, ' ' ORDER BY para_idx) AS dedup_text
      FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_paras,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.dedup_text, '') AS dedup_text
    FROM spine s LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
    """,
)
def dedup_paragraphs_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level corpus dedup with document reassembly
    (dedup.paragraph_dedup) — the MassiveText/CCNet sub-document dedup:
    repeated paragraphs survive only at their corpus-first (doc, idx)
    occurrence; each document is rebuilt from its surviving paragraphs in
    order (spine-preserving: fully-deduped docs keep a row)."""
    from big_data_analysis_for_stock_market_data_spark.operators.dedup import paragraph_dedup

    docs = load(spark, sf_dir, "documents")
    return paragraph_dedup(docs, para_words=10)


@register(
    "s_binaryfile_scan",
    # same synthesized-container arithmetic as mm_container_headers,
    # restricted to the written id range — what this entry adds is the
    # SOURCE: blobs go to one-file-per-asset on disk from the executors
    # and come back through Spark's binaryFile format, so a green hash
    # proves bytes survived the write -> file -> binaryFile-scan loop
    oracle="""
    WITH s AS (
      SELECT doc_id, strlen(text) AS len FROM documents WHERE doc_id < 120
    ),
    png AS (
      SELECT doc_id,
             1 + doc_id % 128 AS w, 1 + doc_id % 96 AS h,
             1 + (len % 512) AS data_bytes
      FROM s WHERE doc_id % 4 = 0
    ),
    wav AS (
      SELECT doc_id,
             8000 + (doc_id % 5) * 2000 AS rate,
             CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS ch,
             ((len + 3) // 4) * 4 AS data_bytes
      FROM s WHERE doc_id % 2 = 1
    ),
    bmp AS (
      SELECT doc_id,
             1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
      FROM s WHERE doc_id % 2 = 0 AND doc_id % 4 <> 0
    )
    SELECT doc_id, 'wav' AS container,
           CAST(rate AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(data_bytes // (ch * 2) AS BIGINT) AS n_samples,
           CAST(round((data_bytes // (ch * 2)) * 1000000.0 / rate)
                AS BIGINT) AS duration_micros,
           CAST(NULL AS BIGINT) AS width,
           CAST(NULL AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS bpp,
           CAST(data_bytes AS BIGINT) AS data_bytes
    FROM wav
    UNION ALL
    SELECT doc_id, 'bmp', NULL, NULL, NULL, NULL, NULL,
           CAST(w AS BIGINT), CAST(h AS BIGINT), CAST(24 AS BIGINT),
           CAST(((w * 3 + 3) // 4) * 4 * h AS BIGINT)
    FROM bmp
    UNION ALL
    SELECT doc_id, 'png', NULL, NULL, NULL, NULL, NULL,
           CAST(w AS BIGINT), CAST(h AS BIGINT), CAST(24 AS BIGINT),
           CAST(data_bytes AS BIGINT)
    FROM png
    ORDER BY doc_id
    """,
)
def s_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` SOURCE end-to-end: synthesized media containers
    are written one-file-per-asset from the executors
    (sources/io.write_binary_files), scanned back via
    ``spark.read.format("binaryFile")`` with a pathGlobFilter, ids
    recovered from the file path, and the real chunk-walking parser
    (multimodal.parse_container_headers) runs on the scanned ``content``
    column — the full loop a multimodal lakehouse ingest performs."""
    import tempfile

    from big_data_analysis_for_stock_market_data_spark.operators import multimodal as mm
    from big_data_analysis_for_stock_market_data_spark.sources.io import (
        read_binary_files,
        write_binary_files,
    )

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    out_dir = tempfile.mkdtemp(prefix="engine_binfiles_")
    synth = mm.synthesize_containers(docs, id_col="doc_id")
    write_binary_files(synth, out_dir, id_col="doc_id")
    scanned = read_binary_files(spark, out_dir).select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content").alias("payload"),
    )
    return mm.parse_container_headers(scanned, id_col="doc_id").orderBy(
        "doc_id"
    )


def _plsa_oracle_sql(
    k: int = 4, vocab_size: int = 100, iters: int = 2,
    top_terms: int = 5, s_resp: int = 10_000, s_prob: int = 1_000_000,
) -> str:
    """Unrolled-CTE replay of ml/pipeline.train_plsa_topics: one
    (e, phi, theta) CTE triple per EM iteration, all-integer."""
    head = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
    ),
    cnt AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY doc_id, term
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, SUM(c) AS n FROM cnt GROUP BY term
        ORDER BY n DESC, term LIMIT {vocab_size})
    ),
    pairs AS (
      SELECT c.doc_id, c.term, c.c FROM cnt c JOIN vocab USING (term)
    ),
    topics AS (SELECT unnest(range({k})) AS z),
    phi0 AS (
      SELECT t.z, v.term,
             CAST(1000 + CAST(('0x' || substr(md5(v.term || ':' ||
               CAST(t.z AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
               AS BIGINT) AS pq
      FROM vocab v CROSS JOIN topics t
    ),
    theta0 AS (
      SELECT d.doc_id, t.z, CAST(1000 AS BIGINT) AS tq
      FROM (SELECT DISTINCT doc_id FROM pairs) d CROSS JOIN topics t
    )"""
    its = []
    for i in range(1, iters + 1):
        its.append(f""",
    e{i} AS (
      SELECT p.doc_id, p.term, th.z,
             (p.c * (th.tq * ph.pq) * {s_resp}) //
             greatest(SUM(th.tq * ph.pq) OVER
               (PARTITION BY p.doc_id, p.term), 1) AS r
      FROM pairs p
      JOIN theta{i - 1} th ON th.doc_id = p.doc_id
      JOIN phi{i - 1} ph ON ph.z = th.z AND ph.term = p.term
    ),
    phi{i} AS (
      SELECT z, term,
             CAST((SUM(r) * {s_prob}) //
               greatest(SUM(SUM(r)) OVER (PARTITION BY z), 1)
               AS BIGINT) AS pq
      FROM e{i} GROUP BY z, term
    ),
    theta{i} AS (
      SELECT doc_id, z,
             CAST((SUM(r) * {s_prob}) //
               greatest(SUM(SUM(r)) OVER (PARTITION BY doc_id), 1)
               AS BIGINT) AS tq
      FROM e{i} GROUP BY doc_id, z
    )""")
    tail = f""",
    ranked AS (
      SELECT z, term, pq,
             ROW_NUMBER() OVER (PARTITION BY z
                                ORDER BY pq DESC, term) AS rn
      FROM phi{iters}
    )
    SELECT CAST(z AS BIGINT) AS topic,
           CAST(rn - 1 AS BIGINT) AS term_rank,
           term, CAST(pq AS BIGINT) AS phi_q
    FROM ranked WHERE rn <= {top_terms} ORDER BY topic, term_rank
    """
    return head + "".join(its) + tail


@register("ml_lda_topics", oracle=_plsa_oracle_sql())
def ml_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic modeling over the documents corpus via the engine's seeded
    QUANTIZED PLSA-EM (ml/pipeline.train_plsa_topics) — maximum-
    likelihood pLSI, the non-Bayesian sibling LDA reduces to under a
    uniform prior; every EM quantity is an exact integer so DuckDB
    replays the identical iterations as unrolled CTEs (was rows-only
    through r06). Emits the per-topic top-term table. Spark ML's
    variational LDA remains in ml/pipeline.train_lda_topics, exercised
    by test_ml. Plan per iteration: two key-equi joins + one
    (doc, term) window + two hash aggregates — k fans out rows, never
    a cartesian."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_plsa_topics,
    )

    docs = load(spark, sf_dir, "documents")
    return train_plsa_topics(docs, k=4, vocab_size=100, iters=2, top_terms=5)


@register(
    "ml_als_recommend",
    # Exact fixed-point rank-1 implicit ALS, 2 full rounds, unrolled as
    # CTEs: factors quantized to S=1000 with floor division after every
    # half-step, so each iteration's inputs are plain integers on both
    # engines (no float boundary anywhere). c = 1 + 40*r; lambda*S^2 =
    # 100000; gram terms are scalar subqueries; candidate pool = global
    # top-50 items minus the user's seen items; DuckDB // and Spark div
    # agree (floor) on the all-positive operands.
    oracle="""
    WITH r0 AS (
      SELECT CAST(o_custkey AS BIGINT) AS usr,
             CAST(l_partkey AS BIGINT) AS itm,
             1 + 40 * CAST(round(SUM(l_quantity)) AS BIGINT) AS c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY usr, itm
    ),
    v0 AS (SELECT DISTINCT itm, CAST(1000 AS BIGINT) AS fq FROM r0),
    u1 AS (
      SELECT usr, CAST(
        (SUM(c * fq) * 1000000) //
        (100000 + (SELECT SUM(fq * fq) FROM v0)
                 + SUM((c - 1) * fq * fq)) AS BIGINT) AS fq
      FROM r0 JOIN v0 USING (itm) GROUP BY usr
    ),
    v1 AS (
      SELECT itm, CAST(
        (SUM(c * fq) * 1000000) //
        (100000 + (SELECT SUM(fq * fq) FROM u1)
                 + SUM((c - 1) * fq * fq)) AS BIGINT) AS fq
      FROM r0 JOIN u1 USING (usr) GROUP BY itm
    ),
    u2 AS (
      SELECT usr, CAST(
        (SUM(c * fq) * 1000000) //
        (100000 + (SELECT SUM(fq * fq) FROM v1)
                 + SUM((c - 1) * fq * fq)) AS BIGINT) AS fq
      FROM r0 JOIN v1 USING (itm) GROUP BY usr
    ),
    v2 AS (
      SELECT itm, CAST(
        (SUM(c * fq) * 1000000) //
        (100000 + (SELECT SUM(fq * fq) FROM u2)
                 + SUM((c - 1) * fq * fq)) AS BIGINT) AS fq
      FROM r0 JOIN u2 USING (usr) GROUP BY itm
    ),
    pool AS (SELECT itm, fq AS vq FROM v2 ORDER BY fq DESC, itm LIMIT 50),
    cand AS (
      SELECT u.usr, p.itm, u.fq * p.vq AS score
      FROM u2 u CROSS JOIN pool p
      WHERE NOT EXISTS (
        SELECT 1 FROM r0 s WHERE s.usr = u.usr AND s.itm = p.itm
      )
    ),
    ranked AS (
      SELECT usr, itm, score,
             ROW_NUMBER() OVER (PARTITION BY usr
                                ORDER BY score DESC, itm) AS rn
      FROM cand
    )
    SELECT usr AS user, CAST(rn - 1 AS BIGINT) AS rec_rank,
           itm AS item, CAST(score AS BIGINT) AS score_q
    FROM ranked WHERE rn <= 3 ORDER BY user, rec_rank
    """,
)
def ml_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback ALS recommendations on the customer x part
    purchase matrix (orders ⋈ lineitem, rating = summed quantity),
    top-3 unseen items per user — via the engine's EXACT fixed-point
    rank-1 ALS (ml/pipeline.train_als_rank1_exact): every half-step is
    one key-partitioned join + hash aggregate with a 1-row broadcast
    gram fold, factors quantized to integers so DuckDB replays the
    identical iteration (was rows-only through r06; this is the
    'fixed-iteration ALS in quantized integer space' oracle). Spark
    ML's blocked float ALS remains in ml/pipeline.train_als_recommend,
    exercised by test_ml."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_als_rank1_exact,
    )

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    ratings = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
        )
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("rating"))
    )
    return train_als_rank1_exact(ratings, k=3)


@register(
    "samp_temperature_mix",
    # tau=0.5 temperature mix: weights quantize to round(sqrt(n)*1e6)
    # (sqrt is IEEE-correctly-rounded on both engines), the binding group
    # is the smallest by monotonicity, and the keep threshold
    # floor(10000*w_g*n_m/(w_m*n_g)) is pure BIGINT arithmetic — no
    # float boundary anywhere past the one quantization
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n,
             CAST(round(sqrt(n) * 1000000.0) AS BIGINT) AS wq
      FROM c
    ),
    m AS (SELECT n AS nm, wq AS wm FROM w ORDER BY n, lang LIMIT 1),
    thr AS (
      SELECT lang,
             (10000 * wq * m.nm) // (m.wm * n) AS thr
      FROM w, m
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN thr ON thr.lang = d.lang
    WHERE CAST(('0x' || substr(md5(d.doc_id::VARCHAR || ':42'), 1, 8))
               AS BIGINT) % 10000 < thr.thr
    ORDER BY d.doc_id
    """,
)
def samp_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled LANGUAGE mixing at tau=0.5
    (operators/sampling.temperature_mix): per-language keep rates follow
    n^0.5 shares — the multilingual-LM rebalancing rule between natural
    proportions (tau=1) and equal shares (tau→0) — with the binding
    (smallest: fr) language kept whole while dominant en is thinned
    toward its tempered share. Membership is the md5 split_bucket
    formula; the whole mix is replayable from (key, seed, counts)."""
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    docs = load(spark, sf_dir, "documents")
    out = sp.temperature_mix(docs, "lang", "doc_id", tau=0.5, seed=42)
    return out.select("doc_id", "source", "lang").orderBy("doc_id")


@register(
    "ind_rolling_median",
    # exact interpolated percentiles over the shared 15-row frame,
    # quantized to integer micros (the true values are exact multiples of
    # 2.5e-3 — double noise is orders of magnitude below the rounding
    # step, so the integer is engine-exact)
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
           CAST(round(median(value) OVER fr * 1000000.0) AS BIGINT)
             AS med_micros,
           CAST(round(quantile_cont(value, 0.25) OVER fr * 1000000.0)
                AS BIGINT) AS p25_micros,
           CAST(round(quantile_cont(value, 0.75) OVER fr * 1000000.0)
                AS BIGINT) AS p75_micros
    FROM events
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
    """,
)
def ind_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-median filter + robust p25/p75 band
    (operators/indicators.rolling_median_band) — the outlier-robust
    smoother the mean-based indicator family lacks; one shared
    symbol-partitioned window shuffle for all three statistics."""
    from big_data_analysis_for_stock_market_data_spark.operators.indicators import (
        rolling_median_band,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = rolling_median_band(ev, n=15)
    return ev.select("event_id", "user_id", "ts", "value").join(
        out.select("user_id", "ts", "med_micros", "p25_micros", "p75_micros"),
        ["user_id", "ts"],
    )


@register(
    "fn_bitmap_suite",
    # bitmap distinct is EXACT (a positional bitmap, not a sketch): the
    # oracle is plain COUNT(DISTINCT); the Spark side additionally
    # proves MERGEABILITY by building per-(priority,status) bitmaps and
    # OR-merging them up to priority level
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def fn_bitmap_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-aggregate distinct counting (bitmap_bit_position →
    bitmap_construct_agg → bitmap_or_agg → bitmap_count): EXACT distinct
    via positional bitmaps, built per sub-group and OR-MERGED up a level
    — the mergeable-exact-distinct layout (per-partition/day bitmaps
    rolled into totals without rescanning) that sits between plain
    COUNT(DISTINCT) (one monolithic shuffle) and HLL (approximate)."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__bm_orders")
    # Keys shift by +1 because bitmap_bit_position(x) = (x-1) % 32768:
    # key 0 maps to position -1, which bitmap_construct_agg silently
    # DROPS (every group containing key 0 undercounted by one — the r05
    # audit bug). Leaves also group by bitmap_bucket_number so two keys
    # 32768 apart land in different bitmaps instead of colliding on the
    # same bit; the rollup then OR-merges per (priority, bucket) and SUMS
    # bitmap_count across buckets — the honest mergeable-exact-distinct
    # layout at any key range.
    return spark.sql("""
        WITH leaf AS (
          SELECT o_orderpriority, o_orderstatus,
                 bitmap_bucket_number(o_custkey + 1) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(o_custkey + 1))
                   AS bm
          FROM __bm_orders
          GROUP BY o_orderpriority, o_orderstatus,
                   bitmap_bucket_number(o_custkey + 1)
        ),
        merged AS (
          SELECT o_orderpriority, bkt, bitmap_or_agg(bm) AS bm
          FROM leaf
          GROUP BY o_orderpriority, bkt
        )
        SELECT o_orderpriority,
               CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_distinct_cust
        FROM merged
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


@register(
    "fn_sql_udf",
    # the SQL-UDF body is pure expression logic, so the oracle inlines it
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 150000 THEN 'large'
                WHEN o_totalprice >= 30000 THEN 'mid'
                ELSE 'small' END AS size_band,
           round(o_totalprice * (1.0 - 0.04), 2) AS discounted
    FROM orders
    ORDER BY o_orderkey
    """,
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL user-defined functions (CREATE TEMPORARY FUNCTION ... RETURN
    expr): user extensibility WITHOUT leaving the JVM — the function body
    inlines into the Catalyst plan (codegen'd, pushdown-transparent),
    unlike a Python UDF which walls off the optimizer. Two scalar UDFs
    (banding + discount arithmetic) registered and applied in one
    projection."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__udf_orders")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION size_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 150000 THEN 'large'
                    WHEN p >= 30000 THEN 'mid'
                    ELSE 'small' END
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION apply_discount(
            p DOUBLE, rate DOUBLE)
        RETURNS DOUBLE
        RETURN round(p * (1.0 - rate), 2)
    """)
    return spark.sql("""
        SELECT o_orderkey,
               size_band(o_totalprice) AS size_band,
               apply_discount(o_totalprice, 0.04) AS discounted
        FROM __udf_orders
        ORDER BY o_orderkey
    """)


@register(
    "fn_parameterized_sql",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_totalprice < 50000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def fn_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql named-argument binding) + the
    IDENTIFIER clause for safe dynamic table references — the
    injection-proof form of dynamic SQL (values bind as literals in the
    parse tree, identifiers go through the resolver, neither through
    string concatenation)."""
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_price
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice < :cap
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"tbl": "__param_orders", "cap": 50000.0},
    )


@register(
    "ps_pandas_api",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def ps_pandas_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (pyspark.pandas): a pandas-shaped groupby
    aggregation that compiles to the SAME distributed Catalyst plan as
    the DataFrame form — the migration surface for pandas codebases. The
    exact-decimal sum is injected as a pre-scaled integer column (pandas
    semantics have no decimal cast), then the result converts back via
    to_spark()."""
    import pyspark.pandas as ps

    orders = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_totalprice",
        # exact-decimal trick under pandas semantics: sum integer
        # hundredths, descale once
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("__cents"),
    )
    pdf = orders.pandas_api()
    agg = pdf.groupby("o_orderstatus").agg(
        n_orders=("o_totalprice", "count"),
        cents=("__cents", "sum"),
        max_price=("o_totalprice", "max"),
    )
    out = agg.reset_index().to_spark()
    return out.select(
        "o_orderstatus",
        F.col("n_orders").cast("long").alias("n_orders"),
        (F.col("cents") / 100.0).alias("sum_price"),
        F.col("max_price").cast("double").alias("max_price"),
    ).orderBy("o_orderstatus")


@register(
    "simsearch_int8_quant",
    # q = round(127 * x / max|x|) on doubles derived from the SAME
    # float32 payload: IEEE multiply/divide + double->integer rounding,
    # no libm, so the codes hash exactly. The code array is projected to
    # a comma-joined STRING on BOTH engines: the driver canonicalizes
    # results via pandas.sort_values over raw columns, which cannot
    # factorize list cells (r07 driver-red: "unhashable type: 'list'"),
    # so top-level output columns must be scalars (enforced repo-wide by
    # tests/test_oracle_types.py).
    oracle="""
    SELECT vec_id, scale_abs,
           array_to_string(
             CASE WHEN scale_abs = 0.0
                  THEN list_transform(emb, v -> 0)
                  ELSE list_transform(
                    emb, v -> CAST(round(v / scale_abs * 127.0) AS INTEGER))
             END, ',') AS q8_csv
    FROM (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb,
             list_max(list_transform(
               embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale_abs
      FROM embeddings
    )
    ORDER BY vec_id
    """,
)
def simsearch_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding corpus
    (operators/simsearch.int8_quantize) — the vector-store compression
    path (4x vs float32): scale + int8 code array per vector, pure JVM
    array expressions, shuffle-free. The entry projects the code array
    as a comma-joined string (scalar output contract; the operator API
    itself returns the real array column)."""
    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        int8_quantize,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = int8_quantize(emb)
    return q.select(
        "vec_id",
        "scale_abs",
        F.concat_ws(
            ",", F.transform("q8", lambda v: v.cast("string"))
        ).alias("q8_csv"),
    ).orderBy("vec_id")


@register(
    "s_schema_evolution",
    # two generations of files in one dataset dir: generation 1 lacks the
    # customer-key column; mergeSchema=true must surface it as
    # NULL for generation-1 rows. The oracle reproduces the generation
    # split (o_orderkey parity) on the source table.
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN NULL
                         ELSE o_custkey END) AS BIGINT)
             AS sum_new_col,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_new
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def s_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet dataset: generation-1 files written
    without a column, generation-2 files with it; a mergeSchema read
    reconciles both (added column NULL for old files) — the lakehouse
    add-a-column migration path, verified by aggregating the merged
    frame against the source-table replay of the generation split."""
    import tempfile

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    out_dir = tempfile.mkdtemp(prefix="engine_schema_evo_")
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 != 0)
    gen1.write.mode("overwrite").parquet(out_dir + "/gen=1")
    gen2.write.mode("overwrite").parquet(out_dir + "/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        out_dir + "/gen=1", out_dir + "/gen=2"
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_custkey").alias("sum_new_col"),
            F.sum(
                F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
            ).alias("n_null_new"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "dq_referential_integrity",
    # one-pass-per-edge orphan audit over the star schema's FK edges;
    # LEFT ANTI joins count keys with no parent — the expectations-style
    # data-quality gate a pipeline runs before training/merge
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans,
           (SELECT COUNT(*) FROM lineitem) AS n_rows
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey))
                AS BIGINT),
           (SELECT COUNT(*) FROM supplier)
    ORDER BY fk_edge
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    per edge, the orphan count (LEFT ANTI join against the parent — the
    parent side broadcasts when small) and the child row count. The
    expectations-style gate a pipeline runs before joins/merges assume
    the FKs hold; at 100 TB each edge is one anti join with the dimension
    side broadcast (nation/customer) or shuffle-keyed (orders)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load(spark, sf_dir, "supplier").select("s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey")

    def edge(name, child, parent, ck, pk):
        # one pass per edge: LEFT join against the DISTINCT parent keys
        # (distinct makes the join row-preserving even if the parent's
        # "PK" has duplicates — this is a dq tool, it must not assume
        # the invariant it audits), then orphan and total counts in the
        # same aggregate. The former anti-join + separate-total form
        # scanned the child twice per edge (12 scans for 4 edges; now 8)
        # and crossed two 1-row aggregates.
        marked = parent.select(F.col(pk)).distinct().withColumn(
            "__hit", F.lit(1)
        )
        return (
            child.join(marked, child[ck] == marked[pk], "left")
            .agg(
                F.count(F.when(F.col("__hit").isNull(), 1)).alias(
                    "n_orphans"
                ),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .select(F.lit(name).alias("fk_edge"), "n_orphans", "n_rows")
        )

    out = (
        edge("lineitem.l_orderkey->orders", li,
             orders.select("o_orderkey"), "l_orderkey", "o_orderkey")
        .unionByName(edge("orders.o_custkey->customer",
                          orders.select("o_custkey"),
                          cust.select("c_custkey"), "o_custkey", "c_custkey"))
        .unionByName(edge("customer.c_nationkey->nation",
                          cust.select("c_nationkey"), nation,
                          "c_nationkey", "n_nationkey"))
        .unionByName(edge("supplier.s_nationkey->nation", sup, nation,
                          "s_nationkey", "n_nationkey"))
    )
    return out.orderBy("fk_edge")


@register(
    "ts_seasonal_naive_backtest",
    # seasonal-naive baseline: prediction(t) = value(t - 24h bucket) on
    # each user's hourly rollup; scored with integer-micros absolute
    # errors (order-free sums) over the rows where a season-back value
    # exists — the forecasting sanity baseline every model must beat
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT user_id, h, v,
             LAG(v, 24) OVER (PARTITION BY user_id ORDER BY h) AS pred
      FROM hourly
    )
    SELECT user_id,
           COUNT(pred) AS n_scored,
           CAST(SUM(CAST(round(abs(v - pred) * 1000000.0) AS BIGINT))
                AS BIGINT) AS sum_abs_err_micros,
           CAST(MAX(CAST(round(abs(v - pred) * 1000000.0) AS BIGINT))
                AS BIGINT) AS max_abs_err_micros
    FROM lagged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def ts_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting baseline with backtest scoring: hourly
    per-user rollup (exact-decimal sums), prediction = the value 24
    buckets earlier, absolute errors aggregated in integer micro-units
    (order-free). The baseline every forecasting model must beat; one
    rollup shuffle + one key-partitioned lag window."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(dsum(F.col("value"), "v"))
    )
    w = Window.partitionBy("user_id").orderBy("h")
    lagged = hourly.withColumn("pred", F.lag("v", 24).over(w))
    err = F.round(F.abs(F.col("v") - F.col("pred")) * 1e6, 0).cast("long")
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count("pred").alias("n_scored"),
            F.sum(err).alias("sum_abs_err_micros"),
            F.max(err).alias("max_abs_err_micros"),
        )
        .orderBy("user_id")
    )


@register(
    "mm_wav_native_decode",
    # closed-form replay of the planted PCM series: the Spark side
    # builds a real RIFF/WAVE container (junk chunk on odd ids) and
    # NATIVE-decodes it back; the oracle computes the same integer stats
    # straight from the sample formula, so any decode defect (chunk
    # offsets, alignment, sample width) breaks the hash
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (
      SELECT u.user_id, t.i,
             CAST(((u.user_id * 31 + t.i * 7) % 65536) - 32768 AS BIGINT)
               AS v
      FROM u, unnest(range(0, 200 + u.user_id % 57)) AS t(i)
    )
    SELECT user_id,
           COUNT(*) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_samples,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           CAST(MIN(v) AS BIGINT) AS min_sample,
           CAST(MAX(v) AS BIGINT) AS max_sample,
           CAST(MIN(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_sample,
           CAST(MIN(CASE WHEN i = 199 + user_id % 57 THEN v END) AS BIGINT)
             AS last_sample
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def mm_wav_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio sample decode, library-free (operators/multimodal.
    decode_wav_samples): per user, a PCM WAV is built around a planted
    int16 series — with a junk chunk before fmt on odd ids — then decoded
    back natively; the emitted integer stats must equal the oracle's
    closed-form replay of the planted series. Closes the 'decode is
    stubbed' gap for PCM audio (JPEG/GIF stay behind the stub)."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        wav_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return wav_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_png_native_decode",
    # closed-form replay of the planted pixels: the Spark side zlib-
    # encodes real filtered scanlines (filter type = row % 5, so every
    # unfilter algorithm runs in every image) and decodes them back; the
    # row-weighted red sum is flip/offset-sensitive
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    px AS (
      SELECT u.user_id,
             8 + u.user_id % 9 AS w, 5 + u.user_id % 7 AS h,
             r.i AS r, c.i AS c,
             CAST((u.user_id * 7 + r.i * 31 + c.i * 13) % 256 AS BIGINT)
               AS red,
             CAST((u.user_id * 7 + r.i * 31 + c.i * 13 + 71) % 256
                  AS BIGINT) AS green,
             CAST((u.user_id * 7 + r.i * 31 + c.i * 13 + 142) % 256
                  AS BIGINT) AS blue
      FROM u,
           unnest(range(0, 5 + u.user_id % 7)) AS r(i),
           unnest(range(0, 8 + u.user_id % 9)) AS c(i)
    )
    SELECT user_id,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(SUM(red) AS BIGINT) AS sum_r,
           CAST(SUM(green) AS BIGINT) AS sum_g,
           CAST(SUM(blue) AS BIGINT) AS sum_b,
           CAST(SUM((r + 1) * red) AS BIGINT) AS rowweighted_r
    FROM px GROUP BY user_id ORDER BY user_id
    """,
)
def mm_png_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode, library-free (operators/multimodal.
    decode_png_pixels — stdlib zlib + all five scanline unfilter
    algorithms): per user, planted pixels are PNG-encoded with filter
    type r % 5 and decoded back; channel sums plus a row-weighted sum
    (catches bottom-up or shifted scanlines) must equal the oracle's
    closed-form pixel replay. Closes the 'decode is stubbed' gap for
    8-bit truecolor PNG and 24-bit BMP (same pixel path)."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        png_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return png_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_gif_native_decode",
    # closed-form replay of the planted palette indices: idx = (id*11 +
    # r*29 + c*17) % 256, colors (idx, 3*idx % 256, 7*idx % 256); the
    # Spark side LZW-encodes a real GIF89a and decodes it back natively
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    px AS (
      SELECT u.user_id,
             6 + u.user_id % 8 AS w, 4 + u.user_id % 6 AS h,
             r.i AS r,
             (u.user_id * 11 + r.i * 29 + c.i * 17) % 256 AS idx
      FROM u,
           unnest(range(0, 4 + u.user_id % 6)) AS r(i),
           unnest(range(0, 6 + u.user_id % 8)) AS c(i)
    )
    SELECT user_id,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(SUM(idx) AS BIGINT) AS sum_r,
           CAST(SUM((idx * 3) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((idx * 7) % 256) AS BIGINT) AS sum_b,
           CAST(SUM((r + 1) * idx) AS BIGINT) AS rowweighted_r
    FROM px GROUP BY user_id ORDER BY user_id
    """,
)
def mm_gif_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF pixel decode, library-free (operators/multimodal.
    decode_gif_pixels — pure-Python variable-width LZW with the GIF
    late-change width convention, dictionary reset at 4096, sub-block
    reassembly, palette resolution): planted palette indices are
    LZW-encoded into genuine GIF89a payloads and decoded back; channel
    sums + a row-weighted sum must equal the oracle's closed-form
    replay. With this, JPEG's entropy coding is the only decode left
    behind the stub backend."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        gif_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return gif_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_jpeg_native_decode",
    # closed-form replay of the planted quantized coefficients: the
    # Spark side entropy-codes a REAL baseline JPEG (Annex-K Huffman
    # tables, DC prediction, ZRL/EOB, 0xFF00 stuffing, RST markers on
    # odd ids) and natively decodes it back through decode_jpeg; the
    # flat-gray pixel sum additionally pins the IDCT + level-shift path
    # (DC-only blocks reconstruct the planted gray exactly)
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    blk AS (
      SELECT u.user_id, t.i AS b,
             ((u.user_id * 7 + t.i * 13) % 401) - 200 AS dc
      FROM u,
           unnest(range(0, (2 + u.user_id % 3) * (1 + u.user_id % 2)))
             AS t(i)
    ),
    ac AS (
      SELECT blk.user_id,
             ((blk.user_id * 3 + blk.b * 5 + k.k * 11) % 31) - 15 AS v
      FROM blk, (VALUES (1), (5), (17), (33), (62)) AS k(k)
    ),
    d AS (
      SELECT user_id,
             CAST(SUM(dc) AS BIGINT) AS sum_dc,
             CAST(SUM((b + 1) * dc) AS BIGINT) AS blockweighted_dc
      FROM blk GROUP BY user_id
    ),
    a AS (
      SELECT user_id,
             CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs_ac,
             CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonzero_ac
      FROM ac GROUP BY user_id
    )
    SELECT u.user_id,
           CAST(8 * (2 + u.user_id % 3) AS BIGINT) AS width,
           CAST(8 * (1 + u.user_id % 2) AS BIGINT) AS height,
           d.sum_dc, d.blockweighted_dc, a.sum_abs_ac, a.n_nonzero_ac,
           CAST(128 * (u.user_id % 256) AS BIGINT) AS flat_pixel_sum
    FROM u JOIN d USING (user_id) JOIN a USING (user_id)
    ORDER BY u.user_id
    """,
)
def mm_jpeg_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, library-free (operators/multimodal.
    decode_jpeg, SOF0 path — canonical Huffman construction, entropy
    decode with 0xFF00 de-stuffing, DC prediction with restart reset,
    ZRL/EOB run-length, zig-zag, dequantize, float IDCT): planted
    quantized coefficients are entropy-coded into genuine baseline
    JPEGs (restart interval 2 on odd ids) and decoded back; exact
    coefficient stats plus a flat-gray pixel sum must equal the
    oracle's closed-form replay. With this, NO media codec in the
    module is stubbed — WAV, BMP, PNG, GIF, and baseline JPEG all
    decode natively."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        jpeg_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return jpeg_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_jpeg_color_decode",
    # closed-form replay of the planted per-component quantized
    # coefficients: the Spark side entropy-codes a REAL interleaved
    # 4:2:0 color JPEG (two quant tables — chroma q=2 doubles decoded
    # chroma coefficients — four Huffman table slots, per-component DC
    # prediction, RST markers on odd ids) and natively decodes it
    # through decode_jpeg; the flat-color pixel sum additionally pins
    # chroma upsampling + the YCbCr->RGB matrix (zero chroma ->
    # RGB = (g, g, g) exactly)
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    yblk AS (
      SELECT u.user_id, t.i AS b,
             ((u.user_id * 5 + t.i * 17) % 401) - 200 AS dc
      FROM u, unnest(range(0, 4 * (1 + u.user_id % 2))) AS t(i)
    ),
    yac AS (
      SELECT yblk.user_id,
             ((yblk.user_id * 3 + yblk.b * 5 + k.k * 11) % 31) - 15 AS v
      FROM yblk, (VALUES (1), (5), (17), (33), (62)) AS k(k)
    ),
    cblk AS (
      SELECT u.user_id, t.i AS b,
             ((u.user_id * 3 + t.i * 7) % 201) - 100 AS dc_cb,
             ((u.user_id * 11 + t.i * 13) % 201) - 100 AS dc_cr
      FROM u, unnest(range(0, 1 + u.user_id % 2)) AS t(i)
    ),
    cac AS (
      SELECT cblk.user_id,
             ((cblk.user_id * 7 + cblk.b * 3 + k.k * 5) % 21) - 10
               AS v_cb,
             ((cblk.user_id * 13 + cblk.b * 3 + k.k * 5) % 21) - 10
               AS v_cr
      FROM cblk, (VALUES (2), (9)) AS k(k)
    ),
    yd AS (
      SELECT user_id, CAST(SUM(dc) AS BIGINT) AS sum_dc_y
      FROM yblk GROUP BY user_id
    ),
    cd AS (
      SELECT user_id,
             CAST(2 * SUM(dc_cb) AS BIGINT) AS sum_dc_cb,
             CAST(2 * SUM(dc_cr) AS BIGINT) AS sum_dc_cr
      FROM cblk GROUP BY user_id
    ),
    ya AS (
      SELECT user_id,
             CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs_ac_y,
             CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nz_y
      FROM yac GROUP BY user_id
    ),
    ca AS (
      SELECT user_id,
             CAST(2 * SUM(ABS(v_cb) + ABS(v_cr)) AS BIGINT)
               AS sum_abs_ac_chroma,
             CAST(SUM((CASE WHEN v_cb <> 0 THEN 1 ELSE 0 END)
                    + (CASE WHEN v_cr <> 0 THEN 1 ELSE 0 END))
               AS BIGINT) AS nz_c
      FROM cac GROUP BY user_id
    )
    SELECT u.user_id,
           CAST(16 * (1 + u.user_id % 2) AS BIGINT) AS width,
           CAST(16 AS BIGINT) AS height,
           yd.sum_dc_y, cd.sum_dc_cb, cd.sum_dc_cr,
           ya.sum_abs_ac_y, ca.sum_abs_ac_chroma,
           CAST(ya.nz_y + ca.nz_c AS BIGINT) AS n_nonzero_ac,
           CAST(3 * 256 * (u.user_id % 256) AS BIGINT) AS flat_rgb_sum
    FROM u JOIN yd USING (user_id) JOIN cd USING (user_id)
           JOIN ya USING (user_id) JOIN ca USING (user_id)
    ORDER BY u.user_id
    """,
)
def mm_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline COLOR JPEG decode, library-free (operators/
    multimodal.decode_jpeg, SOF0 path): interleaved 4:2:0 YCbCr MCU scan
    with per-component quant/Huffman table routing and DC prediction,
    restart resets, nearest-neighbor chroma upsampling, and the JFIF
    YCbCr->RGB matrix. Planted per-component coefficients are
    entropy-coded into genuine color JPEGs and decoded back; exact
    per-component coefficient stats plus a flat-color RGB sum must
    equal the oracle's closed-form replay. Closes the 'color JPEG'
    half of the r06 stub list — only progressive JPEG, WebP and video
    remain documented stubs (reference north star: multimodal columns,
    SURVEY §2.8)."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        jpeg_color_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return jpeg_color_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_jpeg_progressive_decode",
    # closed-form replay of the planted coefficients (same surface as
    # mm_jpeg_native_decode) routed through the PROGRESSIVE six-scan
    # successive-approximation codec; n_newly_nonzero pins the +-1
    # refinement-insertion path and matches_baseline pins decode_jpeg's
    # progressive (SOF2) path against its sequential (SOF0) path on
    # identical coefficients (two independent entropy paths)
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    blk AS (
      SELECT u.user_id, t.i AS b,
             ((u.user_id * 7 + t.i * 13) % 401) - 200 AS dc
      FROM u,
           unnest(range(0, (2 + u.user_id % 3) * (1 + u.user_id % 2)))
             AS t(i)
    ),
    ac AS (
      SELECT blk.user_id,
             ((blk.user_id * 3 + blk.b * 5 + k.k * 11) % 31) - 15 AS v
      FROM blk, (VALUES (1), (5), (17), (33), (62)) AS k(k)
    ),
    d AS (
      SELECT user_id,
             CAST(SUM(dc) AS BIGINT) AS sum_dc,
             CAST(SUM((b + 1) * dc) AS BIGINT) AS blockweighted_dc
      FROM blk GROUP BY user_id
    ),
    a AS (
      SELECT user_id,
             CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs_ac,
             CAST(SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonzero_ac,
             CAST(SUM(CASE WHEN ABS(v) = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_newly_nonzero
      FROM ac GROUP BY user_id
    )
    SELECT u.user_id,
           CAST(8 * (2 + u.user_id % 3) AS BIGINT) AS width,
           CAST(8 * (1 + u.user_id % 2) AS BIGINT) AS height,
           d.sum_dc, d.blockweighted_dc, a.sum_abs_ac, a.n_nonzero_ac,
           a.n_newly_nonzero,
           CAST(1 AS BIGINT) AS matches_baseline
    FROM u JOIN d USING (user_id) JOIN a USING (user_id)
    ORDER BY u.user_id
    """,
)
def mm_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode, library-free (operators/multimodal.
    decode_jpeg, SOF2 path): successive approximation + spectral
    selection over a six-scan script — DC first/refine, two AC bands
    first (point transform truncating toward zero) and their
    refinement scans with newly-nonzero insertion, history-coefficient
    correction bits and EOB-run tails (T.81 Annex G). Planted
    coefficients are entropy-coded into genuine progressive JPEGs,
    decoded back, and additionally cross-decoded from a baseline (SOF0)
    payload of the same coefficients (matches_baseline = 1 requires
    bit-identical coefficients AND pixels from both entropy paths).
    Closes the 'progressive JPEG' entry of the stub list — only WebP
    and true video codecs remain documented stubs (reference north
    star: multimodal columns, SURVEY §2.8)."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        jpeg_progressive_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return jpeg_progressive_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_webp_lossless_decode",
    # closed-form replay of the planted RGBA pixels: every 3rd row is
    # forced constant (equal to pixel (0,0)) so the encoder emits real
    # distance-1 LZ77 runs; encoding uses subtract-green + a 4-bit
    # color cache, so Huffman forms, prefix coding, cache hashing and
    # the inverse transform are all on the verified path
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    px AS (
      SELECT u.user_id,
             7 + u.user_id % 8 AS w, 5 + u.user_id % 6 AS h,
             r.i AS y,
             CASE WHEN r.i % 3 = 2 THEN 0 ELSE r.i END AS ye,
             CASE WHEN r.i % 3 = 2 THEN 0 ELSE c.i END AS xe
      FROM u,
           unnest(range(0, 5 + u.user_id % 6)) AS r(i),
           unnest(range(0, 7 + u.user_id % 8)) AS c(i)
    ),
    v AS (
      SELECT user_id, w, h, y,
             (user_id * 7 + ye * 31 + xe * 13) % 256 AS red,
             (user_id * 5 + ye * 17 + xe * 29 + 71) % 256 AS green,
             (user_id * 3 + ye * 13 + xe * 7 + 142) % 256 AS blue
      FROM px
    )
    SELECT user_id,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(SUM(red) AS BIGINT) AS sum_r,
           CAST(SUM(green) AS BIGINT) AS sum_g,
           CAST(SUM(blue) AS BIGINT) AS sum_b,
           CAST(SUM((y + 1) * red) AS BIGINT) AS rowweighted_r
    FROM v GROUP BY user_id ORDER BY user_id
    """,
)
def mm_webp_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless (VP8L) decode, library-free (operators/webp.
    decode_webp_lossless): RIFF walk, simple AND normal (code-length-
    coded with repeats + max-symbol cap) canonical Huffman codes for
    all five channels, LZ77 backrefs with prefix-coded lengths/
    distances, the 0x1e35a7bd color cache, and the inverse
    subtract-green transform. Planted RGBA pixels (with forced
    constant rows exercising real distance-1 runs) are encoded into
    genuine VP8L containers and decoded back; channel sums + a
    row-weighted sum must equal the oracle's closed-form replay.
    Documented out-of-scope corners (meta-Huffman, 2-D distance map,
    predictor/palette transforms, lossy VP8) return None rather than
    guessing — see operators/webp.py module docstring. Closes the
    'WebP' entry of the stub list; only true video codecs remain
    (reference north star: multimodal columns, SURVEY §2.8)."""
    from big_data_analysis_for_stock_market_data_spark.operators.webp import (
        webp_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return webp_roundtrip_stats(users).orderBy("user_id")


@register(
    "mm_avi_frame_sample",
    # closed-form replay of the evenly-spaced frame sampling over a
    # REAL MJPEG AVI: n = 3 + id%5 frames, sample i of 3 maps to
    # source frame floor(i*n/3), whose DC-only JPEG reconstructs gray
    # (id*29 + src*37) % 256 exactly after container parse + native
    # decode_jpeg decode
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (
      SELECT u.user_id, k.i AS sample_idx,
             3 + u.user_id % 5 AS n,
             (k.i * (3 + u.user_id % 5)) // 3 AS src
      FROM u, (VALUES (0), (1), (2)) AS k(i)
    )
    SELECT user_id,
           CAST(sample_idx AS BIGINT) AS sample_idx,
           CAST(src AS BIGINT) AS src_frame,
           CAST(n AS BIGINT) AS n_frames,
           CAST(16 AS BIGINT) AS width,
           CAST(8 AS BIGINT) AS height,
           CAST((user_id * 29 + src * 37) % 256 AS BIGINT) AS gray
    FROM s ORDER BY user_id, sample_idx
    """,
)
def mm_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling over MJPEG-in-AVI, library-free
    (operators/multimodal.build_avi_mjpeg / parse_avi_frames): a
    genuine RIFF/AVI container (hdrl avih+strh+strf, movi LIST of
    '00dc' chunks with even padding, idx1 index) is walked
    recursively, frames are sampled evenly, and each sampled frame is
    decoded by operators/multimodal.decode_jpeg — the
    container/sampling plumbing ``frame_sample`` stubs is real here
    end-to-end for the one video codec expressible without external
    libraries. Inter-frame codecs (H.264/VP9/AV1) remain the
    documented stub (reference north star: multimodal columns,
    SURVEY §2.8)."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        avi_frame_sample_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return avi_frame_sample_stats(users).orderBy("user_id", "sample_idx")


@register(
    "mm_flac_native_decode",
    # closed-form replay of the planted waveform x(t) = ((id*13 + t*7)
    # % 2001) - 1000 over n = 600 + 97*(id%5) samples; frame count is
    # ceil(n/512) (block_size=512 forces a partial last frame), and
    # md5_ok = 1 pins the STREAMINFO MD5 of the reconstructed PCM
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (
      SELECT u.user_id, t.i AS t,
             ((u.user_id * 13 + t.i * 7) % 2001) - 1000 AS x,
             600 + 97 * (u.user_id % 5) AS n
      FROM u, unnest(range(0, 600 + 97 * (u.user_id % 5))) AS t(i)
    )
    SELECT user_id,
           CAST(MIN(n) AS BIGINT) AS n_samples,
           CAST((MIN(n) + 511) // 512 AS BIGINT) AS n_frames,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS md5_ok,
           CAST(SUM(x) AS BIGINT) AS sum_samples,
           CAST(SUM(ABS(x)) AS BIGINT) AS sum_abs,
           CAST(MIN(CASE WHEN t = 0 THEN x END) AS BIGINT)
             AS first_sample,
           CAST(MIN(CASE WHEN t = n - 1 THEN x END) AS BIGINT)
             AS last_sample
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def mm_flac_native_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode, library-free (operators/flac.decode_flac):
    STREAMINFO walk, CRC-8/CRC-16-verified frames, UTF-8 frame
    numbers, CONSTANT/VERBATIM/FIXED(0-4) subframes, Rice residuals
    (zig-zag, any partition order, raw escape), and the STREAMINFO
    MD5 check over the reconstructed PCM. A deterministic sawtooth is
    FLAC-encoded (fixed-order prediction + Rice genuinely compress
    it) and decoded back; exact integer sums, the frame count implied
    by the 512-sample blocking, and the MD5 flag must equal the
    closed-form replay. Extends native audio beyond PCM WAV; the
    decoder also handles LPC subframes and stereo decorrelation
    (left/side, right/side, mid/side) — wasted bits, negative LPC
    shifts, >2 channels and non-16-bit depths are the remaining
    out-of-scope corners (reference north star: multimodal columns,
    SURVEY §2.8)."""
    from big_data_analysis_for_stock_market_data_spark.operators.flac import (
        flac_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return flac_roundtrip_stats(users).orderBy("user_id")


def _gbt_oracle_sql(rounds: int = 3) -> str:
    """Unrolled-CTE replay of the exact integer GBT stumps (ml/pipeline.
    train_gbt_stumps_exact): per round, per-(feature, value) residual
    sums -> prefix sums over the value order -> integer leaf values via
    FLOOR division spelled with the pmod identity on BOTH engines
    (DuckDB's bare // TRUNCATES toward zero on negatives — pinned by
    fn_mod_semantics — so the pre-subtracted-numerator form is load-
    bearing here) -> the (gain DESC, feature, value) winner ->
    prediction update. Gains are the true SSE reduction under integer
    leaves, pure integer."""
    ctes = [
        """d0 AS (
      SELECT CAST(l_linenumber AS BIGINT) AS f1,
             CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS f2,
             CAST(round(l_discount * 100) AS BIGINT) AS f3,
             CAST(round(l_quantity) AS BIGINT) * 1000 AS ym,
             CAST(0 AS BIGINT) AS pred
      FROM lineitem
    )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""m{r} AS (
      SELECT fid, fval, COUNT(*) AS n, SUM(ym - pred) AS s FROM (
        SELECT 1 AS fid, f1 AS fval, ym, pred FROM d{p}
        UNION ALL SELECT 2, f2, ym, pred FROM d{p}
        UNION ALL SELECT 3, f3, ym, pred FROM d{p}
      ) GROUP BY fid, fval
    )""")
        ctes.append(f"""c{r} AS (
      SELECT fid, fval,
             SUM(n) OVER (PARTITION BY fid ORDER BY fval) AS nl,
             SUM(s) OVER (PARTITION BY fid ORDER BY fval) AS sl,
             MAX(fval) OVER (PARTITION BY fid) AS mx,
             (SELECT SUM(n) FROM m{r} WHERE fid = 1) AS nt,
             (SELECT SUM(s) FROM m{r} WHERE fid = 1) AS st
      FROM m{r}
    )""")
        ctes.append(f"""g{r} AS (
      SELECT fid, fval, nl, nt - nl AS nr, sl, st - sl AS sr,
             (sl - (((sl % nl) + nl) % nl)) // nl AS vl,
             ((st - sl) - ((((st - sl) % (nt - nl)) + (nt - nl))
                           % (nt - nl))) // (nt - nl) AS vr
      FROM c{r} WHERE fval < mx
    )""")
        ctes.append(f"""b{r} AS (
      SELECT fid, fval, vl, vr,
             2*vl*sl - vl*vl*nl + 2*vr*sr - vr*vr*nr AS gain
      FROM g{r} ORDER BY gain DESC, fid, fval LIMIT 1
    )""")
        ctes.append(f"""d{r} AS (
      SELECT f1, f2, f3, ym,
             pred + CASE WHEN (CASE b.fid WHEN 1 THEN f1
                               WHEN 2 THEN f2 ELSE f3 END) <= b.fval
                    THEN b.vl ELSE b.vr END AS pred
      FROM d{p}, b{r} AS b
    )""")
        ctes.append(f"""o{r} AS (
      SELECT CAST({r} AS BIGINT) AS round,
             CAST(fid AS BIGINT) AS feature,
             CAST(fval AS BIGINT) AS threshold,
             CAST(vl AS BIGINT) AS v_left_q,
             CAST(vr AS BIGINT) AS v_right_q,
             CAST(gain AS BIGINT) AS gain,
             (SELECT CAST(SUM(ABS(ym - pred)) AS BIGINT) FROM d{r})
               AS sum_abs_res_q
      FROM b{r}
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM o{r}" for r in range(1, rounds + 1))
    return "WITH " + ",\n".join(ctes) + f"\n{union} ORDER BY round"


@register("ml_gbt_exact_stumps", oracle=_gbt_oracle_sql())
def ml_gbt_exact_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer gradient-boosted stumps on lineitem (features:
    line number, ship month, discount pct; label: quantity) — the
    oracle-able twin of the rows-only Spark ML GBT (`ml_gbt_metrics`),
    mirroring the ALS/PLSA 'exact integer twin' strategy. Split
    finding is ONE pass per round (per-value aggregation + prefix
    sums, no candidate x row explode), leaf values are floor-division
    integers, gains are the true SSE reduction under integer leaves,
    and the 1-row winner broadcast-joins the update (no driver
    scalars). Reference anchor: SURVEY §2 M10 (GBTClassifier
    imported-unused in the reference, completed as first-class
    here)."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_gbt_stumps_exact,
    )

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").cast("long").alias("f1"),
        F.month("l_shipdate").cast("long").alias("f2"),
        F.round(F.col("l_discount") * 100).cast("long").alias("f3"),
        F.round("l_quantity").cast("long").alias("y"),
    )
    return train_gbt_stumps_exact(li, ["f1", "f2", "f3"], label_col="y")


def _rf_oracle_sql(n_trees: int = 5) -> str:
    """Unrolled replay of the exact RF stump forest (ml/pipeline.
    train_rf_stumps_exact): per tree, the md5-bucket bootstrap (same
    idiom as o3_hash_split), per-value sums + prefix sums, pmod
    floor-division leaves, the (gain DESC, feature, value) winner;
    then a forest majority vote over ALL rows and one confusion count
    riding on every output row."""
    ctes = [
        """d0 AS (
      SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
             CAST(l_linenumber AS BIGINT) AS f1,
             CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS f2,
             CAST(round(l_discount * 100) AS BIGINT) AS f3,
             CAST(CASE WHEN round(l_quantity) > 25 THEN 1000 ELSE 0 END
                  AS BIGINT) AS ym
      FROM lineitem
    )"""
    ]
    for t in range(1, n_trees + 1):
        ctes.append(f"""s{t} AS (
      SELECT * FROM d0
      WHERE CAST(('0x' || substr(md5(rid::VARCHAR || ':{t}:42'), 1, 8))
                 AS BIGINT) % 10 < 7
    )""")
        ctes.append(f"""m{t} AS (
      SELECT fid, fval, COUNT(*) AS n, SUM(ym) AS s FROM (
        SELECT 1 AS fid, f1 AS fval, ym FROM s{t}
        UNION ALL SELECT 2, f2, ym FROM s{t}
        UNION ALL SELECT 3, f3, ym FROM s{t}
      ) GROUP BY fid, fval
    )""")
        ctes.append(f"""c{t} AS (
      SELECT fid, fval,
             SUM(n) OVER (PARTITION BY fid ORDER BY fval) AS nl,
             SUM(s) OVER (PARTITION BY fid ORDER BY fval) AS sl,
             MAX(fval) OVER (PARTITION BY fid) AS mx,
             (SELECT SUM(n) FROM m{t} WHERE fid = 1) AS nt,
             (SELECT SUM(s) FROM m{t} WHERE fid = 1) AS st
      FROM m{t}
    )""")
        ctes.append(f"""g{t} AS (
      SELECT fid, fval, nl, nt - nl AS nr, sl, st - sl AS sr, nt,
             (sl - (((sl % nl) + nl) % nl)) // nl AS vl,
             ((st - sl) - ((((st - sl) % (nt - nl)) + (nt - nl))
                           % (nt - nl))) // (nt - nl) AS vr
      FROM c{t} WHERE fval < mx
    )""")
        ctes.append(f"""b{t} AS (
      SELECT CAST({t} AS BIGINT) AS tree, fid, fval, vl, vr,
             2*vl*sl - vl*vl*nl + 2*vr*sr - vr*vr*nr AS gain, nt
      FROM g{t} ORDER BY gain DESC, fid, fval LIMIT 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM b{t}" for t in range(1, n_trees + 1)
    )
    ctes.append(f"stumps AS ({union})")
    ctes.append("""votes AS (
      SELECT d.rid, d.ym,
             SUM(CASE WHEN 2 * (CASE WHEN
                   (CASE s.fid WHEN 1 THEN d.f1 WHEN 2 THEN d.f2
                    ELSE d.f3 END) <= s.fval
                   THEN s.vl ELSE s.vr END) >= 1000
                 THEN 1 ELSE 0 END) AS nv
      FROM d0 d CROSS JOIN stumps s GROUP BY d.rid, d.ym
    )""")
    ctes.append(f"""conf AS (
      SELECT
        CAST(SUM(CASE WHEN 2*nv > {n_trees} AND ym > 0 THEN 1 ELSE 0
             END) AS BIGINT) AS forest_tp,
        CAST(SUM(CASE WHEN 2*nv > {n_trees} AND ym = 0 THEN 1 ELSE 0
             END) AS BIGINT) AS forest_fp,
        CAST(SUM(CASE WHEN 2*nv <= {n_trees} AND ym > 0 THEN 1 ELSE 0
             END) AS BIGINT) AS forest_fn,
        CAST(SUM(CASE WHEN 2*nv <= {n_trees} AND ym = 0 THEN 1 ELSE 0
             END) AS BIGINT) AS forest_tn
      FROM votes
    )""")
    return (
        "WITH " + ",\n".join(ctes) + """
    SELECT tree, CAST(fid AS BIGINT) AS feature,
           CAST(fval AS BIGINT) AS threshold,
           CAST(vl AS BIGINT) AS v_left_q, CAST(vr AS BIGINT) AS v_right_q,
           CAST(gain AS BIGINT) AS gain, CAST(nt AS BIGINT) AS n_sample,
           forest_tp, forest_fp, forest_fn, forest_tn
    FROM stumps, conf ORDER BY tree"""
    )


@register("ml_rf_exact_stumps", oracle=_rf_oracle_sql())
def ml_rf_exact_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer random-forest stumps on lineitem (label: quantity
    > 25) — the oracle-able twin of the rows-only Spark ML
    RandomForest entries (M4, the reference's centerpiece model,
    `G_2_rf_nordd.py`): deterministic md5-bucket bootstraps replace
    XORShift sampling, exact SSE-reduction splits replace float Gini
    (equivalent ordering for binary labels), and the majority vote +
    confusion counts are replayed row-exactly by the oracle. Together
    with ml_gbt_exact_stumps this gives every tree-ensemble family a
    hash-verified twin."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_rf_stumps_exact,
    )

    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long").alias("rid"),
        F.col("l_linenumber").cast("long").alias("f1"),
        F.month("l_shipdate").cast("long").alias("f2"),
        F.round(F.col("l_discount") * 100).cast("long").alias("f3"),
        F.when(F.round("l_quantity") > 25, 1).otherwise(0)
        .cast("long").alias("y"),
    )
    return train_rf_stumps_exact(li, ["f1", "f2", "f3"], label_col="y")


@register(
    "mm_audio_features",
    # closed-form replay of windowed audio features over the DECODED
    # FLAC fixture waveform: per 256-sample frame, integer energy
    # (sum of squares) and zero-crossing count (sign product < 0 at
    # in-frame boundaries); the decode path is the verified
    # mm_flac_native_decode surface
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (
      SELECT u.user_id, t.i AS t,
             ((u.user_id * 13 + t.i * 7) % 2001) - 1000 AS x,
             ((u.user_id * 13 + (t.i - 1) * 7) % 2001) - 1000 AS xp
      FROM u, unnest(range(0, 600 + 97 * (u.user_id % 5))) AS t(i)
    )
    SELECT user_id,
           CAST(t // 256 AS BIGINT) AS win_idx,
           CAST(COUNT(*) AS BIGINT) AS n_in_window,
           CAST(SUM(x * x) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN t % 256 <> 0 AND x * xp < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM s GROUP BY user_id, t // 256
    ORDER BY user_id, win_idx
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction over NATIVELY-decoded FLAC
    (operators/flac.audio_feature_stats): per 256-sample frame,
    integer energy and zero-crossing counts — the audio analogue of
    the image feature extractors, proving decoded samples flow into
    analysis operators. The waveform reaches the features only
    through build_flac -> decode_flac, so any codec defect shifts the
    closed-form replay (reference north star: multimodal columns,
    SURVEY §2.8)."""
    from big_data_analysis_for_stock_market_data_spark.operators.flac import (
        audio_feature_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return audio_feature_stats(users).orderBy("user_id", "win_idx")


@register(
    "mm_flac_stereo_decode",
    # closed-form replay of the stereo fixture: L = ((id*13 + t*7) %
    # 2001) - 1000, R = L reversed-sign on odd ids else L shifted by
    # 250 — correlated content exercising the per-frame channel-
    # assignment chooser (mid/side, left/side, independent); md5_ok
    # pins the interleaved-PCM STREAMINFO hash
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (
      SELECT u.user_id, t.i AS t,
             ((u.user_id * 13 + t.i * 7) % 2001) - 1000 AS l,
             600 + 97 * (u.user_id % 5) AS n
      FROM u, unnest(range(0, 600 + 97 * (u.user_id % 5))) AS t(i)
    ),
    v AS (
      SELECT user_id, t, n, l,
             CASE WHEN user_id % 2 = 1 THEN -l ELSE l + 250 END AS r
      FROM s
    )
    SELECT user_id,
           CAST(MIN(n) AS BIGINT) AS n_samples,
           CAST(1 AS BIGINT) AS md5_ok,
           CAST(SUM(l) AS BIGINT) AS sum_l,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(ABS(l - r)) AS BIGINT) AS sum_abs_side
    FROM v GROUP BY user_id ORDER BY user_id
    """,
)
def mm_flac_stereo_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL STEREO FLAC decode (operators/flac.build_flac_stereo /
    decode_flac): the encoder picks the cheapest of the four channel
    assignments per frame (independent, left/side, right/side,
    mid/side with 17-bit side) and the decoder reconstructs them all;
    the fixture's odd ids (R = -L, large side) and even ids
    (R = L + 250, near-constant side) steer different assignments.
    The STREAMINFO MD5 over interleaved PCM plus exact channel sums
    must equal the closed-form replay."""
    from big_data_analysis_for_stock_market_data_spark.operators.flac import (
        build_flac_stereo,
        decode_flac,
    )
    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator as _Iter
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("md5_ok", T.LongType(), True),
        T.StructField("sum_l", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_abs_side", T.LongType(), True),
    ])

    def run(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for uid in pdf["user_id"]:
                uid = int(uid)
                n = 600 + 97 * (uid % 5)
                t = np.arange(n, dtype=np.int64)
                left = ((uid * 13 + t * 7) % 2001) - 1000
                right = -left if uid % 2 else left + 250
                dec = decode_flac(
                    build_flac_stereo(left, right, block_size=512)
                )
                got = dec["samples"]
                rows.append({
                    "user_id": uid,
                    "n_samples": dec["n_samples"],
                    "md5_ok": int(dec["md5_ok"]),
                    "sum_l": int(got[:, 0].sum()),
                    "sum_r": int(got[:, 1].sum()),
                    "sum_abs_side": int(
                        np.abs(got[:, 0] - got[:, 1]).sum()
                    ),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return (
        ensure_parallelism(users).mapInPandas(run, schema=schema)
        .orderBy("user_id")
    )


@register(
    "mm_png_interlaced_decode",
    # closed-form replay of the PNG pixel fixture routed through the
    # ADAM7 interlaced codec (seven independently-filtered lattice
    # passes, one zlib stream); matches_sequential pins the interlace
    # scatter against the driver-verified sequential PNG path on the
    # identical pixels
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    px AS (
      SELECT u.user_id,
             8 + u.user_id % 9 AS w, 5 + u.user_id % 7 AS h,
             r.i AS r,
             (u.user_id * 11 + r.i * 31 + c.i * 13) % 256 AS red,
             (u.user_id * 5 + r.i * 17 + c.i * 29 + 71) % 256 AS green,
             (u.user_id * 7 + r.i * 31 + c.i * 13 + 142) % 256 AS blue
      FROM u,
           unnest(range(0, 5 + u.user_id % 7)) AS r(i),
           unnest(range(0, 8 + u.user_id % 9)) AS c(i)
    )
    SELECT user_id,
           CAST(MIN(w) AS BIGINT) AS width,
           CAST(MIN(h) AS BIGINT) AS height,
           CAST(SUM(red) AS BIGINT) AS sum_r,
           CAST(SUM(green) AS BIGINT) AS sum_g,
           CAST(SUM(blue) AS BIGINT) AS sum_b,
           CAST(SUM((r + 1) * red) AS BIGINT) AS rowweighted_r,
           CAST(1 AS BIGINT) AS matches_sequential
    FROM px GROUP BY user_id ORDER BY user_id
    """,
)
def mm_png_interlaced_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adam7-interlaced PNG decode (operators/multimodal.
    decode_png_pixels, interlace branch): the same planted pixels as
    mm_png_native_decode are encoded through the seven-pass lattice
    (each pass independently scanline-filtered with the full filter
    set, all passes in one zlib stream) and decoded back; the
    row-weighted sum catches any pass-scatter error, and
    matches_sequential requires bit-identical pixels from the
    interlaced and sequential codec paths."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png_pixels,
        encode_png_pixels_interlaced,
    )
    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator as _Iter
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("rowweighted_r", T.LongType(), True),
        T.StructField("matches_sequential", T.LongType(), True),
    ])

    def run(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for uid in pdf["user_id"]:
                uid = int(uid)
                h, w = 5 + uid % 7, 8 + uid % 9
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack([
                    (uid * 11 + y * 31 + x * 13) % 256,
                    (uid * 5 + y * 17 + x * 29 + 71) % 256,
                    (uid * 7 + y * 31 + x * 13 + 142) % 256,
                ], axis=2).astype(np.uint8)
                dec = decode_png_pixels(encode_png_pixels_interlaced(px))
                seq = decode_png_pixels(encode_png_pixels(px))
                rows.append({
                    "user_id": uid,
                    "width": int(dec.shape[1]),
                    "height": int(dec.shape[0]),
                    "sum_r": int(dec[:, :, 0].astype(np.int64).sum()),
                    "sum_g": int(dec[:, :, 1].astype(np.int64).sum()),
                    "sum_b": int(dec[:, :, 2].astype(np.int64).sum()),
                    "rowweighted_r": int((
                        (np.arange(h)[:, None] + 1)
                        * dec[:, :, 0].astype(np.int64)
                    ).sum()),
                    "matches_sequential": int(np.array_equal(dec, seq)),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return (
        ensure_parallelism(users).mapInPandas(run, schema=schema)
        .orderBy("user_id")
    )


@register(
    "mm_transcode_pipeline",
    # closed-form replay of a LOSSLESS cross-codec chain: planted
    # pixels -> BMP -> decode -> Adam7 PNG -> decode -> VP8L WebP
    # (subtract-green + color cache) -> decode -> 2x2-block nearest
    # resize; every hop must be bit-exact, so the final stats are pure
    # fixture arithmetic over the x' = 2*floor(w/2*i/ow)... sampled
    # lattice (ow = floor(w/2), oh = floor(h/2), src = floor(o*i/oo)
    # per axis — for the exact halving this selects every even index)
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    g AS (
      SELECT u.user_id,
             8 + u.user_id % 5 AS w, 6 + u.user_id % 4 AS h
      FROM u
    ),
    px AS (
      SELECT g.user_id, g.w, g.h, r.i AS y, c.i AS x,
             (g.user_id * 3 + r.i * 19 + c.i * 7) % 256 AS red,
             (g.user_id * 5 + r.i * 11 + c.i * 23 + 50) % 256 AS green,
             (g.user_id * 7 + r.i * 13 + c.i * 17 + 100) % 256 AS blue
      FROM g,
           unnest(range(0, g.h)) AS r(i),
           unnest(range(0, g.w)) AS c(i)
      WHERE r.i % 2 = 0 AND c.i % 2 = 0
        AND r.i < 2 * (g.h // 2) AND c.i < 2 * (g.w // 2)
    )
    SELECT user_id,
           CAST(MIN(w) // 2 AS BIGINT) AS out_w,
           CAST(MIN(h) // 2 AS BIGINT) AS out_h,
           CAST(SUM(red) AS BIGINT) AS sum_r,
           CAST(SUM(green) AS BIGINT) AS sum_g,
           CAST(SUM(blue) AS BIGINT) AS sum_b,
           CAST(SUM((y // 2 + 1) * red) AS BIGINT) AS rowweighted_r
    FROM px GROUP BY user_id ORDER BY user_id
    """,
)
def mm_transcode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec LOSSLESS transcode chain (interop pin): planted
    pixels are written as BMP, decoded, re-encoded as Adam7-interlaced
    PNG, decoded, re-encoded as VP8L WebP (subtract-green + 4-bit
    color cache), decoded, then nearest-neighbor-halved. Three
    independent codecs must agree bit-exactly on the same pixel
    surface for the closed-form replay to hash — a defect in ANY
    encoder/decoder pair breaks the chain. Nearest halving keeps the
    even lattice (src = floor(out*i/out_dim) per axis), so the final
    stats stay integer-exact."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        build_bmp,
        decode_bmp_pixels,
        decode_png_pixels,
        encode_png_pixels_interlaced,
        resize_pixels_nearest,
    )
    from big_data_analysis_for_stock_market_data_spark.operators.webp import (
        build_webp_lossless,
        decode_webp_lossless,
    )
    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator as _Iter
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType(), False),
        T.StructField("out_w", T.LongType(), True),
        T.StructField("out_h", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("rowweighted_r", T.LongType(), True),
    ])

    def run(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for uid in pdf["user_id"]:
                uid = int(uid)
                w, h = 8 + uid % 5, 6 + uid % 4
                y, x = np.mgrid[0:h, 0:w]
                px = np.stack([
                    (uid * 3 + y * 19 + x * 7) % 256,
                    (uid * 5 + y * 11 + x * 23 + 50) % 256,
                    (uid * 7 + y * 13 + x * 17 + 100) % 256,
                ], axis=2).astype(np.uint8)
                # hop 1: BMP (bottom-up rows, padded stride)
                stride = ((w * 3 + 3) // 4) * 4
                rows_b = []
                for r in range(h - 1, -1, -1):
                    line = px[r, :, ::-1].tobytes()  # BGR
                    rows_b.append(line + b"\x00" * (stride - len(line)))
                p1 = decode_bmp_pixels(build_bmp(w, h, b"".join(rows_b)))
                # hop 2: Adam7 PNG
                p2 = decode_png_pixels(encode_png_pixels_interlaced(p1))
                # hop 3: VP8L WebP (adds alpha, dropped after)
                rgba = np.dstack([
                    p2, np.full((h, w), 255, dtype=np.uint8)
                ])
                p3 = decode_webp_lossless(
                    build_webp_lossless(rgba, cache_bits=4)
                )[:, :, :3]
                out = resize_pixels_nearest(p3, w // 2, h // 2)
                oh = out.shape[0]
                rows.append({
                    "user_id": uid,
                    "out_w": int(out.shape[1]),
                    "out_h": int(oh),
                    "sum_r": int(out[:, :, 0].astype(np.int64).sum()),
                    "sum_g": int(out[:, :, 1].astype(np.int64).sum()),
                    "sum_b": int(out[:, :, 2].astype(np.int64).sum()),
                    "rowweighted_r": int((
                        (np.arange(oh)[:, None] + 1)
                        * out[:, :, 0].astype(np.int64)
                    ).sum()),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return (
        ensure_parallelism(users).mapInPandas(run, schema=schema)
        .orderBy("user_id")
    )


def _bpe_oracle_sql(n_merges: int = 4) -> str:
    """Full BPE-training replay: per round, pair counts over the segment
    table, the (cnt DESC, a, b) winner, and the left-to-right
    non-overlapping re-segmentation via the run-parity trick (within each
    run of consecutive matching positions, merge the 1st, 3rd, ... —
    exactly the fold's behavior on repeats like 'aaa')."""
    ctes = [
        f"toks AS (SELECT unnest({_DUCK_TOKS}) AS w FROM documents)",
        "words AS (SELECT w, COUNT(*) AS freq FROM toks GROUP BY w)",
        """seg0 AS (
      SELECT w, freq,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, i, 1)) AS syms
      FROM words
    )""",
    ]
    for t in range(n_merges):
        ctes.append(f"""cnt{t} AS (
      SELECT syms[u.i] AS a, syms[u.i + 1] AS b,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM seg{t}, unnest(range(1, len(syms))) AS u(i)
      GROUP BY 1, 2
    )""")
        ctes.append(f"""best{t} AS (
      SELECT a, b, cnt FROM cnt{t} ORDER BY cnt DESC, a, b LIMIT 1
    )""")
        ctes.append(f"""pos{t} AS (
      SELECT g.w, g.freq, u.i AS p, g.syms[u.i] AS sym,
             bb.a AS ba, bb.b AS bbb,
             (u.i < len(g.syms) AND g.syms[u.i] = bb.a
              AND g.syms[u.i + 1] = bb.b) AS mtch
      FROM seg{t} g, best{t} bb,
           unnest(range(1, len(g.syms) + 1)) AS u(i)
    )""")
        ctes.append(f"""mk{t} AS (
      SELECT *, CASE WHEN mtch THEN p - ROW_NUMBER() OVER (
                 PARTITION BY w, mtch ORDER BY p) END AS grp
      FROM pos{t}
    )""")
        ctes.append(f"""mg{t} AS (
      SELECT *, (mtch AND ROW_NUMBER() OVER (
                 PARTITION BY w, grp ORDER BY p) % 2 = 1) AS strt
      FROM mk{t}
    )""")
        ctes.append(f"""sk{t} AS (
      SELECT *, COALESCE(LAG(strt) OVER (PARTITION BY w ORDER BY p),
                         FALSE) AS prev_strt
      FROM mg{t}
    )""")
        ctes.append(f"""seg{t + 1} AS (
      SELECT w, any_value(freq) AS freq,
             list(CASE WHEN strt THEN ba || bbb ELSE sym END ORDER BY p)
               FILTER (WHERE NOT prev_strt) AS syms
      FROM sk{t}
      GROUP BY w
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT {t + 1} AS merge_rank, a AS \"left\", b AS \"right\","
        f" a || b AS merged, cnt AS pair_count FROM best{t}"
        for t in range(n_merges)
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT * FROM ({unions}) ORDER BY merge_rank"
    )


def _bpe_apply_oracle_sql(n_merges: int = 4) -> str:
    """BPE APPLY replay: train as in ``_bpe_oracle_sql`` (shared CTE
    construction), then score every document against the final segment
    table — per-doc word, subword, and subword-character counts."""
    train = _bpe_oracle_sql(n_merges)
    ctes = train[: train.rindex("\n    SELECT")]
    return f"""{ctes},
    doctoks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
    ),
    perdoc AS (
      SELECT t.doc_id, COUNT(*) AS n_words,
             CAST(SUM(len(s.syms)) AS BIGINT) AS n_subwords,
             CAST(SUM(list_sum(list_transform(s.syms, x -> length(x))))
                  AS BIGINT) AS n_ch
      FROM doctoks t JOIN seg{n_merges} s ON s.w = t.w
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_words, 0) AS n_words,
           CAST(COALESCE(p.n_subwords, 0) AS BIGINT) AS n_subwords,
           CAST(COALESCE(p.n_ch, 0) AS BIGINT) AS sum_subword_chars
    FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


@register("text_bpe_tokenize", oracle=_bpe_apply_oracle_sql(n_merges=4))
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY step completing the BPE story
    (operators/text.bpe_tokenize_counts): train the 4 corpus merges, then
    segment every document's words through the final vocab-sized segment
    table — per-doc word/subword/character counts, the sequence-length
    signal packing and token budgeting consume. Application costs one
    doc-token explode + one vocab-sized join; the oracle replays training
    AND application."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        bpe_tokenize_counts,
    )

    docs = load(spark, sf_dir, "documents")
    return bpe_tokenize_counts(docs, n_merges=4).orderBy("doc_id")


@register("text_bpe_merges", oracle=_bpe_oracle_sql(n_merges=4))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (first 4 merge rules) over the
    documents corpus (operators/text.bpe_train_merges): corpus collapses
    to the distinct-word table once, each round is a vocab-sized pair
    count + broadcast 1-row winner + JVM array-fold re-segmentation. The
    oracle replays every round including the non-overlapping merge
    semantics (run-parity on consecutive matches)."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        bpe_train_merges,
    )

    docs = load(spark, sf_dir, "documents")
    return bpe_train_merges(docs, n_merges=4)


# ---------------------------------------------------------------------------
# Engine-fingerprint canaries (VERDICT r05 task 1). Five r05 entries were
# driver-red yet green under every local replay; the reproduced mechanism is
# DuckDB's integer-aggregate widening (SUM(BIGINT) -> HUGEINT), which is
# exact through fetchall() — the local checker's path — but degrades to
# float64 through a pandas/Arrow export, hashing "x.0" against Spark's "x".
# Each canary isolates ONE divergence class with a constant expected output,
# so the r06 scoreboard localizes any residual driver-vs-local gap instead
# of sampling it. They are deliberately tiny (spark.range(1); VALUES
# oracles) and sit at the head of the driver window.
# ---------------------------------------------------------------------------


@register(
    "diag_fp_hugeint",
    # s_uncast is HUGEINT on the DuckDB side BY DESIGN, and the Spark
    # side emits DOUBLE 7.0: GREEN == the harness fetches oracle results
    # through a pandas/Arrow path that floats int128 (the r05 evidence:
    # stream_interval_left_join hashed green with 1948 NULLs in a BIGINT
    # column, so BOTH sides degrade through pandas symmetrically, and
    # HUGEINT — which only the oracle side produces — was the one
    # asymmetric type, explaining all five r05 reds). A RED here means
    # the fetch path changed to integer-exact (fetchall-style) — at
    # which point the CAST discipline is belt-and-braces but this canary
    # should be re-oriented. s_cast pins the casted form against the
    # Spark integer under any path.
    oracle="""
    SELECT SUM(i) AS s_uncast, CAST(SUM(i) AS BIGINT) AS s_cast
    FROM (VALUES (3), (4)) t(i)
    """,
)
def diag_fp_hugeint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-path probe: the oracle's uncast integer SUM is HUGEINT;
    under a pandas fetch it arrives as the double 7.0 — which this side
    matches. See the oracle comment for the orientation rationale."""
    return spark.range(1).select(
        F.lit(7.0).alias("s_uncast"),
        F.lit(7).cast("long").alias("s_cast"),
    )


@register(
    "diag_fp_null_bigint",
    # A nullable BIGINT column containing an actual NULL: pandas exports
    # degrade it to float64 (NaN) on WHICHEVER side goes through pandas.
    # Green == both sides canonicalize NULL-bearing int columns the same
    # way; red == the harness fetches the two sides asymmetrically.
    oracle="""
    SELECT k, v FROM (VALUES
      (CAST(1 AS BIGINT), CAST(NULL AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(7 AS BIGINT))
    ) t(k, v)
    """,
)
def diag_fp_null_bigint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-path probe: NULL inside a long column (None vs NaN vs 7.0
    canonicalization)."""
    return spark.createDataFrame(
        [(1, None), (2, 7)],
        T.StructType([
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]),
    )


@register(
    "diag_fp_libm",
    # Both engines RUN their own log10/ln/log2/sqrt/pow here (nothing is
    # constant-folded away on the DuckDB side); quantization at 1e9
    # matches the registry's fixed-point contract. Red == the driver's
    # DuckDB/libm build rounds one of these transcendentals differently
    # from this sandbox's (the only arithmetic class that could still
    # explain a text_*_logprob-style mismatch after the HUGEINT fix).
    oracle="""
    SELECT CAST(round(log10(CAST(3 AS DOUBLE) / 7) * 1e9) AS BIGINT)
             AS log10_nano,
           CAST(round(ln(CAST(3 AS DOUBLE) / 7) * 1e9) AS BIGINT)
             AS ln_nano,
           CAST(round(log2(CAST(3 AS DOUBLE) / 7) * 1e9) AS BIGINT)
             AS log2_nano,
           CAST(round(sqrt(CAST(3 AS DOUBLE) / 7) * 1e9) AS BIGINT)
             AS sqrt_nano,
           CAST(round(pow(CAST(3 AS DOUBLE) / 7, 1.5) * 1e9) AS BIGINT)
             AS pow_nano
    """,
)
def diag_fp_libm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """libm probe: JVM Math vs the oracle engine's libm on the same
    rationals, quantized to integer nano-units like every fixed-point
    entry in the registry."""
    x = F.lit(3).cast("double") / F.lit(7)
    def q(c):  # noqa: E306
        return F.round(c * 1e9, 0).cast("long")
    return spark.range(1).select(
        q(F.log10(x)).alias("log10_nano"),
        q(F.log(x)).alias("ln_nano"),
        q(F.log2(x)).alias("log2_nano"),
        q(F.sqrt(x)).alias("sqrt_nano"),
        q(F.pow(x, F.lit(1.5))).alias("pow_nano"),
    )


@register(
    "diag_fp_round_half",
    # round-half semantics: Spark rounds doubles via exact BigDecimal
    # HALF_UP, DuckDB half-away-from-zero on the double — identical for
    # these probes (including 2.675*100 = 267.49999999999997, which must
    # round DOWN in both: an engine that rounds the decimal literal, not
    # the double, would say 268).
    oracle="""
    SELECT CAST(round(CAST(0.5 AS DOUBLE)) AS BIGINT) AS r_half,
           CAST(round(CAST(2.5 AS DOUBLE)) AS BIGINT) AS r_two_half,
           CAST(round(CAST(-2.5 AS DOUBLE)) AS BIGINT) AS r_neg_half,
           CAST(round(CAST(2.675 AS DOUBLE) * 100) AS BIGINT) AS r_repr
    """,
)
def diag_fp_round_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-semantics probe: half-up vs banker's vs decimal-literal
    rounding, on the values where they disagree."""
    return spark.range(1).select(
        F.round(F.lit(0.5), 0).cast("long").alias("r_half"),
        F.round(F.lit(2.5), 0).cast("long").alias("r_two_half"),
        F.round(F.lit(-2.5), 0).cast("long").alias("r_neg_half"),
        F.round(F.lit(2.675) * 100, 0).cast("long").alias("r_repr"),
    )


@register(
    "diag_fp_temporal",
    # timestamp/date canonicalization: a US-DST-transition wall-clock
    # instant (02:30 on 2024-03-10 does not exist in America/*; engines
    # pinned to UTC are unaffected), a pre-epoch micros timestamp
    # (negative epoch), and a plain date.
    oracle="""
    SELECT TIMESTAMP '2024-03-10 02:30:00' AS ts_dst,
           TIMESTAMP '1969-12-31 23:59:59.123456' AS ts_pre_epoch,
           DATE '2024-03-10' AS d
    """,
)
def diag_fp_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal probe: session-timezone and epoch-sign handling of
    timestamp/date values through each side's fetch path."""
    return spark.range(1).select(
        F.to_timestamp(F.lit("2024-03-10 02:30:00")).alias("ts_dst"),
        F.to_timestamp(
            F.lit("1969-12-31 23:59:59.123456")
        ).alias("ts_pre_epoch"),
        F.to_date(F.lit("2024-03-10")).alias("d"),
    )


@register(
    "diag_fp_double_repr",
    # double canonicalization: shortest-roundtrip repr cases (0.1,
    # 0.1+0.2 computed LIVE on both sides, 1e-7, 1e300, negative zero).
    # -0.0 must be synthesized via unary minus on a DOUBLE: DuckDB's
    # CAST(-0.0 AS DOUBLE) goes through a signless DECIMAL literal and
    # comes out +0.0 (found when this canary first ran).
    oracle="""
    SELECT CAST(0.1 AS DOUBLE) AS x_tenth,
           CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS x_sum,
           CAST(1e-7 AS DOUBLE) AS x_tiny,
           CAST(1e300 AS DOUBLE) AS x_huge,
           -CAST(0.0 AS DOUBLE) AS x_negzero
    """,
)
def diag_fp_double_repr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-repr probe: values whose string form exposes float
    formatting differences (0.30000000000000004, 1e-07 vs 1e-7, -0.0)."""
    return spark.range(1).select(
        F.lit(0.1).alias("x_tenth"),
        (F.lit(0.1) + F.lit(0.2)).alias("x_sum"),
        F.lit(1e-7).alias("x_tiny"),
        F.lit(1e300).alias("x_huge"),
        (-F.lit(0.0)).alias("x_negzero"),
    )


@register(
    "a29_welch_ttest",
    # one filtered hash aggregate -> six numbers (n, Σx, Σx² per group,
    # exact DECIMAL(28,8) sums as in a26/a27 — ≤2-decimal inputs make the
    # double product within 1 ulp of the exact 4-decimal value, so the
    # cast rounds identically); t and the Welch-Satterthwaite df are
    # scalar IEEE combinations mirrored op-for-op
    oracle="""
    WITH g AS (
      SELECT
        COUNT(CASE WHEN event_type = 'click' THEN value END) AS n_a,
        COUNT(CASE WHEN event_type = 'view' THEN value END) AS n_b,
        CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value END
                      AS DECIMAL(28,8))) AS DOUBLE) AS sa,
        CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value * value END
                      AS DECIMAL(28,8))) AS DOUBLE) AS saa,
        CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END
                      AS DECIMAL(28,8))) AS DOUBLE) AS sb,
        CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value * value END
                      AS DECIMAL(28,8))) AS DOUBLE) AS sbb
      FROM events WHERE event_type IN ('click', 'view')
    ), m AS (
      SELECT n_a, n_b,
        sa / CAST(n_a AS DOUBLE) AS mean_a,
        sb / CAST(n_b AS DOUBLE) AS mean_b,
        greatest((CAST(n_a AS DOUBLE) * saa - sa * sa)
                 / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)),
                 0.0) / CAST(n_a AS DOUBLE) AS se2_a,
        greatest((CAST(n_b AS DOUBLE) * sbb - sb * sb)
                 / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)),
                 0.0) / CAST(n_b AS DOUBLE) AS se2_b
      FROM g
    )
    SELECT n_a, n_b, mean_a, mean_b,
      (mean_a - mean_b) / sqrt(se2_a + se2_b) AS t_stat,
      ((se2_a + se2_b) * (se2_a + se2_b))
      / (se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
         + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0)) AS df_welch
    FROM m
    """,
)
def a29_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic between the click and view
    value distributions (operators/aggregates.welch_ttest) — the
    significance screen beside the exact KS drift statistic. One scan,
    one 1-row aggregate with map-side partials."""
    ev = load(spark, sf_dir, "events")
    return agg_ops.welch_ttest(ev, "event_type", "value", "click", "view")


@register(
    "j7_interval_overlap",
    # the binned claim-at-first-shared-bin plan must equal the plain
    # overlap theta join row-for-row — the oracle IS that theta join;
    # intervals are integer epoch days, so bin arithmetic is exact
    oracle=f"""
    WITH promo AS (
      SELECT o_orderkey,
             datediff('day', DATE '1970-01-01', o_orderdate) AS p_lo,
             datediff('day', DATE '1970-01-01', o_orderdate) + 7 AS p_hi
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
        AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    ), li AS (
      SELECT l_quantity,
             datediff('day', DATE '1970-01-01', l_shipdate) AS l_lo,
             datediff('day', DATE '1970-01-01', l_shipdate)
               + 1 + (l_orderkey + l_linenumber) % 13 AS l_hi
      FROM lineitem
    )
    SELECT p.o_orderkey,
           COUNT(*) AS n_overlap,
           {_sql_dsum("l.l_quantity", "qty_sum")}
    FROM promo p JOIN li l ON l.l_lo <= p.p_hi AND p.p_lo <= l.l_hi
    GROUP BY p.o_orderkey
    """,
)
def j7_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (operators/joins.
    interval_overlap_join): 1995 URGENT promo windows [d, d+7] against
    synthetic lineitem ship intervals — both sides bin-exploded, equi
    join on the bin, each overlapping pair claimed exactly once at the
    first shared bin (no pair-set DISTINCT), then a per-order rollup.
    The temporal-correlation shape (campaign windows x activity spans)
    at its 100 TB form: two explodes + one shuffle equi join."""
    epoch = F.lit("1970-01-01").cast("date")
    promo = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.col("o_orderdate").between("1995-01-01", "1995-12-31")
        )
        .select(
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), epoch).alias("p_lo"),
            (F.datediff(F.col("o_orderdate"), epoch) + F.lit(7)).alias(
                "p_hi"
            ),
        )
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_quantity",
        F.datediff(F.col("l_shipdate"), epoch).alias("l_lo"),
        (
            F.datediff(F.col("l_shipdate"), epoch)
            + F.lit(1)
            + (F.col("l_orderkey") + F.col("l_linenumber")) % 13
        ).alias("l_hi"),
    )
    joined = join_ops.interval_overlap_join(
        li, promo, "l_lo", "l_hi", "p_lo", "p_hi", bin_width=8
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        dsum(F.col("l_quantity"), "qty_sum"),
    )


@register(
    "dedup_prefix_longest",
    # cluster key = md5 of the first-6-token normalized prefix (bounded
    # slice, so shuffle rows stay small at any document size); survivor =
    # longest member, ties to lowest doc_id
    oracle=f"""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY md5(array_to_string(
                 list_slice({_DUCK_TOKS}, 1, 6), ' '))
               ORDER BY length(text) DESC, doc_id) AS rn
      FROM documents
    ) t WHERE rn = 1
    """,
)
def dedup_prefix_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate removal keeping the LONGEST variant
    (operators/dedup.prefix_dedup_keep_longest): truncation duplicates —
    crawl snapshots, preview cutoffs — cluster on their first 6
    normalized tokens and the most complete copy survives. The
    'keep best, not keep first' curation rule."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    return dd.prefix_dedup_keep_longest(docs, n_prefix_tokens=6).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "j8_grid_radius_join",
    # the grid plan (3x3 neighbor-cell explode -> shuffle equi join ->
    # exact residual) must equal the plain distance theta join row-for-
    # row; coordinates are synthesized by integer modular arithmetic so
    # both engines derive identical points and the squared distance is
    # integer-exact
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 48271) % 100000 AS x,
             (c_custkey * 16807 + 12345) % 100000 AS y
      FROM customer
    ), s AS (
      SELECT s_suppkey,
             (s_suppkey * 69621) % 100000 AS x,
             (s_suppkey * 40692 + 54321) % 100000 AS y
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST((c.x - s.x) * (c.x - s.x)
                + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist_sq
    FROM c JOIN s
      ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 4000000
    """,
)
def j8_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planar radius join (operators/joins.grid_radius_join): customers
    and suppliers placed on a synthetic 100k x 100k integer grid (modular
    arithmetic on their keys — deterministic, engine-replayable), all
    pairs within Euclidean distance 2000. Left side explodes to its 3x3
    cell neighborhood, right side keeps one row per point, one shuffle
    equi join on the 2-D cell id, exact integer residual — the spatial
    join at its 100 TB shape (fixed fan-out 9, locality-partitioned
    shuffle; density skew is AQE skew-join or a cell-key salt)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 100000).alias("cx"),
        ((F.col("c_custkey") * 16807 + 12345) % 100000).alias("cy"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 69621) % 100000).alias("sx"),
        ((F.col("s_suppkey") * 40692 + 54321) % 100000).alias("sy"),
    )
    joined = join_ops.grid_radius_join(
        cust, supp, "cx", "cy", "sx", "sy", radius=2000
    )
    dx = F.col("cx") - F.col("sx")
    dy = F.col("cy") - F.col("sy")
    return joined.select(
        "c_custkey",
        "s_suppkey",
        (dx * dx + dy * dy).cast("long").alias("dist_sq"),
    )


@register(
    "a30_pareto_skyline",
    # the two-stage distributed sweep (bucket-local frontier -> global
    # frontier over survivors) must reproduce the NOT EXISTS dominance
    # definition exactly; inputs are raw parquet values so no arithmetic
    # enters the hash
    oracle="""
    WITH pts AS (SELECT DISTINCT p_size, p_retailprice FROM part)
    SELECT p_size, p_retailprice FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    """,
)
def a30_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (operators/aggregates.pareto_skyline_2d): the
    distinct (p_size, p_retailprice) points where no other part is
    larger-or-equal AND cheaper-or-equal with at least one strict — the
    multi-objective trade-off frontier. Two partitioned window sweeps
    (skyline is distributive: local frontiers union to a candidate set
    the final sweep reduces), never a self-join and never a
    single-partition global window over the full data."""
    part = load(spark, sf_dir, "part")
    return agg_ops.pareto_skyline_2d(part, "p_size", "p_retailprice")


@register(
    "text_url_canonical",
    # the messy URL is synthesized from (source, doc_id, lang) by the
    # SAME closed form in both engines; Spark must recover the canonical
    # form through its parse_url machinery, the oracle states the
    # expected result independently (params sorted, utm_* and fragment
    # dropped, default port and www stripped, trailing slash removed)
    oracle="""
    SELECT doc_id,
           'https://' || source || '.example.com/docs/' || doc_id
             || '?a=1&b=2&ref=' || lang AS canonical_url
    FROM documents
    """,
)
def text_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/text.canonicalize_url) — the
    crawl-corpus dedup key: case, tracking params (utm_*), query-param
    order, default port, leading www, trailing slash, and fragment are
    all transport noise that must not split a URL's duplicate group.
    Native parse_url column expressions, zero UDFs. The messy input is
    synthesized deterministically so the oracle can state the expected
    canonical form in closed form."""
    from big_data_analysis_for_stock_market_data_spark.operators import text as tx

    docs = load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM:443/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&ref="),
        F.col("lang"),
        F.lit("&b=2&a=1#sec"),
    )
    return docs.select(
        "doc_id", tx.canonicalize_url(messy).alias("canonical_url")
    )


@register(
    "agg_percentile_sketch_bound",
    # property oracle for the Greenwald-Khanna sketch surface
    # (percentile_approx): the sketch's contract is a RANK guarantee —
    # the returned element's exact rank lies within n/accuracy of the
    # target rank n*phi. The exact ranks are recomputed against the full
    # column and the contract enters as a boolean; n_total hashes the
    # real corpus count. Deterministic: GK is a deterministic sketch.
    oracle="""
    SELECT CAST(0.25 AS DOUBLE) AS phi, TRUE AS rank_ok,
           CAST(COUNT(*) AS BIGINT) AS n_total FROM lineitem
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE), TRUE, CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT CAST(0.75 AS DOUBLE), TRUE, CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    """,
)
def agg_percentile_sketch_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna) with its accuracy contract
    oracle-checked: for each phi in {0.25, 0.5, 0.75} at accuracy=1000,
    the returned element's exact rank interval [count(<v)+1, count(<=v)]
    must intersect [n*phi - n/1000, n*phi + n/1000]. The sketch is the
    100 TB path (mergeable, bounded memory — agg_percentiles' exact
    interpolation shuffles every value); this entry pins that the speed
    doesn't silently void the guarantee."""
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    apx = li.agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            F.lit(1000),
        ).alias("__vs")
    )
    vals = apx.select(F.posexplode("__vs").alias("__pos", "__v"))
    v = F.col("l_extendedprice")
    ranks = (
        li.crossJoin(F.broadcast(vals))
        .groupBy("__pos", "__v")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(v < F.col("__v"), 1).otherwise(0)).alias("__lt"),
            F.sum(F.when(v <= F.col("__v"), 1).otherwise(0)).alias("__le"),
        )
    )
    phi = (F.col("__pos").cast("double") + F.lit(1.0)) * F.lit(0.25)
    n = F.col("n_total").cast("double")
    eps_n = n / F.lit(1000.0)
    rank_ok = (F.col("__le").cast("double") >= phi * n - eps_n) & (
        F.col("__lt").cast("double") + F.lit(1.0) <= phi * n + eps_n
    )
    return ranks.select(
        phi.alias("phi"), rank_ok.alias("rank_ok"), "n_total"
    ).orderBy("phi")


@register(
    "g4_connected_components",
    # min-label propagation fixpoint == min reachable node id; the
    # recursive CTE (UNION dedup => terminates at the reachability
    # fixpoint despite cycles) computes exactly that, all-integer
    oracle="""
    WITH RECURSIVE parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    eo AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT u, v FROM eo UNION ALL SELECT v AS u, u AS v FROM eo
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS part, MIN(lbl) AS component
    FROM reach GROUP BY node ORDER BY part
    """,
)
def g4_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the undirected co-purchase part graph
    (operators/dedup.connected_components — the same iterative min-label
    engine that clusters near-duplicates, exposed as the standalone
    graph operator) over the ``_copurchase_edges`` graph. Each round is
    one edge-key join + one grouped MIN, co-partitioned at scale;
    rounds = graph diameter, lineage truncated per round, convergence
    checked with a 1-row probe of the round's changed flags. Component
    label = min part key in the component."""
    from big_data_analysis_for_stock_market_data_spark.operators.dedup import (
        connected_components,
    )

    li = load(spark, sf_dir, "lineitem")
    eo = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    cc = connected_components(eo, id_a="u", id_b="v", max_iter=50)
    return cc.select(F.col("doc_id").alias("part"), "component").orderBy(
        "part"
    )


@register(
    "ml_quantile_normalize",
    # classic quantile normalization (expression microarrays, feature
    # alignment): rank within each group, replace by the cross-group
    # mean at that rank. Groups are truncated to the min group size so
    # ranks align exactly (the textbook equal-n form); the rank mean
    # uses the exact-decimal sum pattern so engines agree bit-for-bit
    oracle="""
    WITH sized AS (
      SELECT event_type, value, event_id,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rk
      FROM events WHERE value IS NOT NULL
    ),
    n AS (
      SELECT CAST(MIN(cnt) AS BIGINT) AS min_n
      FROM (SELECT COUNT(*) AS cnt FROM sized GROUP BY event_type)
    ),
    trunc AS (
      SELECT s.* FROM sized s, n WHERE s.rk <= n.min_n
    ),
    ref AS (
      SELECT rk,
             CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)
               / COUNT(*) AS qnorm
      FROM trunc GROUP BY rk
    )
    SELECT t.event_id, t.event_type, CAST(t.rk AS BIGINT) AS rk, r.qnorm
    FROM trunc t JOIN ref r ON t.rk = r.rk
    """,
)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across event-type groups: each group's
    k-th order statistic is replaced by the mean of all groups' k-th
    order statistics, forcing identical marginal distributions — the
    batch-effect-removal transform. Plan: one ranking window per group
    (partitioned — no global window), a broadcast 1-row min-group-size
    aggregate, one grouped mean by rank, one rank-key join back. All
    shuffles are on bounded keys (group, rank)."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    # min group size needs only per-group counts — an independent branch
    # off the scan, NOT a second pass over the ranked frame
    min_n = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.min("__c").alias("__min_n"))
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    trunc = (
        ev.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(min_n))
        .filter(F.col("rk") <= F.col("__min_n"))
    )
    # rank mean as a window over rk — no groupBy + join-back (which
    # would re-execute the ranking lineage a second time)
    wq = Window.partitionBy("rk")
    qnorm = (
        F.sum(F.col("value").cast("decimal(28,8)")).over(wq).cast("double")
        / F.count(F.lit(1)).over(wq)
    )
    return trunc.select(
        "event_id",
        "event_type",
        F.col("rk").cast("long").alias("rk"),
        qnorm.alias("qnorm"),
    )


@register(
    "dq_table_fingerprint",
    # order-invariant, MERGEABLE table fingerprint: sum of per-row
    # 60-bit md5 values in exact decimal, reduced mod 1e18 — per-group
    # partials plus a grand total whose sum-of-groups identity is
    # emitted as a checked boolean (the property that lets 100 TB
    # replicas compare checksums without a global sort or re-scan).
    # Only integer/string/date columns enter the row string (double
    # repr is engine-specific).
    oracle="""
    WITH h AS (
      SELECT o_orderstatus,
             CAST(('0x' || substr(md5(
               o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
               o_orderstatus || '|' || o_orderdate::VARCHAR || '|' ||
               o_orderpriority), 1, 15)) AS BIGINT) AS hv
      FROM orders
    ),
    grp AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(hv AS DECIMAL(38,0)))
                  % 1000000000000000000 AS BIGINT) AS fingerprint
      FROM h GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n_rows, fingerprint, TRUE AS merge_consistent
    FROM grp
    UNION ALL
    SELECT '*', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(hv AS DECIMAL(38,0)))
                % 1000000000000000000 AS BIGINT), TRUE
    FROM h
    """,
)
def dq_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant table fingerprint (anti-entropy checksum): sum of
    per-row md5-60 hashes, exact-decimal accumulated, mod 1e18 — the
    replica-comparison primitive. SUM makes it partition-order-free and
    mergeable: per-group fingerprints combine into the table fingerprint
    without re-scanning, and that identity ((Σ groups) mod m == total)
    is emitted as a checked boolean on the '*' row."""
    orders = load(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderdate").cast("string"),
        F.col("o_orderpriority"),
    )
    hv = md5_60(row_str).cast("decimal(38,0)")
    h = orders.select("o_orderstatus", hv.alias("__hv"))
    mod = F.lit(1000000000000000000).cast("decimal(38,0)")
    grp = h.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__hv").alias("__s"),
    )
    groups = grp.select(
        "o_orderstatus",
        "n_rows",
        (F.col("__s") % mod).cast("long").alias("fingerprint"),
        F.lit(True).alias("merge_consistent"),
    )
    total = grp.agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("__s").alias("__st"),
        # mergeability identity: combining group partials must equal the
        # direct total (exact decimal sums, so this is a hard equality)
        (F.sum(F.col("__s") % mod) % mod == F.sum("__s") % mod).alias(
            "merge_consistent"
        ),
    ).select(
        F.lit("*").alias("o_orderstatus"),
        "n_rows",
        (F.col("__st") % mod).cast("long").alias("fingerprint"),
        "merge_consistent",
    )
    return groups.unionByName(total)


@register(
    "fn_null_semantics",
    # three-valued-logic parity suite: COUNT(col) vs COUNT(*),
    # COUNT(DISTINCT) excluding nulls, GROUP BY forming a null group,
    # null-safe equality (<=> / IS NOT DISTINCT FROM) matching null keys
    # where = cannot, and the NOT IN trap (a NULL in the list empties
    # the result) vs the NOT EXISTS form that keeps working — every
    # count exact in both engines
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders
    ),
    dim(v) AS (VALUES (1), (5), (NULL)),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(COUNT(k) AS BIGINT) AS n_k_nonnull,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
      FROM base
    ),
    grp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_groups_incl_null
      FROM (SELECT k FROM base GROUP BY k)
    ),
    nsj AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nullsafe_join
      FROM base b JOIN dim d ON b.k IS NOT DISTINCT FROM d.v
    ),
    eqj AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_eq_join
      FROM base b JOIN dim d ON b.k = d.v
    ),
    nin AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_not_in
      FROM base WHERE k NOT IN (1, 5, NULL)
    ),
    nex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_not_exists
      FROM base b
      WHERE NOT EXISTS (
        SELECT 1 FROM dim d WHERE d.v IS NOT NULL AND d.v = b.k)
    )
    SELECT * FROM counts, grp, nsj, eqj, nin, nex
    """,
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics parity suite over a deterministically nullified
    key (o_orderkey % 7 = 0 → NULL): counts that skip nulls, the GROUP
    BY null group, null-safe equality (eqNullSafe — joins null keys
    where = returns UNKNOWN), and the NOT IN / NOT EXISTS divergence
    under a NULL in the list (NOT IN goes empty — NOT EXISTS keeps
    rows that include the null-keyed ones; note n_not_exists >
    n_total − n_eq_join's matched keys precisely because the null-keyed
    rows survive NOT EXISTS). One row of exact integers."""
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
    )
    dim = spark.createDataFrame([(1,), (5,), (None,)], "v bigint")
    counts = base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("k").alias("n_k_nonnull"),
        F.count_distinct("k").alias("n_distinct_k"),
        # NOT IN with a NULL in the list: UNKNOWN for every row, so the
        # conditional count is 0 — the trap itself, one scan with the
        # other counters (the NOT IN *expression* is what's under test)
        F.sum(
            F.when(F.expr("k NOT IN (1, 5, NULL)"), 1).otherwise(0)
        ).alias("n_not_in"),
    )
    grp = (
        base.groupBy("k")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.count(F.lit(1)).alias("n_groups_incl_null"))
    )
    nsj = (
        base.join(F.broadcast(dim), base["k"].eqNullSafe(dim["v"]))
        .agg(F.count(F.lit(1)).alias("n_nullsafe_join"))
    )
    eqj = (
        base.join(F.broadcast(dim), base["k"] == dim["v"])
        .agg(F.count(F.lit(1)).alias("n_eq_join"))
    )
    nex = base.join(
        dim.filter(F.col("v").isNotNull()),
        base["k"] == dim["v"],
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_not_exists"))
    out = counts
    for piece in (grp, nsj, eqj, nex):
        out = out.crossJoin(F.broadcast(piece))
    return out.select(
        "n_total", "n_k_nonnull", "n_distinct_k", "n_groups_incl_null",
        "n_nullsafe_join", "n_eq_join", "n_not_in", "n_not_exists",
    )


@register(
    "ml_random_projection",
    # Johnson-Lindenstrauss sign projection in INTEGER space: elements
    # quantized to micros first, sign(j, c) = +1 iff the first hex
    # nibble of md5('j_c') < '8' — both engines compute the identical
    # hash and the identical integer sum, so the hash compare is exact
    # by construction (no float summation order anywhere)
    oracle="""
    WITH el AS (
      SELECT e.vec_id, t.i - 1 AS j,
             CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS q
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    sgn AS (
      SELECT el.vec_id, el.q, c.c,
             CASE WHEN substring(
                    md5(CAST(el.j AS VARCHAR) || '_'
                        || CAST(c.c AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE -1 END AS s
      FROM el, (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) AS c(c)
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN c = 0 THEN s * q END) AS BIGINT) AS proj_0,
           CAST(SUM(CASE WHEN c = 1 THEN s * q END) AS BIGINT) AS proj_1,
           CAST(SUM(CASE WHEN c = 2 THEN s * q END) AS BIGINT) AS proj_2,
           CAST(SUM(CASE WHEN c = 3 THEN s * q END) AS BIGINT) AS proj_3,
           CAST(SUM(CASE WHEN c = 4 THEN s * q END) AS BIGINT) AS proj_4,
           CAST(SUM(CASE WHEN c = 5 THEN s * q END) AS BIGINT) AS proj_5,
           CAST(SUM(CASE WHEN c = 6 THEN s * q END) AS BIGINT) AS proj_6,
           CAST(SUM(CASE WHEN c = 7 THEN s * q END) AS BIGINT) AS proj_7
    FROM sgn GROUP BY vec_id ORDER BY vec_id
    """,
)
def ml_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random sign projection (Achlioptas 2001):
    64-dim embeddings down to 8 components with a DETERMINISTIC ±1
    matrix derived from md5 of the (dimension, component) pair — the
    standard seed-free way to share a projection across a fleet without
    broadcasting a matrix. Computed entirely in integer micro space
    (element quantized once, then ±1 sums), as a per-row JVM expression
    — zip_with to pair elements with indices, aggregate per component —
    so the plan is a pure map over the scan: zero shuffles, linear at
    any scale, and exact by construction."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = F.zip_with(
        F.col("embedding"),
        F.sequence(F.lit(0), F.size("embedding") - 1),
        lambda v, j: F.struct(v.alias("v"), j.alias("j")),
    )
    df = emb.select("vec_id", pairs.alias("__p"))

    def proj(c: int):
        def step(acc, p):
            q = F.round(p["v"].cast("double") * F.lit(1000000.0)).cast(
                "long"
            )
            sign_src = F.concat_ws(
                "_", p["j"].cast("string"), F.lit(str(c))
            )
            s = F.when(
                F.substring(F.md5(sign_src.cast("binary")), 1, 1) < "8",
                F.lit(1).cast("long"),
            ).otherwise(F.lit(-1).cast("long"))
            return acc + s * q

        return F.aggregate(
            F.col("__p"), F.lit(0).cast("long"), step
        ).alias(f"proj_{c}")

    return df.select("vec_id", *[proj(c) for c in range(8)]).orderBy(
        "vec_id"
    )


@register(
    "ml_winsorize_stats",
    # rank-based winsorization: bounds are the values at integer ranks
    # ceil(n/20) and ceil(19n/20) under a total (cents, key) order — no
    # float percentile interpolation anywhere, so both engines pick the
    # identical bound rows and the clipped integer sums agree exactly
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri, o_orderkey AS okey,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT pri, okey, cents,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY cents, okey)
               AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM v
    ),
    b AS (
      SELECT pri, CAST(MIN(n) AS BIGINT) AS n,
             CAST(MAX(CASE WHEN rn = (n + 19) // 20 THEN cents END)
                  AS BIGINT) AS lo_cents,
             CAST(MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END)
                  AS BIGINT) AS hi_cents
      FROM r GROUP BY pri
    )
    SELECT v.pri, b.n, b.lo_cents, b.hi_cents,
           CAST(SUM(LEAST(GREATEST(v.cents, b.lo_cents), b.hi_cents))
                AS BIGINT) AS sum_winsorized_cents,
           CAST(SUM(CASE WHEN v.cents < b.lo_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN v.cents > b.hi_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high
    FROM v JOIN b USING (pri)
    GROUP BY v.pri, b.n, b.lo_cents, b.hi_cents
    ORDER BY v.pri
    """,
)
def ml_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (feature-cleaning stage): clip order
    totals to the [p05, p95] BOUND ROWS chosen by integer rank —
    lo = value at row ceil(n/20), hi = value at row ceil(19n/20) under
    a total (cents, key) order — rather than interpolated percentiles,
    so the operation is exact end-to-end. Plan: one window shuffle on
    the group key to rank, a tiny per-group bounds table broadcast back
    onto the scan, one hash aggregate — at 100 TB the bounds side is
    |groups| rows, and the data side is never re-shuffled."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("pri").orderBy("cents", "okey")
    wn = Window.partitionBy("pri")
    r = v.select(
        "pri", "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo_rank = ((F.col("n") + 19) / 20).cast("long")
    hi_rank = ((19 * F.col("n") + 19) / 20).cast("long")
    b = r.groupBy("pri").agg(
        F.min("n").alias("n"),
        F.max(F.when(F.col("rn") == lo_rank, F.col("cents"))).alias(
            "lo_cents"
        ),
        F.max(F.when(F.col("rn") == hi_rank, F.col("cents"))).alias(
            "hi_cents"
        ),
    )
    clipped = F.least(
        F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents")
    )
    return (
        v.join(F.broadcast(b), "pri")
        .groupBy("pri", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(clipped).alias("sum_winsorized_cents"),
            F.sum(
                F.when(F.col("cents") < F.col("lo_cents"), 1).otherwise(0)
            ).alias("n_clipped_low"),
            F.sum(
                F.when(F.col("cents") > F.col("hi_cents"), 1).otherwise(0)
            ).alias("n_clipped_high"),
        )
        .orderBy("pri")
    )


@register(
    "a32_kaplan_meier",
    # Kaplan-Meier survival table as exact integer sufficient
    # statistics: per (group, time) the events, censorings, and the
    # at-risk count n_i = total - all subjects leaving at earlier
    # times — the estimator S(t) = prod(1 - d_i/n_i) is a determined
    # function of these columns, kept out of the hash because a float
    # cumulative product is the one engine-divergent piece
    oracle="""
    WITH subj AS (
      SELECT event_type AS grp,
             CAST(event_id % 365 + 1 AS BIGINT) AS t,
             CASE WHEN event_id % 4 = 0 THEN 0 ELSE 1 END AS observed
      FROM events
    ),
    pt AS (
      SELECT grp, t,
             CAST(SUM(observed) AS BIGINT) AS n_events,
             CAST(SUM(1 - observed) AS BIGINT) AS n_censored,
             CAST(COUNT(*) AS BIGINT) AS n_leaving
      FROM subj GROUP BY grp, t
    )
    SELECT grp, t, n_events, n_censored,
           CAST(SUM(n_leaving) OVER (PARTITION BY grp)
                - (SUM(n_leaving) OVER (
                     PARTITION BY grp ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_leaving)
                AS BIGINT) AS n_at_risk
    FROM pt ORDER BY grp, t
    """,
)
def a32_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival analysis over deterministic durations
    (t = event_id % 365 + 1, 25% right-censored by event_id % 4 = 0),
    grouped by event_type: per distinct time, the event count d_i,
    censoring count c_i, and at-risk count n_i (subjects with duration
    >= t). Emitting the exact integer sufficient statistics rather
    than the float survival curve keeps the entry engine-exact; the
    curve itself is prod(1 - d_i/n_i) over these rows. Plan: one hash
    aggregate to (group, time) grain — tiny — then one window over the
    per-time table; the raw-data shuffle is the aggregate's only one."""
    subj = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        (F.col("event_id") % 365 + 1).cast("long").alias("t"),
        F.when(F.col("event_id") % 4 == 0, 0).otherwise(1).alias(
            "observed"
        ),
    )
    pt = subj.groupBy("grp", "t").agg(
        F.sum("observed").alias("n_events"),
        F.sum(1 - F.col("observed")).alias("n_censored"),
        F.count(F.lit(1)).alias("n_leaving"),
    )
    wcum = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("grp")
    # at risk at t = total - leavers strictly before t
    n_at_risk = (
        F.sum("n_leaving").over(wall)
        - (F.sum("n_leaving").over(wcum) - F.col("n_leaving"))
    ).cast("long")
    return pt.select(
        "grp", "t", "n_events", "n_censored",
        n_at_risk.alias("n_at_risk"),
    ).orderBy("grp", "t")


@register(
    "a33_cusum_alarm",
    # CUSUM drift detector WITHOUT recursion: the clamped-at-zero fold
    # s_i = max(0, s_{i-1} + x_i - k) has the closed form
    # s_i = p_i - min(0, min_{j<=i} p_j) over the prefix sums p of
    # (x - k) — two windows, integer micros, exact in both engines
    oracle="""
    WITH x AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) - 500000 AS d
      FROM events
    ),
    p AS (
      SELECT user_id, event_id,
             SUM(d) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS pfx
      FROM x
    ),
    s AS (
      SELECT user_id,
             pfx - LEAST(CAST(0 AS BIGINT),
                         MIN(pfx) OVER (PARTITION BY user_id
                                        ORDER BY event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)) AS cusum
      FROM p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum_micros,
           CAST(CASE WHEN MAX(cusum) > 10000000 THEN 1 ELSE 0 END
                AS BIGINT) AS alarm
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def a33_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user (Page 1954): the
    classic recursive statistic s_i = max(0, s_{i-1} + (x_i - k)) is
    NOT window-expressible as written, but has the exact closed form
    s_i = p_i - min(0, running_min(p)) over prefix sums p of (x - k) —
    so the whole detector is two cumulative windows plus a hash
    aggregate, no recursion, no UDF, integer micros throughout
    (k = 0.5 in micros, alarm threshold h = 10 in micros). Plan: one
    shuffle on user_id shared by both windows and the aggregate."""
    x = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        (
            F.round(F.col("value") * 1000000.0).cast("long") - 500000
        ).alias("d"),
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = x.select(
        "user_id", "event_id",
        F.sum("d").over(wcum).alias("pfx"),
    )
    # running min over the SAME event-ordered frame: min(0, min pfx)
    cusum = F.col("pfx") - F.least(
        F.lit(0).cast("long"), F.min("pfx").over(wcum)
    )
    s = p.select("user_id", cusum.alias("cusum"))
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max("cusum").alias("max_cusum_micros"),
            F.when(F.max("cusum") > 10000000, 1)
            .otherwise(0)
            .cast("long")
            .alias("alarm"),
        )
        .orderBy("user_id")
    )


@register(
    "s_compaction_rewrite",
    # small-file compaction: the rewrite must be CONTENT-NEUTRAL (the
    # oracle aggregates the source directly) while the Spark side also
    # checks the file-count contract maxRecordsPerFile implies — the
    # boolean is emitted as a hashed column, so a compaction that
    # splits wrong or drops rows goes red
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(1 AS BIGINT) AS file_contract_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def s_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the table-maintenance primitive a 100 TB
    lake runs continuously): rewrite lineitem into size-bounded files —
    coalesced to one writer task, split by maxRecordsPerFile=25000 —
    then read the compacted layout back and prove (a) content equality
    via the oracle's source-side aggregate and (b) the file-count
    contract n_files == ceil(rows / maxRecordsPerFile), emitted as a
    hashed boolean. At fleet scale the same rewrite runs per partition
    directory with AQE-coalesced writer tasks instead of coalesce(1)
    (single-task form keeps the count contract deterministic here)."""
    import tempfile

    src = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    out_dir = tempfile.mkdtemp(prefix="engine_compact_")
    (
        src.coalesce(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 25000)
        .parquet(out_dir)
    )
    # file count is filesystem METADATA (no Spark action); the row-count
    # side of the contract stays in-plan as a broadcast 1-row aggregate
    n_files = len([
        f for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ])
    back = read_parquet(spark, out_dir)
    contract = (
        back.agg(F.count(F.lit(1)).alias("__n"))
        .select(
            (
                F.lit(n_files)
                == F.ceil(F.col("__n") / F.lit(25000.0)).cast("long")
            )
            .cast("long")
            .alias("file_contract_ok")
        )
    )
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
        .crossJoin(F.broadcast(contract))
        .select(
            "l_returnflag", "n_rows", "sum_price", "file_contract_ok"
        )
        .orderBy("l_returnflag")
    )


@register(
    "ml_target_encoding",
    # leave-one-out target encoding emitted as exact integer
    # (numerator, denominator) pairs — the encoded value is their
    # ratio, kept out of the hash so no float division is compared;
    # singleton categories surface den = 0 (the caller's global-mean
    # fallback case) instead of a NULL-hiding ratio
    oracle="""
    WITH v AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(SUM(cents) OVER (PARTITION BY o_custkey) - cents
                AS BIGINT) AS loo_num_cents,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) - 1
                AS BIGINT) AS loo_den
    FROM v ORDER BY o_orderkey
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (the leakage-safe categorical
    encoder): each order's customer category is encoded by the mean
    target of the OTHER orders in the category — numerator
    sum(category) - own target, denominator n - 1, both exact integers
    (cents). Plan: one window shuffle on the category key; at 100 TB
    this is the same one-shuffle shape as any per-key normalization,
    and hot categories salt like any skewed window key."""
    v = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias(
            "cents"
        ),
    )
    w = Window.partitionBy("o_custkey")
    return v.select(
        "o_orderkey", "o_custkey",
        (F.sum("cents").over(w) - F.col("cents")).alias("loo_num_cents"),
        (F.count(F.lit(1)).over(w) - 1).alias("loo_den"),
    ).orderBy("o_orderkey")


#: Poisson(1) CDF thresholds as 8-hex-digit strings (floor(cdf * 2^32)):
#: weight(u) = #{t : u >= t} over the first 8 md5 hex digits — lowercase
#: hex compares identically to the integer in BOTH engines, so the
#: bootstrap weights are deterministic and engine-exact.
_POISSON_HEX = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
    "ff1025f5", "ffd90f3b", "fffa8b71",
)


@register(
    "a34_bootstrap_resamples",
    # Poisson bootstrap (the distributed bootstrap: per-row Poisson(1)
    # weights replace global sampling-with-replacement, so no pass
    # needs the full dataset): 16 deterministic resamples from md5
    # thresholds, each emitting exact integer sufficient statistics —
    # the CI is a determined function of these 16 rows
    oracle=f"""
    WITH b AS (SELECT unnest(range(0, 16)) AS b),
    w AS (
      SELECT b.b,
             CAST(round(o.o_totalprice * 100.0) AS BIGINT) AS cents,
             {" + ".join(
                 f"CASE WHEN substring(md5(CAST(o.o_orderkey AS VARCHAR)"
                 f" || '_' || CAST(b.b AS VARCHAR)), 1, 8) >= '{t}'"
                 f" THEN 1 ELSE 0 END"
                 for t in _POISSON_HEX
             )} AS wt
      FROM orders o, b
    )
    SELECT b,
           CAST(SUM(wt) AS BIGINT) AS n_drawn,
           CAST(SUM(wt * cents) AS BIGINT) AS sum_wx_cents,
           CAST(SUM(CASE WHEN wt = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM w GROUP BY b ORDER BY b
    """,
)
def a34_bootstrap_resamples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy 2012 — the bootstrap that scales:
    each row independently draws a Poisson(1) replication weight per
    resample, so resampling is a stateless per-row map instead of
    global sampling-with-replacement): 16 resamples with weights
    derived from md5 hex thresholds of the Poisson CDF — fully
    deterministic, engine-exact. Emits each resample's integer
    sufficient statistics (draw count, weighted target sum, zero-weight
    count); the percentile CI over resample means is a determined
    function of the 16 rows. Plan: one 16-way row explode fused into
    the scan, one hash aggregate to 16 rows — embarrassingly linear."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias(
            "cents"
        ),
        # 16-way resample fan-out as a generator fused into the scan —
        # no join operator, each task expands its own rows locally
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(16)])
        ).alias("b"),
    )
    u = F.substring(
        F.md5(
            F.concat_ws(
                "_",
                F.col("o_orderkey").cast("string"),
                F.col("b").cast("string"),
            ).cast("binary")
        ),
        1, 8,
    )
    wt = sum(
        F.when(u >= t, 1).otherwise(0) for t in _POISSON_HEX
    ).alias("wt")
    w = o.select("b", "cents", wt)
    return (
        w.groupBy("b")
        .agg(
            F.sum("wt").alias("n_drawn"),
            F.sum(F.col("wt") * F.col("cents")).alias("sum_wx_cents"),
            F.sum(F.when(F.col("wt") == 0, 1).otherwise(0)).alias(
                "n_dropped"
            ),
        )
        .orderBy("b")
    )


@register(
    "ml_feature_hashing",
    # hashing-trick featurizer: token -> bucket via the first two md5
    # hex nibbles (char-position lookup, portable to any engine),
    # sign via the third nibble; corpus-level bucket aggregates are
    # exact integers
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    h AS (
      SELECT tok,
             ((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1)
               * 16
              + strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1
             ) % 64 AS bucket,
             CASE WHEN substring(md5(tok), 3, 1) < '8' THEN 1 ELSE -1 END
               AS sgn
      FROM toks
    )
    SELECT bucket,
           CAST(SUM(sgn) AS BIGINT) AS signed_count,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM h GROUP BY bucket ORDER BY bucket
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger 2009, the hashing trick): tokens map
    to a fixed 64-bucket space via md5 nibbles with a ±1 sign nibble —
    no vocabulary pass, no dictionary broadcast, the property that
    makes it THE featurizer for unbounded token spaces at 100 TB.
    Bucket ids come from character-position lookups on the hex digest
    (portable across engines, no hex->int builtin needed). Emits exact
    corpus-level bucket aggregates: signed count (what a linear model
    sees), token count, distinct-token count (collision visibility).
    Plan: tokenize-explode fused into the scan, one hash aggregate."""
    hexpos = "0123456789abcdef"
    toks = (
        load(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("tok")
        )
    )
    digest = F.md5(F.col("tok").cast("binary"))
    v1 = F.instr(F.lit(hexpos), F.substring(digest, 1, 1)) - 1
    v2 = F.instr(F.lit(hexpos), F.substring(digest, 2, 1)) - 1
    bucket = ((v1 * 16 + v2) % 64).alias("bucket")
    sgn = (
        F.when(F.substring(digest, 3, 1) < "8", 1).otherwise(-1)
    ).alias("sgn")
    return (
        toks.select(bucket, sgn, "tok")
        .groupBy("bucket")
        .agg(
            F.sum("sgn").alias("signed_count"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("tok").alias("n_distinct_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "g5_degree_assortativity",
    # degree assortativity as exact integer sufficient statistics over
    # the co-purchase graph (same edge rule as g1): per undirected edge
    # counted in both directions, the sums Pearson's r is built from —
    # the coefficient itself is a determined float function of one row
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    dir_edges AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM dir_edges GROUP BY u
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
           CAST(SUM(du.d) AS BIGINT) AS sum_src_deg,
           CAST(SUM(du.d * dv.d) AS BIGINT) AS sum_deg_prod,
           CAST(SUM(du.d * du.d) AS BIGINT) AS sum_src_deg_sq
    FROM dir_edges e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
    """,
)
def g5_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-purchase graph:
    do high-degree parts co-occur with high-degree parts? Emits the
    exact integer sufficient statistics of Pearson's r over directed
    edge endpoints (both directions of each undirected edge, so source
    and target marginals coincide); r = (M*Sxy - Sx^2/..) is a
    determined function of the one output row. Plan: the checkpointed
    edge build (``_copurchase_edges``), a tiny degree table joined
    twice — degree tables are |V|-sized, broadcastable at any realistic
    scale."""
    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    dir_edges = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = dir_edges.groupBy("u").agg(
        F.count(F.lit(1)).alias("d")
    ).withColumnRenamed("u", "node")
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")
    return (
        dir_edges.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).alias("n_directed_edges"),
            F.sum("du").alias("sum_src_deg"),
            F.sum(F.col("du") * F.col("dv")).alias("sum_deg_prod"),
            F.sum(F.col("du") * F.col("du")).alias("sum_src_deg_sq"),
        )
    )


@register(
    "j9_asof_nearest",
    # nearest-direction as-of (pandas merge_asof direction='nearest'):
    # the closer of the backward/forward purchase, ties to backward —
    # the oracle runs DuckDB's native ASOF both ways and applies the
    # same interval-comparison choice rule
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type <> 'purchase'
    ),
    r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value AS ref_value
      FROM events WHERE event_type = 'purchase'
    ),
    b AS (
      SELECT l.event_id, r.ts AS bt, r.ref_value AS bv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts >= r.ts
    ),
    f AS (
      SELECT l.event_id, r.ts AS ft, r.ref_value AS fv
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts <= r.ts
    )
    SELECT l.event_id, l.user_id, l.ts, l.value,
           CASE WHEN f.ft IS NULL THEN b.bv
                WHEN b.bt IS NULL THEN f.fv
                WHEN (l.ts - b.bt) <= (f.ft - l.ts) THEN b.bv
                ELSE f.fv END AS ref_value
    FROM l JOIN b USING (event_id) JOIN f USING (event_id)
    ORDER BY event_id
    """,
)
def j9_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof
    direction='nearest'): each non-purchase event attaches the
    purchase value CLOSEST in time — before or after — with ties going
    to the backward match. Engine composes one backward and one
    forward union+carry pass (operators/joins.as_of_join
    direction='nearest'), each the single-shuffle no-range-explosion
    plan, then a projection picks the closer match time."""
    events = load(spark, sf_dir, "events")
    left = events.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("ref_value")
    )
    out = join_ops.as_of_join(
        left, right, on="user_id", left_time="ts", right_time="ts",
        right_values=["ref_value"], direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ts", "value", "ref_value"
    ).orderBy("event_id")


@register(
    "w_rolling_ols_slope",
    # rolling least-squares trend WITHOUT per-frame recomputation: with
    # x = position 0..6 inside the 7-row frame, Sxy over the frame is
    # Sum(j*y) - (rn-6)*Sum(y) for absolute row number j — two plain
    # rolling sums. slope = slope_num / 196, intercept = icpt_num / 196
    # (n*Sxx - Sx^2 = 7*91 - 441 = 196, a constant), so the hashed
    # outputs are exact integers
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn,
             SUM(y) OVER (PARTITION BY user_id ORDER BY rn
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS sy,
             SUM(rn * y) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS sjy
      FROM v
    )
    SELECT user_id, event_id,
           CAST(7 * (sjy - (rn - 6) * sy) - 21 * sy AS BIGINT)
             AS slope_num_micros,
           CAST(91 * sy - 21 * (sjy - (rn - 6) * sy) AS BIGINT)
             AS icpt_num_micros
    FROM s WHERE rn >= 7 ORDER BY user_id, event_id
    """,
)
def w_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-observation least-squares trend per user (the windowed
    regression behind trend-following indicators): slope and intercept
    numerators over the frame's relative positions 0..6, derived from
    TWO plain rolling sums — Sum(y) and Sum(j*y) with j the absolute
    row number — via Sxy = Sjy - (frame_start)*Sy, instead of
    re-scanning each frame. Denominator n*Sxx - Sx^2 = 196 is constant,
    so outputs are exact integer micros. Plan: one window shuffle on
    user_id shared by the ranking and both rolling sums."""
    v = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.round(F.col("value") * 1000000.0).cast("long").alias("y"),
    )
    wrank = Window.partitionBy("user_id").orderBy("event_id")
    v = v.withColumn("rn", F.row_number().over(wrank))
    wroll = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-6, Window.currentRow)
    )
    s = v.select(
        "user_id", "event_id", "rn",
        F.sum("y").over(wroll).alias("sy"),
        F.sum(F.col("rn") * F.col("y")).over(wroll).alias("sjy"),
    )
    sxy = F.col("sjy") - (F.col("rn") - 6) * F.col("sy")
    return (
        s.filter(F.col("rn") >= 7)
        .select(
            "user_id", "event_id",
            (7 * sxy - 21 * F.col("sy")).alias("slope_num_micros"),
            (91 * F.col("sy") - 21 * sxy).alias("icpt_num_micros"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "s_csv_multiline_quoted",
    # CSV hard mode: planted fields carry embedded newlines, commas and
    # double quotes; the write quotes/escapes them, the read uses
    # multiLine=true to reassemble records across line breaks. The
    # oracle replays the planted content straight from the source
    # table, so any quoting/escaping/reassembly defect shifts the stats
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             'note-' || CAST(o_orderkey AS VARCHAR) || chr(10) || 'p='
               || o_orderpriority || ',"x"' AS note
      FROM orders
    )
    SELECT pri,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(length(note)) AS BIGINT) AS sum_note_len,
           CAST(SUM(CASE WHEN contains(note, chr(10)) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_multiline
    FROM v GROUP BY pri ORDER BY pri
    """,
)
def s_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source with embedded newlines, delimiters and quotes
    inside quoted fields: planted notes ('note-<key>\\np=<pri>,"x"')
    survive a CSV write (quote-on-demand, escaped inner quotes) and a
    multiLine=true read that reassembles records across raw line
    breaks — the corner that breaks naive line-splitting CSV readers.
    NOTE for 100 TB: multiLine CSV is NOT splittable (a file is one
    record stream), so the engine keeps many moderate files rather
    than few huge ones; columnar formats remain the real scale path."""
    import tempfile

    from pyspark.sql import types as T

    src = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.concat(
            F.lit("note-"), F.col("o_orderkey").cast("string"),
            F.lit("\n"), F.lit("p="), F.col("o_orderpriority"),
            F.lit(',"x"'),
        ).alias("note"),
    )
    out_dir = tempfile.mkdtemp(prefix="engine_csv_ml_")
    src.write.mode("overwrite").option("header", True).csv(out_dir)
    schema = T.StructType([
        T.StructField("pri", T.StringType()),
        T.StructField("note", T.StringType()),
    ])
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(out_dir)
    )
    return (
        back.groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("note")).alias("sum_note_len"),
            F.sum(
                F.when(F.col("note").contains("\n"), 1).otherwise(0)
            ).alias("n_multiline"),
        )
        .orderBy("pri")
    )


@register(
    "ts_holt_linear",
    # recursive-CTE twin of the two-state Holt recurrence: the level
    # expression is repeated verbatim inside the trend update so both
    # engines evaluate the identical float ops in the identical order
    # (bit-exact, the ind_parabolic_sar pattern); constants enter as
    # CAST(decimal AS DOUBLE), equal to the Python literals
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, ts, event_id, x, rn,
             x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b2.user_id, b2.ts, b2.event_id, b2.x, b2.rn,
             CAST(0.3 AS DOUBLE) * b2.x
               + CAST(0.7 AS DOUBLE) * (r.l + r.b) AS l,
             CAST(0.2 AS DOUBLE)
               * ((CAST(0.3 AS DOUBLE) * b2.x
                   + CAST(0.7 AS DOUBLE) * (r.l + r.b)) - r.l)
               + CAST(0.8 AS DOUBLE) * r.b AS b
      FROM rec r
      JOIN base b2 ON b2.user_id = r.user_id AND b2.rn = r.rn + 1
    )
    SELECT event_id, user_id, ts,
           l AS holt_level, b AS holt_trend, l + b AS holt_fc1
    FROM rec
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per user
    (operators/indicators.holt_linear, alpha=0.3 beta=0.2): the
    TWO-state (level, trend) recurrence beyond the EMA family, with the
    one-step-ahead forecast level+trend — the classic streaming
    forecaster. Per-partition fold (one pandas call per user),
    hash-verified bit-exact against a recursive-CTE twin that repeats the
    level expression verbatim inside the trend update."""
    from big_data_analysis_for_stock_market_data_spark.operators import indicators as ind

    ev = load(spark, sf_dir, "events")
    d = ind.holt_linear(
        ev, alpha=0.3, beta=0.2, partition_by="user_id",
        order_by="ts", col="value",
    )
    return d.select(
        "event_id", "user_id", "ts",
        "holt_level", "holt_trend", "holt_fc1",
    )


@register(
    "dq_benford_firstdigit",
    # Benford's-law first-digit audit via string ops (no log10 in the
    # hashed columns — the expected Benford share is a determined
    # function of the digit): digit counts plus the chi-square
    # NUMERATOR pieces as exact integers
    oracle="""
    WITH d AS (
      SELECT substring(CAST(CAST(round(o_totalprice * 100.0) AS BIGINT)
                       AS VARCHAR), 1, 1) AS digit
      FROM orders
      WHERE o_totalprice > 0
    )
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_total
    FROM d GROUP BY digit ORDER BY digit
    """,
)
def dq_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (the classic fraud / synthetic-
    data scan): the leading digit of each positive order total in
    cents, counted per digit with the corpus total alongside — the
    Benford deviation statistic sum((n/N - log10(1+1/d))^2) is a
    determined function of these 9 exact-integer rows. Digit extraction
    is pure string arithmetic (no float log in hashed output). Plan:
    one hash aggregate plus a 9-row window for the total."""
    d = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100.0)
                .cast("long")
                .cast("string"),
                1, 1,
            ).alias("digit")
        )
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "digit", "n",
        F.sum("n").over(Window.partitionBy()).alias("n_total"),
    ).orderBy("digit")


@register(
    "fn_bitwise_suite",
    # bitwise function-surface parity: per-row shifts/masks feeding
    # bit_and / bit_or / bit_xor aggregates plus a popcount sum — all
    # exact integers in both engines
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(BIT_AND(o_custkey) AS BIGINT) AS and_key,
           CAST(BIT_OR(o_custkey) AS BIGINT) AS or_key,
           CAST(BIT_XOR(o_custkey) AS BIGINT) AS xor_key,
           CAST(SUM(bit_count(CAST(o_custkey AS BIGINT))) AS BIGINT)
             AS popcount_sum,
           CAST(SUM((o_custkey << 3) & 1023) AS BIGINT) AS shifted_mask,
           CAST(SUM(o_custkey >> 2) AS BIGINT) AS rshift_sum,
           CAST(SUM(xor(o_custkey, 1365)) AS BIGINT) AS xor_const_sum
    FROM orders GROUP BY pri ORDER BY pri
    """,
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family (F-ext): shiftleft/shiftright with masks,
    per-row XOR against a constant, popcount (bit_count), and the
    BIT_AND / BIT_OR / BIT_XOR aggregates — the bit-fiddling surface
    bitmap indexes and bloom filters are built from, verified exact per
    priority group. Single hash aggregate; every expression
    whole-stage-codegen JVM-side."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_custkey")
    return (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.bit_and(k).alias("and_key"),
            F.bit_or(k).alias("or_key"),
            F.bit_xor(k).alias("xor_key"),
            F.sum(F.bit_count(k.cast("long"))).cast("long").alias(
                "popcount_sum"
            ),
            F.sum(
                F.shiftleft(k, 3).bitwiseAND(F.lit(1023))
            ).alias("shifted_mask"),
            F.sum(F.shiftright(k, 2)).alias("rshift_sum"),
            F.sum(k.bitwiseXOR(F.lit(1365))).alias("xor_const_sum"),
        )
        .orderBy("pri")
    )


@register(
    "text_sentence_split",
    # regex sentence segmentation parity: the split pattern
    # [.!?]+\\s+ is dialect-portable (character class + quantifiers
    # only); per-doc sentence counts and length sums are exact integers
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               string_split_regex(text, '[.!?]+\\s+'),
               x -> trim(x) <> ''
             ) AS sents
      FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(COALESCE(list_sum(
             list_transform(sents, x -> length(trim(x)))), 0) AS BIGINT)
             AS sum_sentence_chars,
           CAST(COALESCE(list_max(
             list_transform(sents, x -> length(trim(x)))), 0) AS BIGINT)
             AS max_sentence_chars
    FROM s ORDER BY doc_id
    """,
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (the chunking primitive upstream of context
    packing): split on terminal-punctuation runs followed by
    whitespace — a regex subset (character class + quantifier) that
    parses identically in Java and RE2 dialects — then per-doc
    sentence count, total and max trimmed sentence length, all exact
    integers. Pure per-row array expressions fused into the scan; zero
    shuffles beyond the final sort."""
    s = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), r"[.!?]+\s+"),
            lambda x: F.trim(x) != "",
        ).alias("sents"),
    )
    lens = F.transform(F.col("sents"), lambda x: F.length(F.trim(x)))
    return s.select(
        "doc_id",
        F.size("sents").cast("long").alias("n_sentences"),
        F.coalesce(
            F.aggregate(
                lens, F.lit(0).cast("long"), lambda a, x: a + x
            ),
            F.lit(0),
        ).alias("sum_sentence_chars"),
        F.coalesce(F.array_max(lens).cast("long"), F.lit(0)).alias(
            "max_sentence_chars"
        ),
    ).orderBy("doc_id")


@register(
    "g6_common_neighbors",
    # link prediction by common-neighbor count: wedges a-w-b enumerate
    # candidate pairs (one wedge join), the existing-edge flag comes
    # from a left join back to the edge list; the support-2 edge rule
    # keeps the wedge fan-out bounded
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    dir_edges AS (
      SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
    ),
    cn AS (
      SELECT d1.v AS a, d2.v AS b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM dir_edges d1 JOIN dir_edges d2
        ON d1.u = d2.u AND d1.v < d2.v
      GROUP BY d1.v, d2.v
    )
    SELECT cn.a, cn.b, cn.n_common,
           CAST(CASE WHEN e.u IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS linked
    FROM cn LEFT JOIN edges e ON e.u = cn.a AND e.v = cn.b
    ORDER BY cn.a, cn.b
    """,
)
def g6_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph: for
    every node pair sharing >= 3 neighbors (one wedge self-join through
    the shared endpoint — the triangle join WITHOUT the closing-edge
    requirement), the common-neighbor count plus whether the pair is
    already linked — the classic candidate-edge score. At scale the
    wedge join fans out quadratically in the max degree; the standard
    mitigation (cap or sample high-degree wedge centers) applies, noted
    because this graph's degrees are moderate. Edges from
    ``_copurchase_edges`` (checkpointed once)."""
    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    dir_edges = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    d1 = dir_edges.select(F.col("u").alias("w"), F.col("v").alias("a"))
    d2 = dir_edges.select(F.col("u").alias("w"), F.col("v").alias("b"))
    cn = (
        d1.join(d2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    linked = edges.select(
        F.col("u").alias("a"), F.col("v").alias("b"),
        F.lit(1).cast("long").alias("linked"),
    )
    return (
        cn.join(linked, ["a", "b"], "left")
        .select(
            "a", "b", "n_common",
            F.coalesce(F.col("linked"), F.lit(0).cast("long")).alias(
                "linked"
            ),
        )
        .orderBy("a", "b")
    )


@register(
    "a37_weighted_median",
    # exact weighted median by the deterministic rule "smallest value
    # whose doubled cumulative weight reaches the total", cumulated in
    # (value, key) order — pure integer window arithmetic, no
    # interpolation, engine-exact
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
             CAST(o_orderkey % 5 + 1 AS BIGINT) AS wt,
             o_orderkey AS okey
      FROM orders
    ),
    c AS (
      SELECT pri, cents, wt,
             SUM(wt) OVER (PARTITION BY pri ORDER BY cents, okey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cw,
             SUM(wt) OVER (PARTITION BY pri) AS tw
      FROM v
    )
    SELECT pri,
           CAST(MIN(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN cents END) AS BIGINT)
             AS weighted_median_cents
    FROM c GROUP BY pri ORDER BY pri
    """,
)
def a37_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group (robust location under unequal
    row importance — sample weights here are deterministic okey%5+1):
    the smallest value whose doubled cumulative weight reaches the
    group total, cumulated under a total (value, key) order — integer
    arithmetic end to end, no percentile interpolation. Plan: one
    window shuffle on the group key, then a hash aggregate; same
    single-shuffle shape as any per-group rank statistic."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias(
            "cents"
        ),
        (F.col("o_orderkey") % 5 + 1).cast("long").alias("wt"),
        F.col("o_orderkey").alias("okey"),
    )
    wcum = (
        Window.partitionBy("pri")
        .orderBy("cents", "okey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = v.select(
        "pri", "cents", "wt",
        F.sum("wt").over(wcum).alias("cw"),
        F.sum("wt").over(Window.partitionBy("pri")).alias("tw"),
    )
    return (
        c.groupBy("pri")
        .agg(
            F.min("tw").alias("total_weight"),
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents"))
            ).alias("weighted_median_cents"),
        )
        .orderBy("pri")
    )


@register(
    "a38_ratio_metric_stats",
    # delta-method sufficient statistics for ratio metrics (the A/B
    # analysis staple: metric = sum(x_u) / sum(n_u) over users, with
    # variance from the per-user (x, n) moments): per arm, the exact
    # integer sums the variance formula consumes
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 3 AS BIGINT) AS arm,
             CAST(SUM(CAST(round(value * 1000.0) AS BIGINT))
                  AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(n) AS BIGINT) AS sum_n,
           CAST(SUM(x * x) AS BIGINT) AS sum_xx,
           CAST(SUM(n * n) AS BIGINT) AS sum_nn,
           CAST(SUM(x * n) AS BIGINT) AS sum_xn
    FROM per_user GROUP BY arm ORDER BY arm
    """,
)
def a38_ratio_metric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method inputs for ratio metrics (Deng et al. — the
    unit-of-randomization problem in A/B tests: metric = sum(x)/sum(n)
    over USERS, so row-level variance is wrong): per experiment arm
    (deterministic user_id % 3), the exact integer sufficient
    statistics — user count, sums, second moments and the cross
    moment — from which the delta-method variance is a determined
    function. Plan: two hash aggregates (user grain, then arm grain),
    the second over a tiny frame."""
    per_user = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.round(F.col("value") * 1000.0).cast("long").alias(
                "millis"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum("millis").alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            (F.col("user_id") % 3).cast("long").alias("arm"), "x", "n"
        )
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("x").alias("sum_x"),
            F.sum("n").alias("sum_n"),
            F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
            F.sum(F.col("n") * F.col("n")).alias("sum_nn"),
            F.sum(F.col("x") * F.col("n")).alias("sum_xn"),
        )
        .orderBy("arm")
    )


#: Convex test polygons as directed edge lists (poly_id, x1, y1, x2, y2)
#: — literal integers shared verbatim by the Spark side and the oracle,
#: so the inside test is exact integer arithmetic in both engines.
_POLY_EDGES: tuple[tuple[int, int, int, int, int], ...] = (
    # P1: axis-aligned square
    (1, 0, 0, 200, 0), (1, 200, 0, 200, 200),
    (1, 200, 200, 0, 200), (1, 0, 200, 0, 0),
    # P2: diamond centered (500, 500)
    (2, 500, 200, 800, 500), (2, 800, 500, 500, 800),
    (2, 500, 800, 200, 500), (2, 200, 500, 500, 200),
    # P3: triangle in the negative quadrant
    (3, -900, -900, -400, -900), (3, -400, -900, -650, -400),
    (3, -650, -400, -900, -900),
    # P4: hexagon centered (-500, 500)
    (4, -700, 500, -600, 330), (4, -600, 330, -400, 330),
    (4, -400, 330, -300, 500), (4, -300, 500, -400, 670),
    (4, -400, 670, -600, 670), (4, -600, 670, -700, 500),
    # P5: wide flat rectangle crossing the origin
    (5, -800, -100, 800, -100), (5, 800, -100, 800, 100),
    (5, 800, 100, -800, 100), (5, -800, 100, -800, -100),
)


def _poly_edges_sql() -> str:
    rows = ", ".join(
        f"({p}, {x1}, {y1}, {x2}, {y2})"
        for p, x1, y1, x2, y2 in _POLY_EDGES
    )
    return (
        f"(VALUES {rows}) AS pe(poly_id, x1, y1, x2, y2)"
    )


@register(
    "j10_point_in_polygon",
    # point-in-convex-polygon join with EXACT integer cross products:
    # inside = all edge cross products share a sign (orientation-free
    # convex rule, boundary counts as inside). The polygon edge table
    # is a broadcast literal; the oracle carries the identical VALUES
    oracle=f"""
    WITH pts AS (
      SELECT o_orderkey AS pid,
             CAST((o_orderkey * 7919) % 2001 - 1000 AS BIGINT) AS px,
             CAST((o_orderkey * 104729) % 2001 - 1000 AS BIGINT) AS py
      FROM orders
    ),
    crossed AS (
      SELECT pts.pid, pts.px, pts.py, pe.poly_id,
             (pe.x2 - pe.x1) * (pts.py - pe.y1)
               - (pe.y2 - pe.y1) * (pts.px - pe.x1) AS cr
      FROM pts, {_poly_edges_sql()}
    ),
    verdict AS (
      SELECT pid, px, py, poly_id,
             CASE WHEN MIN(cr) >= 0 OR MAX(cr) <= 0 THEN 1 ELSE 0 END
               AS inside
      FROM crossed GROUP BY pid, px, py, poly_id
    )
    SELECT poly_id,
           CAST(SUM(inside) AS BIGINT) AS n_inside,
           CAST(SUM(inside * px) AS BIGINT) AS sum_x_inside,
           CAST(SUM(inside * py) AS BIGINT) AS sum_y_inside
    FROM verdict GROUP BY poly_id ORDER BY poly_id
    """,
)
def j10_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join against a broadcast polygon table
    (the dimension-side geofence shape: points are the 100 TB side,
    polygons the small side): deterministic integer points tested
    against five convex polygons via the all-cross-products-one-sign
    rule — exact integer arithmetic, boundary-inclusive, orientation-
    free. Plan: broadcast the literal edge table, one cross-product
    expansion fused into the scan (|edges| = 21 rows), one hash
    aggregate per (point, polygon), one per polygon. For concave or
    many polygons the grid-cell pre-filter of j8_grid_radius_join
    composes in front."""
    pts = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pid"),
        ((F.col("o_orderkey") * 7919) % 2001 - 1000).alias("px"),
        ((F.col("o_orderkey") * 104729) % 2001 - 1000).alias("py"),
    )
    pe = spark.createDataFrame(
        list(_POLY_EDGES), "poly_id long, x1 long, y1 long, x2 long, y2 long"
    )
    cr = (
        (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
        - (F.col("y2") - F.col("y1")) * (F.col("px") - F.col("x1"))
    ).alias("cr")
    crossed = pts.join(F.broadcast(pe)).select(
        "pid", "px", "py", "poly_id", cr
    )
    verdict = (
        crossed.groupBy("pid", "px", "py", "poly_id")
        .agg(
            F.when(
                (F.min("cr") >= 0) | (F.max("cr") <= 0), 1
            ).otherwise(0).alias("inside")
        )
    )
    return (
        verdict.groupBy("poly_id")
        .agg(
            F.sum("inside").alias("n_inside"),
            F.sum(F.col("inside") * F.col("px")).alias("sum_x_inside"),
            F.sum(F.col("inside") * F.col("py")).alias("sum_y_inside"),
        )
        .orderBy("poly_id")
    )


@register(
    "w_time_weighted_avg",
    # TWAP-style time-weighted average as exact integer (numerator,
    # denominator): each observation holds until the next one, so its
    # weight is the integer-millisecond gap to the successor (last
    # observation carries no duration) — the ratio is a determined
    # function, kept out of the hash
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS t_ms,
             CAST(round(value * 1000.0) AS BIGINT) AS x_milli
      FROM events
    ),
    g AS (
      SELECT user_id, x_milli,
             LEAD(t_ms) OVER (PARTITION BY user_id
                             ORDER BY t_ms, event_id) - t_ms AS dt_ms
      FROM v
    )
    SELECT user_id,
           CAST(COUNT(dt_ms) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_ms * x_milli) AS BIGINT) AS twa_num,
           CAST(SUM(dt_ms) AS BIGINT) AS twa_den_ms
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def w_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (the TWAP / uptime-metric
    primitive: an observation counts for how LONG it held, not how
    often it was sampled): each value is weighted by the integer-millisecond
    gap to the next observation, emitted as exact integer numerator and
    denominator. Plan: one window shuffle on user_id for the LEAD, then
    a hash aggregate on the same key — single-shuffle."""
    v = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_millis(F.col("ts")).alias("t_ms"),
        F.round(F.col("value") * 1000.0).cast("long").alias("x_milli"),
    )
    w = Window.partitionBy("user_id").orderBy("t_ms", "event_id")
    g = v.select(
        "user_id", "x_milli",
        (F.lead("t_ms").over(w) - F.col("t_ms")).alias("dt_ms"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count("dt_ms").alias("n_intervals"),
            F.sum(F.col("dt_ms") * F.col("x_milli")).alias("twa_num"),
            F.sum("dt_ms").alias("twa_den_ms"),
        )
        .orderBy("user_id")
    )


@register(
    "mm_resize_nearest_native",
    # closed-form replay of the nearest-neighbor RESIZE: output pixel
    # (i, j) of the 4x4 resample reads source ((i*h)//4, (j*w)//4) —
    # integer index arithmetic the oracle replays directly on the
    # planted pixel formula, so the whole encode->decode->resize chain
    # is verified, not just decode
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    rs AS (
      SELECT u.user_id,
             8 + u.user_id % 9 AS w, 5 + u.user_id % 7 AS h,
             i.i, j.i AS j,
             (u.user_id * 7
              + ((i.i * (5 + u.user_id % 7)) // 4) * 31
              + ((j.i * (8 + u.user_id % 9)) // 4) * 13) % 256 AS red
      FROM u,
           unnest(range(0, 4)) AS i(i),
           unnest(range(0, 4)) AS j(i)
    )
    SELECT user_id,
           CAST(MIN(w) AS BIGINT) AS src_w,
           CAST(MIN(h) AS BIGINT) AS src_h,
           CAST(SUM(red) AS BIGINT) AS rs_sum_r,
           CAST(SUM((red + 71) % 256) AS BIGINT) AS rs_sum_g,
           CAST(SUM((red + 142) % 256) AS BIGINT) AS rs_sum_b,
           CAST(SUM(CASE WHEN (i = 0 AND j = 0) OR (i = 3 AND j = 3)
                         THEN red ELSE 0 END) AS BIGINT)
             AS rs_corner_sum
    FROM rs GROUP BY user_id ORDER BY user_id
    """,
)
def mm_resize_nearest_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE image resize verification (operators/multimodal.
    resize_roundtrip_stats): planted pixels are PNG-encoded (every
    filter type), natively decoded, and nearest-neighbor resampled to
    4x4; the resampled channel sums plus a corner probe must equal the
    oracle's closed-form replay of the integer index map
    src = (dst * src_len) // dst_len. Completes the native media
    story: decode (mm_*_native_decode) AND the downstream transform
    are both oracle-checked."""
    from big_data_analysis_for_stock_market_data_spark.operators.multimodal import (
        resize_roundtrip_stats,
    )

    users = load(spark, sf_dir, "events").select("user_id").distinct()
    return resize_roundtrip_stats(users).orderBy("user_id")


@register(
    "a39_mannwhitney_u",
    # Mann-Whitney U with midrank tie handling in DOUBLED integer units
    # (avg rank of value v = #less + (ties+1)/2, so 2*rank is always
    # integer): rank sums from a cumulative window over the value-grain
    # table, never the raw rows; the tie-correction cube sum rides along
    oracle="""
    WITH x AS (
      SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    g AS (
      SELECT v, CAST(SUM(is_a) AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM x GROUP BY v
    ),
    c AS (
      SELECT v, ca, cnt,
             SUM(cnt) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - cnt AS less
      FROM g
    )
    SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
           CAST(SUM(cnt - ca) AS BIGINT) AS n_b,
           CAST(SUM(ca * (2 * less + cnt + 1)) AS BIGINT)
             AS ranksum_a_doubled,
           CAST(SUM(ca * (2 * less + cnt + 1))
                - SUM(ca) * (SUM(ca) + 1) AS BIGINT) AS u_a_doubled,
           CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cube_sum
    FROM c
    """,
)
def a39_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test (the nonparametric two-sample location test)
    between click and purchase values: midrank-of-ties rank sum and the
    U statistic in DOUBLED units so everything stays exact integer, plus
    the tie-correction cube sum the normal approximation needs — the
    z-score is a determined function of this one row. Plan: hash
    aggregate to value grain, ONE cumulative window over that (distinct
    values, not raw rows — the a23_gini pattern), one final aggregate."""
    x = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.round(F.col("value") * 1000000.0).cast("long").alias("v"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("is_a"),
        )
    )
    g = x.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "v", "ca", "cnt",
        (F.sum("cnt").over(wcum) - F.col("cnt")).alias("less"),
    )
    ranksum2 = F.sum(
        F.col("ca") * (2 * F.col("less") + F.col("cnt") + 1)
    )
    na = F.sum("ca")
    return c.agg(
        na.alias("n_a"),
        F.sum(F.col("cnt") - F.col("ca")).alias("n_b"),
        ranksum2.alias("ranksum_a_doubled"),
        (ranksum2 - na * (na + 1)).alias("u_a_doubled"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_cube_sum"),
    )


@register(
    "ml_roc_points",
    # the full ROC curve as exact integer step points: per distinct
    # score (descending), cumulative true/false positives when
    # thresholding at >= that score — AUC, F1-optimal threshold, and
    # any operating point are determined functions of these rows
    oracle="""
    WITH g AS (
      SELECT CAST(round(value * 1000000.0) AS BIGINT) AS s,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY s
    )
    SELECT s AS threshold_micros,
           CAST(SUM(pos) OVER (ORDER BY s DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS tp,
           CAST(SUM(cnt - pos) OVER (ORDER BY s DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS fp
    FROM g ORDER BY threshold_micros DESC
    """,
)
def ml_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact ROC curve of value as a purchase predictor: one integer
    (tp, fp) step point per distinct score threshold — the evaluator
    output ml_auc_exact summarizes, materialized in full so any
    operating point (Youden J, fixed-FPR recall, F1-optimal cut) reads
    off directly. Plan: hash aggregate to score grain, one cumulative
    window over distinct scores (the a23_gini pattern — never the raw
    rows)."""
    g = (
        load(spark, sf_dir, "events")
        .select(
            F.round(F.col("value") * 1000000.0).cast("long").alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.sum("pos").alias("pos"), F.count(F.lit(1)).alias("cnt")
        )
    )
    wcum = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return g.select(
        F.col("s").alias("threshold_micros"),
        F.sum("pos").over(wcum).alias("tp"),
        F.sum(F.col("cnt") - F.col("pos")).over(wcum).alias("fp"),
    ).orderBy(F.col("threshold_micros").desc())


@register(
    "text_pmi_pairs",
    # collocation mining as exact integer sufficient statistics: for
    # the 100 most frequent adjacent bigrams (total order: count desc,
    # then words), the bigram count and both unigram counts — PMI
    # = log(N * c_xy / (c_x * c_y)) is a determined function kept out
    # of the hash (no libm)
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS ws FROM documents
    ),
    bi AS (
      SELECT ws[i.i] AS w1, ws[i.i + 1] AS w2
      FROM toks, unnest(range(1, len(ws))) AS i(i)
    ),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY w1, w2
      ORDER BY c_xy DESC, w1, w2 LIMIT 100
    ),
    uni AS (
      SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks, unnest(ws) AS u(w) GROUP BY u.w
    )
    SELECT bc.w1, bc.w2, bc.c_xy,
           u1.c AS c_x, u2.c AS c_y
    FROM bc JOIN uni u1 ON u1.w = bc.w1 JOIN uni u2 ON u2.w = bc.w2
    ORDER BY bc.c_xy DESC, bc.w1, bc.w2
    """,
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (the phrase-detection primitive behind
    word2phrase / tokenizer merges): the top-100 adjacent bigrams under
    a total order, each with its bigram count and both unigram counts —
    the exact integer sufficient statistics of PMI, which stays out of
    the hashed output (no cross-engine libm). Plan: bigram explode
    fused into the scan, two hash aggregates, the tiny top-100 joined
    to the unigram table (broadcast)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != "",
        ).alias("ws"),
    )
    n = F.size("ws")
    bi = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ws"), 1, n - 1).alias("w1"),
                F.slice(F.col("ws"), 2, n - 1).alias("w2"),
            )
        ).alias("t")
    ).select(F.col("t.w1").alias("w1"), F.col("t.w2").alias("w2"))
    bc = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .orderBy(F.col("c_xy").desc(), "w1", "w2")
        .limit(100)
    )
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", "c_xy", "c_x", "c_y")
        .orderBy(F.col("c_xy").desc(), "w1", "w2")
    )


@register(
    "dq_rule_violations",
    # declarative data-quality rule audit (the Deequ/contract-check
    # shape): N predicates evaluated in ONE scan via conditional
    # counts — never one job per rule
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
                     OR l_shipdate >= TIMESTAMP '1999-01-01' THEN 1
               ELSE 0 END) AS BIGINT) AS v_shipdate_bounds,
      CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1
               ELSE 0 END) AS BIGINT) AS v_discount_range,
      CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1
               ELSE 0 END) AS BIGINT) AS v_quantity_range,
      CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS v_nonpositive_price,
      CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1
               ELSE 0 END) AS BIGINT) AS v_returnflag_domain,
      CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.08 THEN 1 ELSE 0 END)
           AS BIGINT) AS v_tax_range
    FROM lineitem
    """,
)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality contract audit (the Deequ-check shape):
    six rules — a date-bounds rule, numeric ranges, positivity, and a
    value-domain rule — evaluated as conditional
    counts in ONE scan and one 1-row aggregate, never a job per rule.
    At 100 TB this is the difference between auditing a table once and
    auditing it six times."""
    li = load(spark, sf_dir, "lineitem")

    def v(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        v(
            (F.col("l_shipdate") < F.lit("1992-01-01").cast("timestamp"))
            | (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp")),
            "v_shipdate_bounds",
        ),
        v((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
          "v_discount_range"),
        v((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
          "v_quantity_range"),
        v(F.col("l_extendedprice") <= 0, "v_nonpositive_price"),
        v(~F.col("l_returnflag").isin("A", "N", "R"),
          "v_returnflag_domain"),
        v((F.col("l_tax") < 0) | (F.col("l_tax") > 0.08), "v_tax_range"),
    )


@register(
    "ml_scaler_fit_params",
    # the FIT half of a distributed MinMax/Standard scaler over an
    # array-typed feature column: per dimension, exact integer min /
    # max / sum / count in micro units — transform parameters are a
    # determined function; one posexplode + one hash aggregate
    oracle="""
    WITH el AS (
      SELECT t.i - 1 AS dim,
             CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS q
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(q) AS BIGINT) AS min_micros,
           CAST(MAX(q) AS BIGINT) AS max_micros,
           CAST(SUM(q) AS BIGINT) AS sum_micros
    FROM el GROUP BY dim ORDER BY dim
    """,
)
def ml_scaler_fit_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-scaler FIT over the embedding array column: per
    dimension, exact integer min/max/sum/count in micro units — the
    parameters a MinMaxScaler (and, with the second moment from
    a6_moments' pattern, a StandardScaler) applies at transform time.
    Plan: posexplode fused into the scan, one hash aggregate to
    |dims| = 64 rows — the fit is one pass at any corpus size."""
    el = load(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "v")
    )
    return (
        el.select(
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("v").cast("double") * 1000000.0)
            .cast("long")
            .alias("q"),
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("q").alias("min_micros"),
            F.max("q").alias("max_micros"),
            F.sum("q").alias("sum_micros"),
        )
        .orderBy("dim")
    )


@register(
    "w_longest_streak",
    # gaps-and-islands on SIGN RUNS (not time gaps): island id = rank
    # minus sign-partitioned rank, the classic two-window identity;
    # longest positive streak per user is an exact integer
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CASE WHEN value >= 0.5 THEN 1 ELSE 0 END AS up
      FROM events
    ),
    isl AS (
      SELECT user_id, up,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, up
                                  ORDER BY event_id) AS grp
      FROM v
    ),
    runs AS (
      SELECT user_id, up, grp, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY user_id, up, grp
    )
    SELECT user_id,
           CAST(MAX(CASE WHEN up = 1 THEN run_len ELSE 0 END) AS BIGINT)
             AS longest_up_streak,
           CAST(MAX(CASE WHEN up = 0 THEN run_len ELSE 0 END) AS BIGINT)
             AS longest_down_streak,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def w_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest streak per user (gaps-and-islands on VALUE RUNS, the
    sibling of time-gap sessionization): consecutive events on the same
    side of 0.5 form an island via the rank-difference identity
    row_number() - row_number() within side; per user, the longest
    up-run, longest down-run, and run count. Plan: two window ranks
    over the same user_id shuffle, then two hash aggregates."""
    v = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.when(F.col("value") >= 0.5, 1).otherwise(0).alias("up"),
    )
    w_all = Window.partitionBy("user_id").orderBy("event_id")
    w_side = Window.partitionBy("user_id", "up").orderBy("event_id")
    isl = v.select(
        "user_id", "up",
        (
            F.row_number().over(w_all) - F.row_number().over(w_side)
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "up", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("up") == 1, F.col("run_len")).otherwise(0)
            ).alias("longest_up_streak"),
            F.max(
                F.when(F.col("up") == 0, F.col("run_len")).otherwise(0)
            ).alias("longest_down_streak"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .orderBy("user_id")
    )


@register(
    "fn_regexp_suite",
    # regexp function-surface parity on dialect-portable patterns
    # (character classes + quantifiers only): replace, match count,
    # first-match extract, boolean match — counts and lengths exact
    oracle="""
    WITH r AS (
      SELECT doc_id,
             length(regexp_replace(text, '[aeiou]', '*', 'g'))
               AS len_replaced,
             len(regexp_extract_all(text, '[0-9]+')) AS n_number_runs,
             CASE WHEN regexp_matches(text, '[A-Z][a-z]+') THEN 1
                  ELSE 0 END AS has_capitalized,
             length(regexp_extract(text, '[a-z]+')) AS first_word_len
      FROM documents
    )
    SELECT doc_id,
           CAST(len_replaced AS BIGINT) AS len_replaced,
           CAST(n_number_runs AS BIGINT) AS n_number_runs,
           CAST(has_capitalized AS BIGINT) AS has_capitalized,
           CAST(first_word_len AS BIGINT) AS first_word_len
    FROM r ORDER BY doc_id
    """,
)
def fn_regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp function family (F-ext beyond fn_string_suite's extract):
    global regexp_replace, match counting (regexp_count), boolean match,
    and first-match extraction — all on character-class + quantifier
    patterns that parse identically in Java and RE2 dialects, emitted as
    exact integer lengths/counts. Pure per-row expressions fused into
    the scan."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length(
            F.regexp_replace(F.col("text"), "[aeiou]", "*")
        ).cast("long").alias("len_replaced"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+"))
        .cast("long")
        .alias("n_number_runs"),
        F.when(F.col("text").rlike("[A-Z][a-z]+"), 1)
        .otherwise(0)
        .cast("long")
        .alias("has_capitalized"),
        F.length(F.regexp_extract(F.col("text"), "([a-z]+)", 1))
        .cast("long")
        .alias("first_word_len"),
    ).orderBy("doc_id")


@register(
    "ml_psi_drift",
    # Population Stability Index inputs: bin edges are the BASELINE
    # period's deciles by integer rank (value at rank ceil(k*n/10),
    # no interpolation), both periods counted per bin — PSI
    # = sum((a% - b%) * ln(a%/b%)) is a determined function of these
    # exact integer rows
    oracle="""
    WITH x AS (
      SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
             CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS period,
             event_id
      FROM events
    ),
    base AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM x WHERE period = 0
    ),
    edges AS (
      SELECT k.k AS bin,
             MAX(CASE WHEN rn = (k.k * n + 9) // 10 THEN v END) AS hi
      FROM base, unnest(range(1, 10)) AS k(k)
      GROUP BY k.k
    ),
    binned AS (
      SELECT x.period,
             COALESCE(
               (SELECT MIN(e.bin) FROM edges e WHERE x.v <= e.hi), 10)
               AS bin
      FROM x
    )
    SELECT bin,
           CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_baseline,
           CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index inputs (the model-monitoring drift
    check): decile bin edges fitted on the baseline period by integer
    rank (value at rank ceil(k*n/10) — no float interpolation), then
    both periods histogrammed into those bins as exact integer counts;
    PSI's log-ratio sum is a determined function of the 10 rows and
    stays out of the hash. Plan: one window rank over the baseline to
    get a 9-row edge table, broadcast range-join of both periods onto
    the edges, one hash aggregate."""
    x = load(spark, sf_dir, "events").select(
        F.round(F.col("value") * 1000000.0).cast("long").alias("v"),
        (F.col("event_id") % 2).cast("int").alias("period"),
        "event_id",
    )
    base = x.filter(F.col("period") == 0)
    wr = Window.orderBy("v", "event_id")
    ranked = base.select(
        "v",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    ks = spark.range(1, 10).select(F.col("id").alias("bin"))
    edges = (
        ranked.join(
            F.broadcast(ks),
            F.col("rn") == ((F.col("bin") * F.col("n") + 9) / 10)
            .cast("long"),
        )
        .groupBy("bin")
        .agg(F.max("v").alias("hi"))
    )
    # bin assignment: smallest edge with v <= hi, else overflow bin 10
    asgn = (
        x.join(
            F.broadcast(edges), F.col("v") <= F.col("hi"), "left"
        )
        .groupBy("v", "period", "event_id")
        .agg(F.coalesce(F.min("bin"), F.lit(10)).alias("bin"))
    )
    return (
        asgn.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias(
                "n_baseline"
            ),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias(
                "n_current"
            ),
        )
        .orderBy("bin")
    )


@register(
    "fn_try_suite",
    # error-safe arithmetic/cast parity: division by zero, integer
    # overflow, and malformed casts all degrade to NULL instead of
    # failing the job — counted exactly
    oracle="""
    WITH r AS (
      SELECT o_orderkey,
             o_orderkey / NULLIF(o_orderkey % 7, 0) AS safe_div,
             TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus
                           ELSE CAST(o_orderkey AS VARCHAR) END
                      AS BIGINT) AS mixed_num
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN safe_div IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_div_null,
           CAST(SUM(CASE WHEN mixed_num IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_badcast,
           CAST(SUM(mixed_num) AS BIGINT) AS sum_mixed_num,
           CAST(SUM(CAST(FLOOR(safe_div) AS BIGINT)) AS BIGINT)
             AS sum_div_floor
    FROM r
    """,
)
def fn_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe function family (try_divide / try_to_number semantics):
    division by a sometimes-zero denominator and casts of a
    mixed numeric/non-numeric string column degrade to NULL row-locally
    instead of failing the 100 TB job — the difference between a poisoned batch
    and a quarantined row. Null counts and the surviving aggregates are
    exact; float division results enter the hash only through FLOOR."""
    o = load(spark, sf_dir, "orders")
    denom = F.col("o_orderkey") % 7
    safe_div = F.try_divide(
        F.col("o_orderkey"), F.nullif(denom, F.lit(0))
    )
    mixed = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_orderstatus")
    ).otherwise(F.col("o_orderkey").cast("string"))
    r = o.select(
        "o_orderkey",
        safe_div.alias("safe_div"),
        mixed.try_cast("long").alias("mixed_num"),
    )
    return r.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("safe_div").isNull(), 1).otherwise(0)
        ).alias("n_div_null"),
        F.sum(
            F.when(F.col("mixed_num").isNull(), 1).otherwise(0)
        ).alias("n_badcast"),
        F.sum("mixed_num").alias("sum_mixed_num"),
        F.sum(F.floor("safe_div").cast("long")).alias("sum_div_floor"),
    )


@register(
    "ts_seasonal_indices",
    # additive seasonal decomposition at day-of-week grain: per-dow
    # exact-decimal mean and the deviation from the global mean — the
    # seasonal index table a seasonal-naive forecaster consumes
    oracle="""
    WITH v AS (
      SELECT dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow, value
      FROM events
    ),
    g AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(value) AS gmean
      FROM v
    )
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(value) AS dow_mean,
           CAST(round((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(value) - g.gmean) * 1e9) AS BIGINT)
             AS seasonal_index_nano
    FROM v, g
    GROUP BY dow, g.gmean ORDER BY dow
    """,
)
def ts_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal index table at day-of-week grain (the
    decomposition the seasonal-naive backtest consumes): per-dow mean
    and its deviation from the global mean, exact-decimal sums with the
    deviation shipped in nano units (double-to-integer rounding is
    engine-portable). Plan: one hash aggregate to 7 rows, the global
    mean crossed in as a broadcast 1-row aggregate."""
    v = load(spark, sf_dir, "events").select(
        F.dayofweek(F.col("ts")).alias("dow"), "value"
    )
    g = v.agg(davg(F.col("value"), "gmean"))
    dow = v.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"),
        davg(F.col("value"), "dow_mean"),
    )
    return (
        dow.crossJoin(F.broadcast(g))
        .select(
            "dow", "n", "dow_mean",
            F.round((F.col("dow_mean") - F.col("gmean")) * 1e9, 0)
            .cast("long")
            .alias("seasonal_index_nano"),
        )
        .orderBy("dow")
    )


@register(
    "ml_chi2_select_stats",
    # chi-square feature selection over the embedding dimensions:
    # per dim, the 2x2 contingency counts of (above the dim's
    # rank-median) x (label = 1) — the chi2 score is a determined
    # function; the median is the value at integer rank ceil(n/2)
    # under a (value, vec_id) total order, no interpolation
    oracle="""
    WITH el AS (
      SELECT e.vec_id, t.i - 1 AS dim,
             CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS q,
             CASE WHEN e.label = 1 THEN 1 ELSE 0 END AS y
      FROM embeddings e,
           unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    r AS (
      SELECT dim, q, y,
             ROW_NUMBER() OVER (PARTITION BY dim ORDER BY q, vec_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY dim) AS n
      FROM el
    ),
    med AS (
      SELECT dim,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN q END) AS med_q
      FROM r GROUP BY dim
    )
    SELECT el.dim,
           CAST(SUM(CASE WHEN el.q > m.med_q AND el.y = 1 THEN 1
                    ELSE 0 END) AS BIGINT) AS n_hi_pos,
           CAST(SUM(CASE WHEN el.q > m.med_q AND el.y = 0 THEN 1
                    ELSE 0 END) AS BIGINT) AS n_hi_neg,
           CAST(SUM(CASE WHEN el.q <= m.med_q AND el.y = 1 THEN 1
                    ELSE 0 END) AS BIGINT) AS n_lo_pos,
           CAST(SUM(CASE WHEN el.q <= m.med_q AND el.y = 0 THEN 1
                    ELSE 0 END) AS BIGINT) AS n_lo_neg
    FROM el JOIN med m ON m.dim = el.dim
    GROUP BY el.dim ORDER BY el.dim
    """,
)
def ml_chi2_select_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection over embedding dimensions: each
    dim's 2x2 contingency table of (above the dim's rank-median) vs the
    label — the exact integer inputs of the chi2 score ranking that
    picks features at scale. Median by integer rank (value at
    ceil(n/2), no interpolation). Plan: posexplode, one window shuffle
    on dim for ranks, the 64-row median table broadcast back, one hash
    aggregate."""
    el = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.when(F.col("label") == 1, 1).otherwise(0).alias("y"),
            F.posexplode("embedding").alias("dim", "v"),
        )
        .select(
            "vec_id", "y",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("v").cast("double") * 1000000.0)
            .cast("long")
            .alias("q"),
        )
    )
    wr = Window.partitionBy("dim").orderBy("q", "vec_id")
    wn = Window.partitionBy("dim")
    r = el.select(
        "dim", "q",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r.groupBy("dim").agg(
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") + 1) / 2).cast("long"),
                F.col("q"),
            )
        ).alias("med_q")
    )
    j = el.join(F.broadcast(med), "dim")
    hi = F.col("q") > F.col("med_q")
    pos = F.col("y") == 1
    return (
        j.groupBy("dim")
        .agg(
            F.sum(F.when(hi & pos, 1).otherwise(0)).alias("n_hi_pos"),
            F.sum(F.when(hi & ~pos, 1).otherwise(0)).alias("n_hi_neg"),
            F.sum(F.when(~hi & pos, 1).otherwise(0)).alias("n_lo_pos"),
            F.sum(F.when(~hi & ~pos, 1).otherwise(0)).alias("n_lo_neg"),
        )
        .orderBy("dim")
    )


@register(
    "ind_local_extrema",
    # swing-point detection: strict local maxima/minima against both
    # neighbors (series endpoints excluded by the non-null lag/lead),
    # counted per user as exact integers
    oracle="""
    WITH v AS (
      SELECT user_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS q,
             LAG(CAST(round(value * 1000000.0) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
             LEAD(CAST(round(value * 1000000.0) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN q > prev AND q > nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_peaks,
           CAST(SUM(CASE WHEN q < prev AND q < nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_troughs,
           CAST(SUM(CASE WHEN q > prev AND q > nxt THEN q ELSE 0 END)
                AS BIGINT) AS peak_micros_sum
    FROM v GROUP BY user_id ORDER BY user_id
    """,
)
def ind_local_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swing-point (local extrema) detection per user — the pivot-point
    primitive behind zigzag/support-resistance indicators: strict peaks
    and troughs against both neighbors in event order, counted with the
    peak-level sum as exact integer micros. Plan: one window shuffle
    shared by LAG and LEAD, one hash aggregate."""
    q = F.round(F.col("value") * 1000000.0).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id")
    v = load(spark, sf_dir, "events").select(
        "user_id",
        q.alias("q"),
        F.lag(q).over(w).alias("prev"),
        F.lead(q).over(w).alias("nxt"),
    )
    peak = (F.col("q") > F.col("prev")) & (F.col("q") > F.col("nxt"))
    trough = (F.col("q") < F.col("prev")) & (F.col("q") < F.col("nxt"))
    return (
        v.groupBy("user_id")
        .agg(
            F.sum(F.when(peak, 1).otherwise(0)).alias("n_peaks"),
            F.sum(F.when(trough, 1).otherwise(0)).alias("n_troughs"),
            F.sum(F.when(peak, F.col("q")).otherwise(0)).alias(
                "peak_micros_sum"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "a40_mode_stats",
    # deterministic mode: the value with the highest count, ties broken
    # by smallest value — engines' built-in mode() differs on ties, so
    # the entry pins the (count DESC, value ASC) rule explicitly
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice / 1000.0) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY pri, bucket
    ),
    r AS (
      SELECT pri, bucket, cnt,
             ROW_NUMBER() OVER (PARTITION BY pri
                                ORDER BY cnt DESC, bucket) AS rn
      FROM c
    )
    SELECT pri, bucket AS modal_bucket, cnt AS modal_count
    FROM r WHERE rn = 1 ORDER BY pri
    """,
)
def a40_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group (built-in mode() is tie-arbitrary in
    both engines, so the (count DESC, value ASC) rule is pinned
    explicitly): the modal thousand-dollar bucket of order totals per
    priority. Plan: hash aggregate to (group, value) grain, a window
    top-1 over that small table — the WindowGroupLimit shape."""
    c = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.round(F.col("o_totalprice") / 1000.0)
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("pri", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("pri").orderBy(
        F.col("cnt").desc(), F.col("bucket")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "pri",
            F.col("bucket").alias("modal_bucket"),
            F.col("cnt").alias("modal_count"),
        )
        .orderBy("pri")
    )


@register(
    "ind_wma_closed_form",
    # linearly-weighted moving average WITHOUT per-frame recomputation:
    # with absolute row number j, the weighted frame sum is
    # n*Sy_cum_diff trick — concretely WMA numerator over a 5-row frame
    # = Sjy - (rn - 5)*Sy with weights 1..5, the same two-rolling-sums
    # identity as w_rolling_ols_slope; denominator 15 constant
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events
    ),
    s AS (
      SELECT user_id, event_id, rn,
             SUM(y) OVER (PARTITION BY user_id ORDER BY rn
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS sy,
             SUM(rn * y) OVER (PARTITION BY user_id ORDER BY rn
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS sjy
      FROM v
    )
    SELECT user_id, event_id,
           CAST(sjy - (rn - 5) * sy AS BIGINT) AS wma_num_micros
    FROM s WHERE rn >= 5 ORDER BY user_id, event_id
    """,
)
def ind_wma_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average (the WMA indicator, weights
    1..5 over a 5-observation frame) from TWO plain rolling sums via
    the same identity as the rolling OLS: weighted numerator
    = Sum(j*y) - (frame_start)*Sum(y) for absolute row number j —
    never a per-frame weighted rescan. Constant denominator 15, so the
    hashed output is the exact integer numerator. One window shuffle."""
    v = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.round(F.col("value") * 1000000.0).cast("long").alias("y"),
    )
    wrank = Window.partitionBy("user_id").orderBy("event_id")
    v = v.withColumn("rn", F.row_number().over(wrank))
    wroll = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-4, Window.currentRow)
    )
    s = v.select(
        "user_id", "event_id", "rn",
        F.sum("y").over(wroll).alias("sy"),
        F.sum(F.col("rn") * F.col("y")).over(wroll).alias("sjy"),
    )
    return (
        s.filter(F.col("rn") >= 5)
        .select(
            "user_id", "event_id",
            (F.col("sjy") - (F.col("rn") - 5) * F.col("sy")).alias(
                "wma_num_micros"
            ),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "ind_hist_var95",
    # historical 95% Value-at-Risk by integer rank over per-user value
    # CHANGES: the loss at rank ceil(n/20) under a (diff, key) total
    # order — the rank-statistic pattern (no interpolation), plus the
    # expected-shortfall numerator as an exact integer sum
    oracle="""
    WITH d AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000.0) AS BIGINT)
               - LAG(CAST(round(value * 1000000.0) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY event_id) AS chg
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, chg,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY chg, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM d WHERE chg IS NOT NULL
    )
    SELECT user_id,
           CAST(MIN(n) AS BIGINT) AS n_changes,
           CAST(MAX(CASE WHEN rn = (n + 19) // 20 THEN chg END)
                AS BIGINT) AS var95_micros,
           CAST(SUM(CASE WHEN rn <= (n + 19) // 20 THEN chg ELSE 0 END)
                AS BIGINT) AS es_num_micros,
           CAST((MIN(n) + 19) // 20 AS BIGINT) AS es_den
    FROM r GROUP BY user_id ORDER BY user_id
    """,
)
def ind_hist_var95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 95% Value-at-Risk and expected-shortfall inputs per
    user: the 5th-percentile value change by integer rank (the loss
    threshold), plus the exact integer sum and count of the tail beyond
    it (ES = es_num / es_den is a determined function). Rank
    statistics, never interpolated percentiles. Plan: one window
    shuffle on user_id shared by the LAG, the ranking, and the
    aggregate."""
    q = F.round(F.col("value") * 1000000.0).cast("long")
    wlag = Window.partitionBy("user_id").orderBy("event_id")
    d = (
        load(spark, sf_dir, "events")
        .select(
            "user_id", "event_id",
            (q - F.lag(q).over(wlag)).alias("chg"),
        )
        .filter(F.col("chg").isNotNull())
    )
    wr = Window.partitionBy("user_id").orderBy("chg", "event_id")
    wn = Window.partitionBy("user_id")
    r = d.select(
        "user_id", "chg",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    cut = ((F.col("n") + 19) / 20).cast("long")
    return (
        r.groupBy("user_id")
        .agg(
            F.min("n").alias("n_changes"),
            F.max(
                F.when(F.col("rn") == cut, F.col("chg"))
            ).alias("var95_micros"),
            F.sum(
                F.when(F.col("rn") <= cut, F.col("chg")).otherwise(0)
            ).alias("es_num_micros"),
            ((F.min("n") + 19) / 20).cast("long").alias("es_den"),
        )
        .orderBy("user_id")
    )


@register(
    "agg_exact_median_scalable",
    # the SCALABLE exact median: no global sort, no full-table
    # single-partition window. Pass 1 histograms values into 1024
    # integer buckets; the bucket containing rank ceil(n/2) is found on
    # the 1024-row table; pass 2 ranks ONLY inside that bucket (~n/1024
    # rows). The oracle computes the same order statistic directly —
    # value-identical by construction
    oracle="""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
             COUNT(*) OVER () AS n
      FROM v
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                AS BIGINT) AS median_cents
    FROM r
    """,
)
def agg_exact_median_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median without a global sort — RECURSIVE
    histogram narrowing that stays distributed at 100 TB where a rank
    window would serialize. Each round: (1) one aggregate for
    (min, max) of the surviving set; (2) integer-bucket histogram
    (1024 buckets, pure long arithmetic); (3) locate the bucket
    holding the residual rank on the 1024-row table; (4) keep only
    that bucket's rows and subtract the rows before it from the rank.
    TWO rounds shrink any corpus by 1024^2 (~10^6): 100 TB of longs
    -> ~100 MB residue, which the final unpartitioned rank window
    handles trivially — the plan never sorts or ranks more than the
    doubly-narrowed residue (pinned in test_plans). Emits the
    identical order statistic a full-sort median would. All round
    boundaries flow plan-side via 1-row broadcast folds — zero driver
    collects; at 100 TB you would localCheckpoint the survivor set
    between rounds to cut lineage re-scans."""
    v = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias(
            "cents"
        )
    )
    n_total = v.agg(F.count(F.lit(1)).alias("n"))
    # two 1024-bucket narrowing rounds — row scale for any corpus
    cur, kdf = agg_ops.exact_rank_narrow(v, "cents", rounds=2)
    wrank = Window.orderBy("cents")
    ranked = (
        cur.crossJoin(F.broadcast(kdf))
        .select("cents", "k", F.row_number().over(wrank).alias("rn"))
    )
    return (
        ranked.filter(F.col("rn") == F.col("k"))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("n").alias("n_rows"),
            F.col("cents").alias("median_cents"),
        )
    )


@register(
    "j12_star_denorm",
    # snowflake denormalization: the fact table joined through the
    # customer -> nation -> region dimension chain, every hop a
    # broadcast (dims don't grow at data scale) — the fact side never
    # shuffles until the final rollup
    oracle="""
    SELECT r.r_name AS region, o.o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY region, pri ORDER BY region, pri
    """,
)
def j12_star_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake-schema denormalization (the warehouse staple behind
    every 'sales by region' dashboard): the orders fact joined through
    customer -> nation -> region, each dimension hop a BROADCAST hash
    join — dimension tables don't grow with data volume, so at 100 TB
    the fact side streams through three map-side joins and shuffles
    exactly once, for the final rollup."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
            F.count_distinct("o_custkey").alias("n_customers"),
        )
        .orderBy("region", "pri")
    )


@register(
    "fn_mod_semantics",
    # the modulo-sign parity trap pinned: % takes the DIVIDEND's sign in
    # both engines, pmod is always non-negative — counts and sums over
    # negative dividends make any divergence loud
    oracle="""
    WITH v AS (
      SELECT o_orderkey,
             (CAST(o_orderkey AS BIGINT) - 7500) AS x
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(x % 7) AS BIGINT) AS sum_mod,
           CAST(SUM(CASE WHEN x % 7 < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative_mod,
           CAST(SUM(((x % 7) + 7) % 7) AS BIGINT) AS sum_pmod,
           CAST(SUM(CASE WHEN ((x % 7) + 7) % 7 < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_negative_pmod
    FROM v
    """,
)
def fn_mod_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modulo sign semantics pinned (a classic cross-engine parity
    trap): `%` follows the dividend's sign — negative results exist —
    while `pmod` is always non-negative; bucketing by `%` of a signed
    key silently splits one logical bucket into two. Counts and sums
    over a deliberately sign-mixed key make any divergence loud. Single
    scan, one 1-row aggregate."""
    v = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") - 7500).alias("x")
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("x") % 7).alias("sum_mod"),
        F.sum(F.when(F.col("x") % 7 < 0, 1).otherwise(0)).alias(
            "n_negative_mod"
        ),
        F.sum(F.pmod(F.col("x"), F.lit(7))).alias("sum_pmod"),
        F.sum(
            F.when(F.pmod(F.col("x"), F.lit(7)) < 0, 1).otherwise(0)
        ).alias("n_negative_pmod"),
    )


@register(
    "s_csv_gzip_roundtrip",
    # compressed text sink/source: values must survive a gzip CSV write
    # and schema-pinned read; the oracle aggregates the source directly
    # (content neutrality). NOTE: gzip text files are NOT splittable —
    # the entry exists to pin the roundtrip, the docstring pins the
    # scale caveat
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders GROUP BY status ORDER BY status
    """,
)
def s_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed CSV sink/source roundtrip: write with
    codec=gzip, read back schema-pinned, aggregate — values survive the
    compression hop byte-exactly. 100 TB caveat pinned here: gzip text
    is NOT splittable (one stream per file = one task per file), so at
    scale the engine writes MANY moderate files (the write side below
    inherits the input partitioning) or uses a splittable codec;
    columnar formats remain the real scale path."""
    import tempfile

    from pyspark.sql import types as T

    src = load(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    out_dir = tempfile.mkdtemp(prefix="engine_csv_gz_")
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(out_dir)
    )
    schema = T.StructType([
        T.StructField("status", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ])
    back = (
        spark.read.schema(schema).option("header", True).csv(out_dir)
    )
    return (
        back.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("price"), "sum_price"),
        )
        .orderBy("status")
    )


@register(
    "fn_boolean_agg_suite",
    # conditional/boolean aggregate surface: count_if, bool_and,
    # bool_or, and FILTERed aggregates — all exact integers per group
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000)
                AS BIGINT) AS n_big,
           CAST(CASE WHEN BOOL_AND(o_totalprice > 900) THEN 1 ELSE 0 END
                AS BIGINT) AS all_over_900,
           CAST(CASE WHEN BOOL_OR(o_orderstatus = 'F') THEN 1 ELSE 0 END
                AS BIGINT) AS any_finished,
           CAST(SUM(CAST(o_orderkey AS BIGINT))
                  FILTER (WHERE o_orderstatus = 'O') AS BIGINT)
             AS keysum_open
    FROM orders GROUP BY pri ORDER BY pri
    """,
)
def fn_boolean_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate family (F-ext): count_if, bool_and
    / every, bool_or / any, and FILTER-clause aggregates — the
    predicate-aggregation surface dashboards and DQ checks lean on,
    exact per priority group, one hash aggregate."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
            F.when(F.bool_and(F.col("o_totalprice") > 900), 1)
            .otherwise(0)
            .cast("long")
            .alias("all_over_900"),
            F.when(F.bool_or(F.col("o_orderstatus") == "F"), 1)
            .otherwise(0)
            .cast("long")
            .alias("any_finished"),
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "O", F.col("o_orderkey")
                )
            ).alias("keysum_open"),
        )
        .orderBy("pri")
    )


@register(
    "fn_frame_semantics",
    # the ROWS vs RANGE window-frame trap pinned: with duplicate order
    # keys, RANGE (the SQL default) includes ALL peers of the current
    # row while ROWS counts physical rows — the two cumulative sums
    # diverge exactly on ties. ROWS gets a unique (key, okey) order so
    # it is deterministic; RANGE is deterministic by definition
    oracle="""
    WITH v AS (
      SELECT o_orderkey AS okey,
             CAST(o_orderkey % 100 AS BIGINT) AS k,
             CAST(o_orderkey % 7 AS BIGINT) AS x
      FROM orders
    )
    SELECT okey,
           CAST(SUM(x) OVER (ORDER BY k
                             RANGE BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS range_cum,
           CAST(SUM(x) OVER (ORDER BY k, okey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS rows_cum
    FROM v ORDER BY okey
    """,
)
def fn_frame_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS vs RANGE window-frame semantics pinned (the cumulative-sum
    trap: SQL's default RANGE frame includes every PEER of the current
    order key, so ties make 'running total' mean two different things):
    both cumulative sums over a deliberately tie-heavy key, RANGE
    peers-inclusive vs ROWS with a unique tiebreak. Exact integers;
    any engine disagreement on peer handling is loud. One global-ish
    window over a 100-key order — at scale the same pin applies
    per-partition."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_orderkey") % 100).alias("k"),
        (F.col("o_orderkey") % 7).alias("x"),
    )
    wrange = Window.orderBy("k").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wrows = Window.orderBy("k", "okey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return v.select(
        "okey",
        F.sum("x").over(wrange).alias("range_cum"),
        F.sum("x").over(wrows).alias("rows_cum"),
    ).orderBy("okey")


@register(
    "s_ignore_corrupt_files",
    # resilience to corrupt inputs: a directory holding one good
    # parquet file and one garbage file reads cleanly under
    # ignoreCorruptFiles=true, surviving rows only — the oracle
    # aggregates the same planted subset straight from the source
    oracle="""
    SELECT o_orderpriority AS pri,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 4 = 0
    GROUP BY pri ORDER BY pri
    """,
)
def s_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience (the 100 TB reality: one bad object in a
    million-file prefix must not kill the job): a read directory holds
    one good parquet file (the planted orderkey%4=0 subset) and one
    file of garbage bytes; with spark.sql.files.ignoreCorruptFiles the
    scan skips the bad member and returns exactly the good rows, which
    the oracle replays from the source table. The flag is the PER-READ
    data source option (not a session conf mutation — the plan executes
    lazily, after this function returns)."""
    import os as _os
    import tempfile

    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_orderpriority")
    )
    out_dir = tempfile.mkdtemp(prefix="engine_corrupt_")
    src.coalesce(1).write.mode("overwrite").parquet(out_dir)
    with open(_os.path.join(out_dir, "part-garbage.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer or page ")
    back = (
        spark.read.schema(src.schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(out_dir)
    )
    return (
        back.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("pri")
    )


@register(
    "a41_largest_remainder_alloc",
    # exact integer apportionment (largest-remainder / Hamilton
    # method): floor shares first, then one extra unit to the rows with
    # the largest remainders (ties by key) until the budget is spent —
    # allocations per group MUST sum exactly to the budget, emitted as
    # a checked column
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri, o_orderkey AS okey,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS w
      FROM orders
    ),
    t AS (
      SELECT pri, okey, w,
             SUM(w) OVER (PARTITION BY pri) AS tw,
             (w * 1000000) // SUM(w) OVER (PARTITION BY pri) AS base,
             (w * 1000000) % SUM(w) OVER (PARTITION BY pri) AS rem
      FROM v
    ),
    r AS (
      SELECT pri, okey, base, rem,
             ROW_NUMBER() OVER (PARTITION BY pri
                                ORDER BY rem DESC, okey) AS rr,
             1000000 - SUM(base) OVER (PARTITION BY pri) AS leftover
      FROM t
    ),
    alloc AS (
      SELECT pri, okey,
             base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS a
      FROM r
    )
    SELECT pri,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(a) AS BIGINT) AS alloc_total,
           CAST(MAX(a) AS BIGINT) AS max_alloc,
           CAST(SUM(a * (okey % 97)) AS BIGINT) AS alloc_checksum
    FROM alloc GROUP BY pri ORDER BY pri
    """,
)
def a41_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer apportionment (the Hamilton largest-remainder
    method — budget splitting, seat allocation, cost attribution):
    1,000,000 units per priority group allocated proportionally to
    order value with floor shares plus one extra unit to the largest
    remainders (ties by key) — alloc_total lands EXACTLY on the budget,
    hashed so a rounding drift anywhere breaks the entry. Pure integer
    arithmetic: two windows on the group key, one rank on remainders.
    Plan: one group-key shuffle shared by the sums and the rank."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("w"),
    )
    wp = Window.partitionBy("pri")
    # exact integer division (DIV), never double-divide-then-truncate:
    # a quotient landing within one ulp of an integer would floor wrong
    t = v.withColumn("tw", F.sum("w").over(wp)).select(
        "pri", "okey",
        F.expr("(w * 1000000L) DIV tw").alias("base"),
        F.expr("(w * 1000000L) % tw").alias("rem"),
    )
    wr = Window.partitionBy("pri").orderBy(
        F.col("rem").desc(), F.col("okey")
    )
    r = t.select(
        "pri", "okey", "base",
        F.row_number().over(wr).alias("rr"),
        (F.lit(1000000) - F.sum("base").over(wp)).alias("leftover"),
    )
    alloc = r.select(
        "pri", "okey",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("a"),
    )
    return (
        alloc.groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("a").alias("alloc_total"),
            F.max("a").alias("max_alloc"),
            F.sum(F.col("a") * (F.col("okey") % 97)).alias(
                "alloc_checksum"
            ),
        )
        .orderBy("pri")
    )


@register(
    "dq_id_gap_audit",
    # sequence-gap audit over an id column: missing-count from the
    # span-vs-count identity, gap RUNS from the islands trick (id minus
    # dense rank is constant within a contiguous run), both exact
    oracle="""
    WITH d AS (SELECT DISTINCT event_id AS id FROM events
               WHERE event_id % 37 <> 0),
    isl AS (
      SELECT id, id - ROW_NUMBER() OVER (ORDER BY id) AS grp
      FROM d
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(MAX(id) - MIN(id) + 1 - COUNT(*) AS BIGINT)
             AS n_missing,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_contiguous_runs
    FROM isl
    """,
)
def dq_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit (the completeness check for any
    monotonically-assigned id: kafka offsets, invoice numbers, batch
    ids): over a deliberately holed sequence (every 37th id dropped),
    the missing count via the span-minus-count identity and the number
    of contiguous runs via the id-minus-rank islands trick — one
    ordered window over DISTINCT ids, exact integers."""
    d = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 37 != 0)
        .select(F.col("event_id").alias("id"))
        .distinct()
    )
    w = Window.orderBy("id")
    isl = d.select(
        "id",
        (F.col("id") - F.row_number().over(w)).cast("long").alias("grp"),
    )
    return isl.agg(
        F.count(F.lit(1)).alias("n_present"),
        (F.max("id") - F.min("id") + 1 - F.count(F.lit(1)))
        .cast("long")
        .alias("n_missing"),
        F.count_distinct("grp").alias("n_contiguous_runs"),
    )


@register(
    "s_dynamic_partition_overwrite",
    # dynamic partition overwrite: rewriting ONE partition must replace
    # exactly that partition and leave every other partition byte-
    # untouched — the oracle replays the expected post-overwrite state
    # from the source (click rows doubled-value, all else original)
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(
             CASE WHEN event_type = 'click' THEN value * 2.0
                  ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def s_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (the lakehouse backfill primitive:
    re-run one day/source without touching the rest): events written
    partitioned by event_type, then ONLY the 'click' partition is
    overwritten with recomputed rows (value doubled) under
    partitionOverwriteMode=dynamic — untouched partitions must survive
    byte-exactly, the rewritten one must show the new values. The mode
    is set on the writer via the per-write option, not session conf."""
    import tempfile

    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    out_dir = tempfile.mkdtemp(prefix="engine_dynpart_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out_dir)
    clicks2 = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2.0
    )
    (
        clicks2.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(out_dir)
    )
    back = read_parquet(spark, out_dir)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value"), "sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "text_bm25_stats",
    # BM25 as exact integer sufficient statistics: per (term, doc) of
    # the 50 highest-df terms, term frequency, the term's document
    # frequency, the doc length, plus corpus totals — the BM25 score
    # (k1, b constants) is a determined function kept out of the hash
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS ws FROM documents
    ),
    tf AS (
      SELECT doc_id, u.w AS term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(MIN(len(ws)) AS BIGINT) AS doclen
      FROM toks, unnest(ws) AS u(w)
      GROUP BY doc_id, u.w
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      FROM tf GROUP BY term
      ORDER BY df DESC, term LIMIT 50
    ),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(ws)) AS BIGINT) AS total_len
      FROM toks
    )
    SELECT tf.term, tf.doc_id, tf.tf, df.df, tf.doclen,
           c.n_docs, c.total_len
    FROM tf JOIN df USING (term), corpus c
    ORDER BY tf.term, tf.doc_id
    """,
)
def text_bm25_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring as exact integer sufficient statistics
    (the lexical-search baseline next to the embedding ANN family): per
    (term, doc) for the 50 highest-df terms under a total order — term
    frequency, document frequency, doc length, corpus size and total
    length; BM25(k1, b) is a determined float function of each row,
    kept out of the hash. Plan: tokenize-explode, (doc, term) hash
    aggregate, the tiny df top-50 broadcast back, corpus totals crossed
    as a broadcast 1-row aggregate."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != "",
        ).alias("ws"),
    )
    tf = (
        toks.select(
            "doc_id", F.size("ws").alias("doclen"),
            F.explode("ws").alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.min("doclen").alias("doclen"),
        )
    )
    df_top = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ws")).alias("total_len"),
    )
    return (
        tf.join(F.broadcast(df_top), "term")
        .crossJoin(F.broadcast(corpus))
        .select(
            "term", "doc_id", "tf", "df", "doclen",
            "n_docs", "total_len",
        )
        .orderBy("term", "doc_id")
    )


@register(
    "a42_anova_twoway_stats",
    # two-way ANOVA sufficient statistics: per (factor A = priority,
    # factor B = status) cell, n / exact-decimal sum / sum of squares
    # in integer cents — every F-statistic (main effects, interaction)
    # is a determined function of these cells plus the margins the
    # reader derives by summing them
    oracle="""
    SELECT o_orderpriority AS fa, o_orderstatus AS fb,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)
                    * CAST(round(o_totalprice * 100.0) AS BIGINT))
                AS BIGINT) AS sumsq_cents
    FROM orders GROUP BY fa, fb ORDER BY fa, fb
    """,
)
def a42_anova_twoway_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA inputs (the factorial-experiment workhorse beyond
    the one-way chi2/t/U/KS family already here): per (priority,
    status) cell — count, exact integer-cents sum, and sum of squares;
    main-effect and interaction F statistics are determined functions
    of these cells and their margins. One hash aggregate, map-side
    partials, 15 output rows at any scale."""
    cents = F.round(F.col("o_totalprice") * 100.0).cast("long")
    return (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("fa"),
            F.col("o_orderstatus").alias("fb"),
            cents.alias("c"),
        )
        .groupBy("fa", "fb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sum_cents"),
            F.sum(F.col("c") * F.col("c")).alias("sumsq_cents"),
        )
        .orderBy("fa", "fb")
    )


@register(
    "fn_date_interval_suite",
    # calendar-arithmetic parity: month addition CLAMPS to month end
    # (Jan 31 + 1 month = Feb 28/29) in both engines, last_day, quarter
    # truncation, and day diffs — dates and exact integers only
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS plus_month,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('quarter', CAST(o_orderdate AS DATE))
                AS DATE) AS quarter_start,
           CAST(datediff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT)
             AS days_since_95
    FROM orders GROUP BY d ORDER BY d
    """,
)
def fn_date_interval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic parity (F-ext beyond
    fn_datetime_suite): add_months with its month-end CLAMP (Jan 31 +
    1 month = Feb 28 — silently different from +30 days), last_day,
    quarter truncation, and signed day differences — per distinct
    order date, all DATE or exact-integer outputs. Pure per-row
    expressions plus one hash aggregate on the date grain."""
    d = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d")
    )
    return (
        d.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "d", "n",
            F.add_months(F.col("d"), 1).alias("plus_month"),
            F.last_day(F.col("d")).alias("month_end"),
            F.date_trunc("quarter", F.col("d"))
            .cast("date")
            .alias("quarter_start"),
            F.datediff(F.col("d"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("days_since_95"),
        )
        .orderBy("d")
    )


@register(
    "ml_ndcg_stats",
    # NDCG inputs as exact integers: the top-20 ranking per group under
    # a total (price DESC, key) order paired with the IDEAL ordering of
    # the same 20 relevance grades — DCG's log2 position discount is a
    # determined function of (pos, rel, ideal_rel) and stays out of
    # the hash
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS grp,
             CAST(o_orderkey % 4 AS BIGINT) AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS pos
      FROM orders
    ),
    top AS (SELECT * FROM ranked WHERE pos <= 20),
    ideal AS (
      SELECT grp, rel AS ideal_rel,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY rel DESC, pos) AS pos
      FROM top
    )
    SELECT t.grp, t.pos,
           CAST(t.rel AS BIGINT) AS rel,
           CAST(i.ideal_rel AS BIGINT) AS ideal_rel
    FROM top t JOIN ideal i ON i.grp = t.grp AND i.pos = t.pos
    ORDER BY t.grp, t.pos
    """,
)
def ml_ndcg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 inputs (the ranking-quality metric for search and
    recommenders): per group, the top-20 ranking under a total
    (price DESC, key) order with deterministic relevance grades,
    JOINED position-by-position to the ideal (relevance-sorted)
    permutation of the same grades — NDCG's log2 discount sum is a
    determined function of the 100 exact-integer rows. Plan: one
    window top-k per group (WindowGroupLimit), a second rank over the
    100-row survivor set only."""
    w = Window.partitionBy("grp").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("grp"),
            (F.col("o_orderkey") % 4).cast("long").alias("rel"),
            "o_totalprice", "o_orderkey",
        )
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 20)
        .select("grp", "rel", "pos")
    )
    wi = Window.partitionBy("grp").orderBy(
        F.col("rel").desc(), F.col("pos")
    )
    ideal = ranked.select(
        "grp",
        F.col("rel").alias("ideal_rel"),
        F.row_number().over(wi).alias("pos"),
    )
    return (
        ranked.join(ideal, ["grp", "pos"])
        .select("grp", "pos", "rel", "ideal_rel")
        .orderBy("grp", "pos")
    )


@register(
    "fn_hash_digest_suite",
    # cryptographic digest parity: md5 / sha256 hex and base64
    # round-trips over utf8 strings — the content-addressing functions
    # dedup keys and cache keys are built from, compared as exact
    # strings per row
    oracle="""
    SELECT o_orderkey,
           md5(o_orderpriority) AS d_md5,
           sha256(o_orderpriority) AS d_sha256,
           to_base64(CAST(o_orderpriority AS BLOB)) AS b64,
           CAST(length(md5(o_orderpriority || CAST(o_orderkey AS VARCHAR)))
                AS BIGINT) AS keyed_len
    FROM orders ORDER BY o_orderkey
    """,
)
def fn_hash_digest_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest function family (the content-addressing surface dedup
    keys, cache keys, and shard routers are built from): md5 / sha256
    lowercase hex and base64 encoding, byte-compared per row
    across engines, plus a salted-digest length probe. Pure per-row
    JVM expressions."""
    o = load(spark, sf_dir, "orders")
    p = F.col("o_orderpriority")
    return o.select(
        "o_orderkey",
        F.md5(p.cast("binary")).alias("d_md5"),
        F.sha2(p.cast("binary"), 256).alias("d_sha256"),
        F.base64(p.cast("binary")).alias("b64"),
        F.length(
            F.md5(
                F.concat(p, F.col("o_orderkey").cast("string")).cast(
                    "binary"
                )
            )
        ).cast("long").alias("keyed_len"),
    ).orderBy("o_orderkey")


@register(
    "s_schema_projection_null",
    # schema-on-read contract: asking a parquet scan for a column the
    # files don't have yields NULLs (not an error) while present
    # columns read normally — the forward-compatibility behavior
    # consumers rely on during rolling schema upgrades
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(NULL) AS BIGINT) AS n_future_col,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def s_schema_projection_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read forward compatibility: the events parquet is read
    with a schema declaring a column the files don't contain
    (`future_col string`) — the scan returns NULLs for it and real data
    for everything else, exactly the contract that lets readers deploy
    a new schema before writers backfill it. The oracle replays the
    all-NULL column as COUNT(NULL)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("future_col", T.StringType()),
    ])
    back = spark.read.schema(schema).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("future_col").alias("n_future_col"),
            F.sum("event_id").alias("id_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "fn_lastvalue_frame_trap",
    # the LAST_VALUE default-frame trap pinned: with ORDER BY, the
    # default frame ends AT CURRENT ROW, so last_value returns the
    # current row's value — the explicit UNBOUNDED FOLLOWING frame
    # returns the partition's true last. Both emitted per row, exact
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS q
      FROM events
    )
    SELECT user_id, event_id,
           LAST_VALUE(q) OVER (PARTITION BY user_id ORDER BY event_id)
             AS last_default_frame,
           LAST_VALUE(q) OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
             AS last_full_frame,
           FIRST_VALUE(q) OVER (PARTITION BY user_id ORDER BY event_id)
             AS first_val
    FROM v ORDER BY user_id, event_id
    """,
)
def fn_lastvalue_frame_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST_VALUE default-frame trap pinned (the single most-asked
    window-function bug: with ORDER BY, the default frame is RANGE
    UNBOUNDED PRECEDING..CURRENT ROW, so last_value(x) is just x): the
    default-frame and explicit-full-frame results side by side per row,
    plus first_value (which the default frame does NOT break). Exact
    integer micros; one window shuffle on user_id serves all three."""
    v = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.round(F.col("value") * 1000000.0).cast("long").alias("q"),
    )
    wdef = Window.partitionBy("user_id").orderBy("event_id")
    wfull = wdef.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return v.select(
        "user_id", "event_id",
        F.last("q").over(wdef).alias("last_default_frame"),
        F.last("q").over(wfull).alias("last_full_frame"),
        F.first("q").over(wdef).alias("first_val"),
    ).orderBy("user_id", "event_id")


@register(
    "ind_median3_smooth",
    # rolling median-of-three WITHOUT a sort or percentile: median3 =
    # a + b + c - max3 - min3, pure integer expressions over LAG/LEAD —
    # the classic impulse-noise filter as a closed form
    oracle="""
    WITH v AS (
      SELECT user_id, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS q,
             LAG(CAST(round(value * 1000000.0) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id) AS a,
             LEAD(CAST(round(value * 1000000.0) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id) AS c
      FROM events
    )
    SELECT user_id, event_id,
           CAST(a + q + c - GREATEST(a, q, c) - LEAST(a, q, c)
                AS BIGINT) AS median3_micros
    FROM v WHERE a IS NOT NULL AND c IS NOT NULL
    ORDER BY user_id, event_id
    """,
)
def ind_median3_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-three smoothing (the classic impulse/despike filter —
    removes single-tick outliers a moving average would smear): the
    rolling median over (prev, current, next) via the closed form
    sum - max - min, pure integer expressions over one LAG/LEAD window
    — no per-frame sort, no percentile machinery. Series endpoints
    (no neighbor) are excluded."""
    q = F.round(F.col("value") * 1000000.0).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id")
    v = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        q.alias("q"),
        F.lag(q).over(w).alias("a"),
        F.lead(q).over(w).alias("c"),
    )
    med3 = (
        F.col("a") + F.col("q") + F.col("c")
        - F.greatest("a", "q", "c")
        - F.least("a", "q", "c")
    )
    return (
        v.filter(F.col("a").isNotNull() & F.col("c").isNotNull())
        .select(
            "user_id", "event_id", med3.alias("median3_micros")
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "dq_outlier_iqr_fences",
    # Tukey IQR fences with rank-based quartiles (values at ranks
    # ceil(n/4) and ceil(3n/4), no interpolation) and DOUBLED-cents
    # fences so 1.5*IQR stays integer: lo2 = 2*q1 - 3*iqr, hi2 = 2*q3
    # + 3*iqr compared against 2*value — all exact
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pri, o_orderkey AS okey,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT pri, okey, cents,
             ROW_NUMBER() OVER (PARTITION BY pri ORDER BY cents, okey)
               AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM v
    ),
    q AS (
      SELECT pri,
             MAX(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
             MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3
      FROM r GROUP BY pri
    )
    SELECT v.pri,
           CAST(MIN(q.q1) AS BIGINT) AS q1_cents,
           CAST(MIN(q.q3) AS BIGINT) AS q3_cents,
           CAST(SUM(CASE WHEN 2 * v.cents
                              < 2 * q.q1 - 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(SUM(CASE WHEN 2 * v.cents
                              > 2 * q.q3 + 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM v JOIN q ON q.pri = v.pri
    GROUP BY v.pri ORDER BY v.pri
    """,
)
def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier audit (the boxplot rule, the third
    member of the robust-outlier family beside z-score and MAD):
    quartiles by integer rank, fences at q1 - 1.5*IQR and q3 + 1.5*IQR
    evaluated in DOUBLED cents so the half stays integer — outlier
    counts per group, exact. Plan: one window shuffle for ranks, the
    tiny quartile table broadcast back, one hash aggregate."""
    v = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias(
            "cents"
        ),
    )
    wr = Window.partitionBy("pri").orderBy("cents", "okey")
    wn = Window.partitionBy("pri")
    r = v.select(
        "pri", "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q = r.groupBy("pri").agg(
        F.max(
            F.when(
                F.col("rn") == ((F.col("n") + 3) / 4).cast("long"),
                F.col("cents"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn")
                == ((3 * F.col("n") + 3) / 4).cast("long"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    j = v.join(F.broadcast(q), "pri")
    return (
        j.groupBy("pri")
        .agg(
            F.min("q1").alias("q1_cents"),
            F.min("q3").alias("q3_cents"),
            F.sum(
                F.when(
                    2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr, 1
                ).otherwise(0)
            ).alias("n_low_outliers"),
            F.sum(
                F.when(
                    2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr, 1
                ).otherwise(0)
            ).alias("n_high_outliers"),
        )
        .orderBy("pri")
    )


@register(
    "g7_clustering_coeff_stats",
    # per-node clustering coefficient inputs: triangles touching each
    # node (each ordered triangle exploded to its three corners) and
    # the node degree — c(v) = 2*tri / (deg*(deg-1)) is a determined
    # function of the exact integer pair
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corners AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tc AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM corners GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM edges
            UNION ALL SELECT v FROM edges)
      GROUP BY node
    )
    SELECT tc.node, tc.n_triangles, deg.degree
    FROM tc JOIN deg USING (node)
    ORDER BY tc.node
    """,
)
def g7_clustering_coeff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient inputs per node (how tightly a
    part's co-purchase neighborhood interlinks): triangles touching
    each node — the g1 ordered-triangle join exploded to its three
    corners — and the node degree; c(v) = 2*tri/(deg*(deg-1)) is a
    determined function of the exact integer pair. Plan: the
    checkpointed edge build (``_copurchase_edges``), the triangle join
    (operators/graph.ordered_triangles), one corner explode + two hash
    aggregates."""
    from big_data_analysis_for_stock_market_data_spark.operators.graph import (
        ordered_triangles,
    )

    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li.select("l_orderkey", "l_partkey"))
    tri = ordered_triangles(edges)
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    tc = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return tc.join(deg, "node").orderBy("node")


@register(
    "a43_spearman_rho_stats",
    # Spearman rank correlation with midrank ties, all-integer: doubled
    # midrank = 2*#less + ties + 1 per distinct value (joined back to
    # rows), so sum((2rx - 2ry)^2) = 4*sum(d^2) is exact; the tie
    # correction cube sums for both variables ride along — rho with or
    # without tie correction is a determined function of the one row
    oracle="""
    WITH base AS (
      SELECT event_type AS grp, event_id,
             CAST(round(value * 1000000.0) AS BIGINT) AS x,
             CAST(event_id % 1000 AS BIGINT) AS y
      FROM events
    ),
    rx AS (
      SELECT grp, x,
             2 * (SUM(COUNT(*)) OVER (PARTITION BY grp ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - COUNT(*)) + COUNT(*) + 1 AS drx,
             CAST(COUNT(*) AS BIGINT) AS cx
      FROM base GROUP BY grp, x
    ),
    ry AS (
      SELECT grp, y,
             2 * (SUM(COUNT(*)) OVER (PARTITION BY grp ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - COUNT(*)) + COUNT(*) + 1 AS dry,
             CAST(COUNT(*) AS BIGINT) AS cy
      FROM base GROUP BY grp, y
    )
    SELECT b.grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((rx.drx - ry.dry) * (rx.drx - ry.dry)) AS BIGINT)
             AS sum_d2_x4,
           CAST((SELECT SUM(cx * cx * cx - cx) FROM rx
                 WHERE rx.grp = b.grp) AS BIGINT) AS tie_cube_x,
           CAST((SELECT SUM(cy * cy * cy - cy) FROM ry
                 WHERE ry.grp = b.grp) AS BIGINT) AS tie_cube_y
    FROM base b
    JOIN rx ON rx.grp = b.grp AND rx.x = b.x
    JOIN ry ON ry.grp = b.grp AND ry.y = b.y
    GROUP BY b.grp ORDER BY b.grp
    """,
)
def a43_spearman_rho_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation inputs per group (the nonparametric
    monotone-association companion to the Pearson/OLS family): doubled
    midranks for both variables (2*#less + ties + 1, exact on ties), so
    4*sum(d^2) and both tie-correction cube sums are exact integers —
    rho = 1 - 6*sum(d^2)/(n^3 - n) (tie-corrected or not) is a
    determined function of the one row per group. Plan: two value-grain
    aggregates with cumulative windows (distinct values, never raw
    rows), joined back to rows, one final aggregate."""
    base = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 1000000.0).cast("long").alias("x"),
        (F.col("event_id") % 1000).cast("long").alias("y"),
    )

    def doubled_ranks(col):
        g = base.groupBy("grp", col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        wcum = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return g.select(
            "grp", col,
            (
                2 * (F.sum("cnt").over(wcum) - F.col("cnt"))
                + F.col("cnt") + 1
            ).alias(f"dr_{col}"),
            F.col("cnt").alias(f"c_{col}"),
        )

    rx = doubled_ranks("x")
    ry = doubled_ranks("y")
    # tie cubes fold into the SAME row-grain aggregate: each distinct
    # value with tie count c contributes c*(c^2 - 1) = sum over its c
    # rows of (c^2 - 1), so summing (c^2 - 1) per row equals the
    # value-grain cube sum — no separate tie branches (which re-executed
    # the rank subtrees and joined back: 14 exchanges, now 8)
    d = F.col("dr_x") - F.col("dr_y")
    return (
        base.join(rx, ["grp", "x"])
        .join(ry, ["grp", "y"])
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d * d).alias("sum_d2_x4"),
            F.sum(F.col("c_x") * F.col("c_x") - 1).alias("tie_cube_x"),
            F.sum(F.col("c_y") * F.col("c_y") - 1).alias("tie_cube_y"),
        )
        .select("grp", "n", "sum_d2_x4", "tie_cube_x", "tie_cube_y")
        .orderBy("grp")
    )


@register(
    "a44_kruskal_wallis_stats",
    # Kruskal-Wallis k-sample rank test (the k-group generalization of
    # a39's Mann-Whitney): GLOBAL doubled midranks from the value-grain
    # table, per-group rank sums and sizes plus the global tie cube —
    # H (tie-corrected) is a determined function of these exact rows
    oracle="""
    WITH x AS (
      SELECT event_type AS grp,
             CAST(round(value * 1000000.0) AS BIGINT) AS v
      FROM events
    ),
    g AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM x GROUP BY v
    ),
    r AS (
      SELECT v, cnt,
             2 * (SUM(cnt) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - cnt) + cnt + 1 AS dr
      FROM g
    )
    SELECT x.grp,
           CAST(COUNT(*) AS BIGINT) AS n_i,
           CAST(SUM(r.dr) AS BIGINT) AS ranksum_doubled,
           CAST((SELECT SUM(cnt * cnt * cnt - cnt) FROM g) AS BIGINT)
             AS tie_cube_total,
           CAST((SELECT COUNT(*) FROM x) AS BIGINT) AS n_total
    FROM x JOIN r ON r.v = x.v
    GROUP BY x.grp ORDER BY x.grp
    """,
)
def a44_kruskal_wallis_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis k-sample rank test inputs (completes the
    nonparametric family: MW for two groups, KW for k): global doubled
    midranks over ALL groups pooled (value-grain cumulative window, the
    a39 machinery), per-group size and rank sum, the pooled tie cube
    and grand total — the tie-corrected H statistic is a determined
    function of the k rows. Plan: one value-grain aggregate + one
    cumulative window over distinct values, joined back, one final
    aggregate per group."""
    x = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 1000000.0).cast("long").alias("v"),
    )
    g = x.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.select(
        "v",
        (
            2 * (F.sum("cnt").over(wcum) - F.col("cnt"))
            + F.col("cnt") + 1
        ).alias("dr"),
    )
    ties = g.agg(
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_cube_total"),
        F.sum("cnt").alias("n_total"),
    )
    return (
        x.join(r, "v")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_i"),
            F.sum("dr").alias("ranksum_doubled"),
        )
        .crossJoin(F.broadcast(ties))
        .select(
            "grp", "n_i", "ranksum_doubled", "tie_cube_total",
            "n_total",
        )
        .orderBy("grp")
    )


@register(
    "a45_cox_score_stats",
    # Cox proportional-hazards score inputs (Breslow ties): per event
    # time, the event count, the covariate sum over EVENTS at t, and
    # the size + covariate sum of the RISK SET (duration >= t) — the
    # partial-likelihood score U(0) = sum_t [ sum_z_events - d_t *
    # sum_z_risk / n_risk ] is a determined function of these exact
    # integer rows. Risk-set sums via reverse cumulation on the
    # time-grain table (the a32 Kaplan-Meier machinery + sums)
    oracle="""
    WITH subj AS (
      SELECT CAST(event_id % 365 + 1 AS BIGINT) AS t,
             CASE WHEN event_id % 4 = 0 THEN 0 ELSE 1 END AS observed,
             CAST(round(value * 1000.0) AS BIGINT) AS z
      FROM events
    ),
    pt AS (
      SELECT t,
             CAST(SUM(observed) AS BIGINT) AS d_t,
             CAST(SUM(observed * z) AS BIGINT) AS sum_z_events,
             CAST(COUNT(*) AS BIGINT) AS n_leaving,
             CAST(SUM(z) AS BIGINT) AS z_leaving
      FROM subj GROUP BY t
    )
    SELECT t, d_t, sum_z_events,
           CAST(SUM(n_leaving) OVER ()
                - (SUM(n_leaving) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_leaving) AS BIGINT) AS n_at_risk,
           CAST(SUM(z_leaving) OVER ()
                - (SUM(z_leaving) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - z_leaving) AS BIGINT) AS sum_z_at_risk
    FROM pt WHERE d_t > 0 ORDER BY t
    """,
)
def a45_cox_score_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards score inputs at beta = 0 (Breslow tie
    handling) over the a32 survival fixture with an integer-millis
    covariate: per event time, the event count and event-covariate sum
    plus the risk set's size and covariate sum (subjects with duration
    >= t, via total-minus-prefix cumulation on the time-grain table) —
    the log-rank/score statistic and the Cox gradient at 0 are
    determined functions of these exact rows. Plan: one hash aggregate
    to time grain, one window over the tiny per-time table."""
    subj = load(spark, sf_dir, "events").select(
        (F.col("event_id") % 365 + 1).cast("long").alias("t"),
        F.when(F.col("event_id") % 4 == 0, 0).otherwise(1).alias(
            "observed"
        ),
        F.round(F.col("value") * 1000.0).cast("long").alias("z"),
    )
    pt = subj.groupBy("t").agg(
        F.sum("observed").alias("d_t"),
        F.sum(F.col("observed") * F.col("z")).alias("sum_z_events"),
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("z").alias("z_leaving"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    n_at_risk = (
        F.sum("n_leaving").over(wall)
        - (F.sum("n_leaving").over(wcum) - F.col("n_leaving"))
    ).cast("long")
    z_at_risk = (
        F.sum("z_leaving").over(wall)
        - (F.sum("z_leaving").over(wcum) - F.col("z_leaving"))
    ).cast("long")
    return (
        pt.select(
            "t", "d_t", "sum_z_events",
            n_at_risk.alias("n_at_risk"),
            z_at_risk.alias("sum_z_at_risk"),
        )
        .filter(F.col("d_t") > 0)
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# Scale-decade invariance entries (r09, VERDICT r08 task 3). Each entry
# replicates its input 10x IN-PLAN (explode over a 0..9 sequence — a
# Generate node, no shuffle, no driver action), runs a core shuffle shape
# — grouped aggregate, partitioned window, day-grain fan-out join — keyed
# by (original keys, copy_id), and then FOLDS across copies asserting
# every copy produced the identical result (n_variants = 1, exact-decimal
# / pure-integer stats so the equality is bit-exact and order-independent
# on both engines). This drives the same operators the sf-dir tests
# verify through one more decade of data volume inside the driver's own
# verdict mechanism: at sf0.01 the replicated lineitem is ~600k rows and
# events ~100k, shuffled on 10x the key space. 100 TB story: replication
# factor r scales rows linearly; the shuffle keys carry copy_id so
# partitioning spreads with the data — nothing about the fold is
# replication-bound.
# ---------------------------------------------------------------------------

@register(
    "scale10_pricing_rollup",
    oracle=f"""
    WITH rep AS (
      SELECT l.*, r.range AS copy_id
      FROM lineitem l CROSS JOIN range(10) r
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    ), per_copy AS (
      SELECT l_returnflag, l_linestatus, copy_id,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq_dec,
             COUNT(*) AS n_rows
      FROM rep GROUP BY 1, 2, 3
    )
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(sq_dec AS VARCHAR) || '|'
                               || CAST(n_rows AS VARCHAR)) AS BIGINT)
             AS n_variants,
           CAST(MAX(sq_dec) AS DOUBLE) AS sum_qty,
           CAST(MAX(n_rows) AS BIGINT) AS rows_per_copy
    FROM per_copy GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def scale10_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1's grouped aggregate at 10x: replicate filtered lineitem in-plan,
    aggregate per (flag, status, copy) with the exact-decimal pattern, and
    assert all 10 copies agree (n_variants = 1 — decimal sums are
    order-independent, so a partition-placement or partial-agg bug at the
    bigger shuffle surfaces as a variant). Plan: Generate -> one hash
    aggregate shuffled on the 10x key space -> tiny copy-fold aggregate."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    rep = li.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    per_copy = rep.groupBy("l_returnflag", "l_linestatus", "copy_id").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sq_dec"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        per_copy.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("sq_dec", "n_rows").alias("n_variants"),
            F.max("sq_dec").cast("double").alias("sum_qty"),
            F.max("n_rows").alias("rows_per_copy"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "scale10_window_lag",
    oracle="""
    WITH rep AS (
      SELECT e.event_id, e.user_id, e.value, CAST(e.ts AS TIMESTAMP) AS ts,
             r.range AS copy_id
      FROM events e CROSS JOIN range(10) r
    ), lab AS (
      SELECT user_id, copy_id, value,
             LEAD(value) OVER (PARTITION BY user_id, copy_id
                               ORDER BY ts, event_id) AS nxt
      FROM rep
    ), per_copy AS (
      SELECT user_id, copy_id, COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN nxt > value THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buy
      FROM lab GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(n_rows AS VARCHAR) || '|'
                               || CAST(n_buy AS VARCHAR)) AS BIGINT)
             AS n_variants,
           CAST(MAX(n_buy) AS BIGINT) AS buys_per_copy,
           CAST(MAX(n_rows) AS BIGINT) AS rows_per_copy
    FROM per_copy GROUP BY 1 ORDER BY user_id
    """,
)
def scale10_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3's partitioned lead-label at 10x: replicate events in-plan, run
    the tie-free window (ORDER BY ts, event_id — unique key, Q2 standard)
    per (user, copy), count buy labels per copy, and assert the 10 copies
    agree per user. Pure-integer fold, so the comparison is exact. Plan:
    Generate -> one window sort shuffled on the 10x (user, copy) key
    space -> per-copy count -> per-user fold."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    rep = ev.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    w = Window.partitionBy("user_id", "copy_id").orderBy("ts", "event_id")
    lab = rep.withColumn("nxt", F.lead("value").over(w))
    per_copy = lab.groupBy("user_id", "copy_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("nxt") > F.col("value"), 1).otherwise(0)
        ).alias("n_buy"),
    )
    return (
        per_copy.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("n_rows", "n_buy").alias("n_variants"),
            F.max("n_buy").alias("buys_per_copy"),
            F.max("n_rows").alias("rows_per_copy"),
        )
        .orderBy("user_id")
    )


@register(
    "scale10_daygrain_join",
    oracle="""
    WITH rep AS (
      SELECT e.event_id, CAST(CAST(e.ts AS TIMESTAMP) AS DATE) AS day,
             r.range AS copy_id
      FROM events e CROSS JOIN range(10) r
    ), daily AS (
      SELECT day, copy_id, COUNT(*) AS n_day
      FROM rep GROUP BY 1, 2
    ), joined AS (
      SELECT rep.copy_id, rep.day, daily.n_day
      FROM rep JOIN daily USING (day, copy_id)
    ), per_copy AS (
      SELECT copy_id, COUNT(*) AS n_rows,
             CAST(SUM(n_day) AS BIGINT) AS sum_nday,
             COUNT(DISTINCT day) AS n_days
      FROM joined GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(n_rows AS VARCHAR) || '|'
                               || CAST(sum_nday AS VARCHAR) || '|'
                               || CAST(n_days AS VARCHAR)) AS BIGINT)
             AS n_variants,
           CAST(MAX(n_rows) AS BIGINT) AS rows_per_copy,
           CAST(MAX(sum_nday) AS BIGINT) AS sq_rows_per_copy,
           CAST(MAX(n_days) AS BIGINT) AS days_per_copy
    FROM per_copy
    """,
)
def scale10_daygrain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2's day-grain fan-out join at 10x: replicate events in-plan,
    aggregate to (day, copy) grain, join the daily table back onto the
    replicated minute rows (the reference's compute-aside-then-join shape,
    G_2_rf_nordd_fe.py:47-49), and fold per copy on pure integers —
    row count, sum of per-day counts (= sum of n_d squared, sensitive to
    any fan-out duplication or loss), distinct days — asserting all 10
    copies agree. Plan: Generate -> day-grain hash agg -> broadcast-able
    daily side joined on (day, copy) -> per-copy fold -> 1-row output."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.to_date("ts").alias("day")
    )
    rep = ev.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    daily = rep.groupBy("day", "copy_id").agg(
        F.count(F.lit(1)).alias("n_day")
    )
    joined = rep.join(daily, ["day", "copy_id"])
    per_copy = joined.groupBy("copy_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_day").alias("sum_nday"),
        F.countDistinct("day").alias("n_days"),
    )
    return per_copy.agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("n_rows", "sum_nday", "n_days").alias("n_variants"),
        F.max("n_rows").alias("rows_per_copy"),
        F.max("sum_nday").alias("sq_rows_per_copy"),
        F.max("n_days").alias("days_per_copy"),
    )


@register(
    "simsearch_ann_auto_planes",
    # the oracle derives the SAME plane count the operator's auto mode
    # computes — 8 + min k with 2000*2^k >= |right corpus| — so the bucket
    # family, candidate set, and ranking replay exactly at ANY sf (the
    # plane count is data-dependent by design, so it must be computed, not
    # hard-coded, in the SQL twin). The predicate is the ceiling-division
    # restatement of 2000*2^k >= rows (equivalent since 2^k is integer;
    # the direct product form overflows INT64 at k=53) in HUGEINT, and k
    # ranges over 0..62 — past 2000*2^62 rows (~9.2e18, beyond any
    # physical corpus) MIN returns NULL and the NULL plane count nulls
    # every bucket key, so an out-of-range corpus replays as an empty
    # candidate set and FAILS the compare loudly instead of silently
    # falling back to the minimum family (r10 ADVICE).
    oracle=f"""
    WITH np AS (
      SELECT 8 + (
        SELECT MIN(k) FROM (SELECT unnest(range(0, 63)) AS k)
        WHERE (1::HUGEINT << k) >=
              ((SELECT CAST(COUNT(*) AS HUGEINT) FROM embeddings
                WHERE vec_id % 2 = 1) + 1999) // 2000)
        AS n
    ),
    b AS (
      SELECT vec_id, embedding,
             list_transform(range(0, 8), t ->
               t * (1::BIGINT << np.n)
               + list_sum(list_transform(range(0, np.n),
                   p -> CASE WHEN embedding[(t * np.n + p) % 64 + 1] >= 0
                             THEN (1::BIGINT << p) ELSE 0 END))) AS bks
      FROM embeddings, np
    ),
    l AS (SELECT * FROM b WHERE vec_id % 2 = 0),
    r AS (SELECT * FROM b WHERE vec_id % 2 = 1),
    cand AS (
      SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS neighbor_id,
             l.embedding AS le, r.embedding AS re
      FROM l JOIN r ON len(list_intersect(l.bks, r.bks)) > 0
    ),
    scored AS (
      SELECT left_id, neighbor_id,
             ROUND({_duck_dot('le', 're')}
                   / ({_duck_norm('le')} * {_duck_norm('re')}), 6) AS cos_sim
      FROM cand
    )
    SELECT left_id, neighbor_id, cos_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY left_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    WHERE rank <= 2
    """,
)
def simsearch_ann_auto_planes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_join in its production DEFAULT sizing mode: ``n_planes='auto'``
    resolves the bucket width from the retrieved corpus's cardinality
    (operators/simsearch.resolve_n_planes — 8 + ceil(log2(rows/2000)),
    integer-exact), the measured fix for the fixed-plane cliff
    ANN_SCALE_PROBE.json quantified (fixed 8 planes → 9.6x candidate
    growth at 10x corpus; sized planes → 2.7x at 99.8% coverage). Even
    ids retrieve top-2 among odd ids through the sign-LSH bucket shuffle
    join; axis planes + 6-dp pre-rank rounding keep it SQL-replayable.
    The sizing count is ONE bounded driver action (a scalar count()),
    avoidable in production via the corpus_rows hint — exercised here
    without the hint because the default path is what's under test."""
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss

    emb = load(spark, sf_dir, "embeddings")
    # NOTE: the SQL twin pins n_tables=8 (range(0, 8) over t) and dim=64
    # (the `% 64` axis fold) — editing these call parameters desyncs the
    # oracle unless its literals are updated in lockstep (r10 ADVICE).
    return ss.ann_join(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=2, n_planes="auto", n_tables=8, plane_mode="axis", round_to=6,
    )


@register(
    "scale10_minhash_band",
    # the MinHash banding fold at 10x: the oracle replays shingles (shared
    # CTEs), the 16-permutation md5-60 signature, 4-band r=4 band keys,
    # and the bucket aggregate per copy, then folds pure integers per copy
    oracle=f"""
    WITH {_NGRAM_JACCARD_CTES},
    rep AS (
      SELECT doc_id, shingles, r.range AS copy_id
      FROM sh CROSS JOIN range(10) r
    ),
    shing AS (SELECT doc_id, copy_id, unnest(shingles) AS s FROM rep),
    base AS (
      SELECT doc_id, copy_id, s,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h0
      FROM shing
    ),
    sigs AS (
      SELECT doc_id, copy_id, i.range AS i,
             MIN(CAST(('0x' || substr(md5(h0::VARCHAR || ':' || i.range),
                                      1, 15)) AS BIGINT)) AS sig
      FROM base CROSS JOIN range(0, 16) i
      GROUP BY doc_id, copy_id, i.range
    ),
    bandkeys AS (
      SELECT doc_id, copy_id, i // 4 AS band,
             STRING_AGG(sig::VARCHAR, ',' ORDER BY i) AS bkey
      FROM sigs GROUP BY doc_id, copy_id, i // 4
    ),
    buckets AS (
      SELECT band, bkey, copy_id, COUNT(*) AS n
      FROM bandkeys GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ),
    per_copy AS (
      SELECT copy_id,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_cand_pairs,
             CAST(MAX(n) AS BIGINT) AS max_bucket,
             CAST(SUM(n) AS BIGINT) AS n_members
      FROM buckets GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT struct_pack(
                  nb := n_buckets, np := n_cand_pairs,
                  mb := max_bucket, nm := n_members)) AS BIGINT)
             AS n_variants,
           CAST(MAX(n_buckets) AS BIGINT) AS buckets_per_copy,
           CAST(MAX(n_cand_pairs) AS BIGINT) AS cand_pairs_per_copy,
           CAST(MAX(max_bucket) AS BIGINT) AS max_bucket_size,
           CAST(MAX(n_members) AS BIGINT) AS members_per_copy
    FROM per_copy
    """,
)
def scale10_minhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash banding fold — the one core LLM-pipeline shuffle shape
    without a scale-decade invariance entry until now — at 10x: replicate
    the shingled corpus in-plan, run the 16-permutation md5-60 signature
    fold (operators/dedup.minhash_signatures, the code dedup_minhash_md5
    certifies; copy_id rides through it) and the 4-band r=4 banding per
    copy, aggregate bucket occupancy per
    (band, key, copy), and fold pure integers per copy — bucket count,
    candidate-pair count Σ n·(n−1)/2, max bucket size, member count —
    asserting all 10 copies agree (a partial-agg or placement bug at the
    10x-key-space banding shuffle surfaces as a variant). Band keys stay
    comma-joined strings (not the production xxhash64 of them) so the SQL
    twin replays buckets verbatim. Plan: one tokenize pass -> in-plan
    Generate -> per-row signature fold (no shuffle) -> ONE banding hash
    aggregate on the 10x key space -> per-copy fold -> 1-row output."""
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    docs = load(spark, sf_dir, "documents")
    shingled = dd.with_shingles(docs, 3, "text").select("doc_id", "shingles")
    rep = shingled.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    sigs = dd.minhash_signatures(rep, 16, hash_mode="md5_60")
    banded = sigs.select(
        "doc_id", "copy_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), b -> concat_ws(',', "
                "transform(slice(signature, b * 4 + 1, 4), "
                "x -> cast(x AS string))))"
            )
        ).alias("band", "bkey"),
    )
    buckets = (
        banded.groupBy("band", "bkey", "copy_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    per_copy = buckets.groupBy("copy_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr("n * (n - 1) DIV 2")).alias("n_cand_pairs"),
        F.max("n").alias("max_bucket"),
        F.sum("n").alias("n_members"),
    )
    return per_copy.agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(
            "n_buckets", "n_cand_pairs", "max_bucket", "n_members"
        ).alias("n_variants"),
        F.max("n_buckets").alias("buckets_per_copy"),
        F.max("n_cand_pairs").alias("cand_pairs_per_copy"),
        F.max("max_bucket").alias("max_bucket_size"),
        F.max("n_members").alias("members_per_copy"),
    )


def _scale10_bpe_oracle_sql(n_merges: int = 4, n_copies: int = 10) -> str:
    """Per-copy replay of the BPE-training rounds — ``_bpe_oracle_sql``
    with a copy dimension (kept separate so that generator's fingerprint,
    and with it text_bpe_merges/text_bpe_tokenize's verdicts, stay
    untouched): every CTE carries copy_id in its keys and window
    partitions, the (cnt DESC, a, b) winner is selected PER COPY, and the
    final fold asserts the copies agree per merge rank."""
    ctes = [
        f"toks AS (SELECT unnest({_DUCK_TOKS}) AS w FROM documents)",
        "words AS (SELECT w, COUNT(*) AS freq FROM toks GROUP BY w)",
        f"""seg0 AS (
      SELECT r.range AS copy_id, w, freq,
             list_transform(range(1, length(w) + 1),
                            i -> substr(w, i, 1)) AS syms
      FROM words CROSS JOIN range({n_copies}) r
    )""",
    ]
    for t in range(n_merges):
        ctes.append(f"""cnt{t} AS (
      SELECT copy_id, syms[u.i] AS a, syms[u.i + 1] AS b,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM seg{t}, unnest(range(1, len(syms))) AS u(i)
      GROUP BY 1, 2, 3
    )""")
        ctes.append(f"""best{t} AS (
      SELECT copy_id, a, b, cnt FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY copy_id
                 ORDER BY cnt DESC, a, b) AS rn
        FROM cnt{t}
      ) WHERE rn = 1
    )""")
        ctes.append(f"""pos{t} AS (
      SELECT g.copy_id, g.w, g.freq, u.i AS p, g.syms[u.i] AS sym,
             bb.a AS ba, bb.b AS bbb,
             (u.i < len(g.syms) AND g.syms[u.i] = bb.a
              AND g.syms[u.i + 1] = bb.b) AS mtch
      FROM seg{t} g, best{t} bb,
           unnest(range(1, len(g.syms) + 1)) AS u(i)
      WHERE g.copy_id = bb.copy_id
    )""")
        ctes.append(f"""mk{t} AS (
      SELECT *, CASE WHEN mtch THEN p - ROW_NUMBER() OVER (
                 PARTITION BY copy_id, w, mtch ORDER BY p) END AS grp
      FROM pos{t}
    )""")
        ctes.append(f"""mg{t} AS (
      SELECT *, (mtch AND ROW_NUMBER() OVER (
                 PARTITION BY copy_id, w, grp ORDER BY p) % 2 = 1) AS strt
      FROM mk{t}
    )""")
        ctes.append(f"""sk{t} AS (
      SELECT *, COALESCE(LAG(strt) OVER (PARTITION BY copy_id, w
                                         ORDER BY p),
                         FALSE) AS prev_strt
      FROM mg{t}
    )""")
        ctes.append(f"""seg{t + 1} AS (
      SELECT copy_id, w, any_value(freq) AS freq,
             list(CASE WHEN strt THEN ba || bbb ELSE sym END ORDER BY p)
               FILTER (WHERE NOT prev_strt) AS syms
      FROM sk{t}
      GROUP BY copy_id, w
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT {t + 1} AS merge_rank, copy_id, a, b, a || b AS merged,"
        f" cnt FROM best{t}"
        for t in range(n_merges)
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f""",
    ranks AS ({unions})
    SELECT merge_rank,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT struct_pack(a := a, b := b, c := cnt))
                AS BIGINT) AS n_variants,
           MAX(a) AS "left", MAX(b) AS "right", MAX(merged) AS merged,
           CAST(MAX(cnt) AS BIGINT) AS pair_count
    FROM ranks GROUP BY merge_rank ORDER BY merge_rank"""
    )


@register("scale10_bpe_merge", oracle=_scale10_bpe_oracle_sql(4, 10))
def scale10_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-merge determinism at 10x: replicate the token stream in-plan,
    learn the first 4 merge rules independently per copy with the loop
    text_bpe_merges runs (operators/text.bpe_merge_rounds, copy_id as
    its key: per-copy pair counts, per-copy (cnt DESC, a, b) winner via
    min-of-struct, per-copy JVM array-fold re-segmentation), and fold
    per merge rank, asserting all 10 copies learned the IDENTICAL rule
    (n_variants = 1). The argmax tiebreak is the determinism-critical
    step: a nondeterministic tie pick or a partial-agg bug at the 10x
    pair-count shuffle surfaces as a variant. Plan: one corpus tokenize
    pass -> checkpointed 10x word table -> per round one vocab-sized
    pair-count aggregate + a 10-row per-copy winner broadcast-joined
    back -> 4-row output."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import (
        bpe_merge_rounds,
        tokens_col,
    )

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("w"))
    rep = toks.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    words = (
        rep.groupBy("copy_id", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    out, _ = bpe_merge_rounds(words, 4)
    return (
        out.groupBy("merge_rank")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("left", "right", "pair_count").alias(
                "n_variants"
            ),
            F.max("left").alias("left"),
            F.max("right").alias("right"),
            F.max("merged").alias("merged"),
            F.max("pair_count").alias("pair_count"),
        )
        .orderBy("merge_rank")
    )


@register(
    "scale10_asof_join",
    # the as-of join decade fold (VERDICT r10 task 5): DuckDB's native
    # ASOF LEFT JOIN on the composite (user_id, copy_id) key replays the
    # engine's union+carry plan per copy; the fold is pure-integer
    # (per-row micros via double->integer rounding, which agrees across
    # engines) so all 10 copies must land bit-identical
    oracle="""
    WITH rep AS (
      SELECT e.event_id, e.user_id, e.ts, e.value, e.event_type,
             r.range AS copy_id
      FROM events e CROSS JOIN range(10) r
    ),
    l AS (SELECT * FROM rep WHERE event_type <> 'purchase'),
    p AS (
      SELECT user_id, copy_id, ts, value AS ref_value
      FROM rep WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT l.copy_id, l.user_id, r.ref_value
      FROM l ASOF LEFT JOIN p r
        ON l.user_id = r.user_id AND l.copy_id = r.copy_id
       AND l.ts >= r.ts
    ),
    per AS (
      SELECT copy_id,
             COUNT(*) AS n_rows,
             COUNT(ref_value) AS n_matched,
             CAST(SUM(CAST(round(ref_value * 1000000) AS BIGINT))
                  AS BIGINT) AS sum_ref_micros,
             COUNT(DISTINCT user_id) AS n_users
      FROM j GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(n_rows AS VARCHAR) || '|'
                    || CAST(n_matched AS VARCHAR) || '|'
                    || CAST(sum_ref_micros AS VARCHAR) || '|'
                    || CAST(n_users AS VARCHAR)) AS BIGINT) AS n_variants,
           CAST(MAX(n_rows) AS BIGINT) AS rows_per_copy,
           CAST(MAX(n_matched) AS BIGINT) AS matched_per_copy,
           CAST(MAX(sum_ref_micros) AS BIGINT) AS ref_micros_per_copy,
           CAST(MAX(n_users) AS BIGINT) AS users_per_copy
    FROM per
    """,
)
def scale10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join at 10x (scale-decade invariance, VERDICT r10 task 5
    — the one heavily-used join family without a decade fold): replicate
    events in-plan, attach the most recent 'purchase' value per
    (user, copy) via the single-shuffle union+carry plan
    (operators/joins.as_of_join), and fold per copy on pure integers —
    left-row count, matched count, carried-value micros (per-row
    double->integer rounding, engine-agreeing), distinct users —
    asserting all 10 copies agree. Plan: Generate -> one shuffle on the
    composite key -> window carry -> per-copy fold -> 1-row output; no
    range explosion at any scale."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", "event_type"
    )
    rep = ev.withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    left = rep.filter(F.col("event_type") != "purchase").drop("event_type")
    right = rep.filter(F.col("event_type") == "purchase").select(
        "user_id", "copy_id", "ts", F.col("value").alias("ref_value")
    )
    out = join_ops.as_of_join(
        left, right, on=["user_id", "copy_id"], left_time="ts",
        right_time="ts", right_values=["ref_value"],
    )
    per_copy = out.groupBy("copy_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("ref_value").alias("n_matched"),
        F.sum(F.round(F.col("ref_value") * 1000000).cast("long")).alias(
            "sum_ref_micros"
        ),
        F.countDistinct("user_id").alias("n_users"),
    )
    return per_copy.agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(
            "n_rows", "n_matched", "sum_ref_micros", "n_users"
        ).alias("n_variants"),
        F.max("n_rows").alias("rows_per_copy"),
        F.max("n_matched").alias("matched_per_copy"),
        F.max("sum_ref_micros").alias("ref_micros_per_copy"),
        F.max("n_users").alias("users_per_copy"),
    )


@register(
    "scale10_stream_rollup",
    # the chained hour->day streaming rollup decade fold: the oracle
    # replays both window grains per copy from batch SQL (hour partials
    # in exact decimals, day rows from partials, both below the final
    # append-mode watermark horizon) and folds pure integers per copy;
    # the per-day decimal sum converts to DOUBLE identically on both
    # engines, so its micros (double->integer rounding) fold exactly
    oracle="""
    WITH h AS (
      SELECT user_id, r.range AS copy_id,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hs,
             COUNT(value) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events CROSS JOIN range(10) r GROUP BY 1, 2, 3
    ),
    b AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 61 MINUTE AS bound
      FROM events
    ),
    day AS (
      SELECT user_id, copy_id, date_trunc('day', hs) AS ds,
             CAST(SUM(n) AS BIGINT) AS n_events,
             COUNT(*) AS n_inner_buckets,
             CAST(SUM(s) AS DOUBLE) AS sum_value
      FROM h CROSS JOIN b
      WHERE date_trunc('day', hs) + INTERVAL 1 DAY <= bound
      GROUP BY 1, 2, 3
    ),
    per AS (
      SELECT copy_id,
             COUNT(*) AS n_rows,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             CAST(SUM(n_inner_buckets) AS BIGINT) AS n_buckets,
             COUNT(DISTINCT user_id) AS n_users,
             CAST(SUM(CAST(round(sum_value * 1000000) AS BIGINT))
                  AS BIGINT) AS sum_micros
      FROM day GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(n_rows AS VARCHAR) || '|'
                    || CAST(n_events AS VARCHAR) || '|'
                    || CAST(n_buckets AS VARCHAR) || '|'
                    || CAST(n_users AS VARCHAR) || '|'
                    || CAST(sum_micros AS VARCHAR)) AS BIGINT)
             AS n_variants,
           CAST(MAX(n_rows) AS BIGINT) AS rows_per_copy,
           CAST(MAX(n_events) AS BIGINT) AS events_per_copy,
           CAST(MAX(n_buckets) AS BIGINT) AS buckets_per_copy,
           CAST(MAX(n_users) AS BIGINT) AS users_per_copy,
           CAST(MAX(sum_micros) AS BIGINT) AS micros_per_copy
    FROM per
    """,
)
def scale10_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chained streaming rollup at 10x (VERDICT r10 task 5): explode
    each event into 10 copies INSIDE the stream (stateless, pre-watermark)
    and run the two chained stateful windowed aggregations
    (streaming/ops.chained_windowed_rollup, SPARK-40925) keyed by
    (user_id, copy_id) — state carries 10 independent replicas of the
    hour->day cascade through one drained replay. Fold per copy on pure
    integers (+ micros of the exact-decimal day sums) strictly below the
    final watermark horizon; all 10 copies must agree, certifying the
    multi-stateful-operator path is replica-deterministic, not just
    single-run green."""
    from big_data_analysis_for_stock_market_data_spark import streaming as st

    src = _events_stream(spark, sf_dir).withColumn(
        "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
    )
    rolled = st.chained_windowed_rollup(
        src, "ts", "1 hour", "1 day", "value",
        watermark="1 hour", group_by=["user_id", "copy_id"],
    )
    _, sink = st.run_to_memory(rolled, output_mode="append")
    bound = load(spark, sf_dir, "events").groupBy().agg(
        (F.max("ts") - F.expr("INTERVAL '61' MINUTE")).alias("__bound")
    )
    per_copy = (
        spark.table(sink)
        .crossJoin(F.broadcast(bound))
        .filter(F.col("window_end") <= F.col("__bound"))
        .groupBy("copy_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_events").alias("n_events"),
            F.sum("n_inner_buckets").alias("n_buckets"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.round(F.col("sum_value") * 1000000).cast("long")).alias(
                "sum_micros"
            ),
        )
    )
    return per_copy.agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(
            "n_rows", "n_events", "n_buckets", "n_users", "sum_micros"
        ).alias("n_variants"),
        F.max("n_rows").alias("rows_per_copy"),
        F.max("n_events").alias("events_per_copy"),
        F.max("n_buckets").alias("buckets_per_copy"),
        F.max("n_users").alias("users_per_copy"),
        F.max("sum_micros").alias("micros_per_copy"),
    )


@register(
    "inv_partition_layout",
    # partition-layout invariance, promoted from a session-only check
    # to an oracle-backed entry: the oracle computes
    # the same metrics independently per layout_id over replicated rows
    # and folds; every metric is integer (per-row micros) so the four
    # physically different Spark layouts must land bit-identical
    oracle="""
    WITH rep AS (
      SELECT l.l_orderkey, l.l_quantity, l.l_extendedprice,
             r.range AS layout_id
      FROM lineitem l CROSS JOIN range(4) r
    ),
    per AS (
      SELECT layout_id,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(l_quantity * 1000000) AS BIGINT))
                  AS BIGINT) AS sum_qty_micros,
             CAST(SUM(CAST(round(l_extendedprice * 1000000) AS BIGINT))
                  AS BIGINT) AS sum_price_micros,
             COUNT(DISTINCT l_orderkey) AS n_orders
      FROM rep GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_layouts,
           CAST(COUNT(DISTINCT CAST(n_rows AS VARCHAR) || '|'
                    || CAST(sum_qty_micros AS VARCHAR) || '|'
                    || CAST(sum_price_micros AS VARCHAR) || '|'
                    || CAST(n_orders AS VARCHAR)) AS BIGINT) AS n_variants,
           CAST(MAX(n_rows) AS BIGINT) AS n_rows,
           CAST(MAX(sum_qty_micros) AS BIGINT) AS sum_qty_micros,
           CAST(MAX(sum_price_micros) AS BIGINT) AS sum_price_micros,
           CAST(MAX(n_orders) AS BIGINT) AS n_orders
    FROM per
    """,
)
def inv_partition_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout invariance as an oracle-backed entry (VERDICT r10
    task 5; previously a session-only 3-config check):
    the SAME lineitem aggregate computed under four physically different
    layouts — natural parquet splits, hash-keyed repartition(7,
    l_orderkey), keyless round-robin repartition(13), and
    repartitionByRange(5, l_orderkey) — unioned and folded. Every metric
    is integer (count, per-row micros sums, distinct keys), so partial
    aggregation order cannot leak into the result: n_variants must be 1
    on any executor count, split size, or AQE decision — the property
    that makes every other entry's answer trustworthy on a 1000-executor
    cluster, pinned here in-plan."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )

    def metrics(df: DataFrame, layout_id: int) -> DataFrame:
        return (
            df.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.round(F.col("l_quantity") * 1000000).cast("long")
                ).alias("sum_qty_micros"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 1000000).cast("long")
                ).alias("sum_price_micros"),
                F.countDistinct("l_orderkey").alias("n_orders"),
            )
            .withColumn("layout_id", F.lit(layout_id))
        )

    layouts = (
        metrics(li, 0)
        .unionByName(metrics(li.repartition(7, "l_orderkey"), 1))
        .unionByName(metrics(li.repartition(13), 2))
        .unionByName(metrics(li.repartitionByRange(5, "l_orderkey"), 3))
    )
    return layouts.agg(
        F.count(F.lit(1)).alias("n_layouts"),
        F.countDistinct(
            "n_rows", "sum_qty_micros", "sum_price_micros", "n_orders"
        ).alias("n_variants"),
        F.max("n_rows").alias("n_rows"),
        F.max("sum_qty_micros").alias("sum_qty_micros"),
        F.max("sum_price_micros").alias("sum_price_micros"),
        F.max("n_orders").alias("n_orders"),
    )


@register(
    "inv_asof_tie_layouts",
    # layout invariance OF THE AS-OF TIE-BREAK (r11): the engine's
    # contract is "greatest right_values tuple wins among rights tied on
    # (keys, time)" — for a single non-null value column that collapses
    # to MAX(value) per (key, time), so the oracle pre-aggregates the
    # tied rights and replays with DuckDB's native ASOF JOIN, replicated
    # per layout_id. Day-truncating purchase timestamps manufactures
    # dense ties (sf0.01: 332 tied groups / 709 tied rows of 1604
    # groups), making the tie-break load-bearing, not vacuous.
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type <> 'purchase'
    ),
    r AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS rts,
             MAX(value) AS ref_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    j AS (
      SELECT l.user_id, r.ref_value
      FROM l ASOF LEFT JOIN r
        ON l.user_id = r.user_id AND l.ts >= r.rts
    ),
    per AS (
      SELECT x.range AS layout_id,
             COUNT(*) AS n_rows,
             COUNT(ref_value) AS n_matched,
             CAST(SUM(CAST(round(ref_value * 1000000) AS BIGINT))
                  AS BIGINT) AS sum_ref_micros,
             COUNT(DISTINCT user_id) AS n_users
      FROM j CROSS JOIN range(4) x GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_layouts,
           CAST(COUNT(DISTINCT CAST(n_rows AS VARCHAR) || '|'
                    || CAST(n_matched AS VARCHAR) || '|'
                    || CAST(sum_ref_micros AS VARCHAR) || '|'
                    || CAST(n_users AS VARCHAR)) AS BIGINT) AS n_variants,
           CAST(MAX(n_rows) AS BIGINT) AS n_rows,
           CAST(MAX(n_matched) AS BIGINT) AS n_matched,
           CAST(MAX(sum_ref_micros) AS BIGINT) AS sum_ref_micros,
           CAST(MAX(n_users) AS BIGINT) AS n_users
    FROM per
    """,
)
def inv_asof_tie_layouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout invariance of the as-of join TIE-BREAK (r11
    follow-on to inv_partition_layout): operators/joins.as_of_join
    orders tied right rows by their value tuple so the greatest one
    carries on any physical layout. This entry makes that contract
    driver-verdicted rather than pytest-only: purchases are
    day-truncated so many right rows share (user_id, rts) — at sf0.01,
    709 of the purchase rows are tied — then the SAME as-of join runs
    under four physically different right-side layouts (natural, hash
    repartition(7, user_id), keyless round-robin repartition(13),
    repartitionByRange(5, user_id); layout 3 also round-robins the left
    side) and folds integer metrics per layout. Without the
    deterministic tie-break, the carried micros sum would differ across
    layouts and n_variants would exceed 1 — exactly the
    executor-count/AQE nondeterminism that matters on a 1000-executor
    cluster and is invisible on tie-free data."""
    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("rts"),
        F.col("value").alias("ref_value"),
    )

    def metrics(lf: DataFrame, rt: DataFrame, layout_id: int) -> DataFrame:
        out = join_ops.as_of_join(
            lf, rt, on="user_id", left_time="ts", right_time="rts",
            right_values=["ref_value"],
        )
        return (
            out.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("ref_value").alias("n_matched"),
                F.sum(
                    F.round(F.col("ref_value") * 1000000).cast("long")
                ).alias("sum_ref_micros"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .withColumn("layout_id", F.lit(layout_id))
        )

    layouts = (
        metrics(left, right, 0)
        .unionByName(metrics(left, right.repartition(7, "user_id"), 1))
        .unionByName(metrics(left, right.repartition(13), 2))
        .unionByName(
            metrics(
                left.repartition(11),
                right.repartitionByRange(5, "user_id"),
                3,
            )
        )
    )
    return layouts.agg(
        F.count(F.lit(1)).alias("n_layouts"),
        F.countDistinct(
            "n_rows", "n_matched", "sum_ref_micros", "n_users"
        ).alias("n_variants"),
        F.max("n_rows").alias("n_rows"),
        F.max("n_matched").alias("n_matched"),
        F.max("sum_ref_micros").alias("sum_ref_micros"),
        F.max("n_users").alias("n_users"),
    )


@register(
    "scale10_triangles",
    # the graph family's decade fold (r11): replicate the raw
    # (orderkey, partkey) pairs 10x BEFORE the distinct, so the whole
    # pipeline — distinct, basket self-join, support filter, two-hop
    # triangle join — runs per copy keyed by copy_id; per-copy fold is
    # pure-integer (edge count, integer edge checksum, triangle count)
    # so all 10 copies must land bit-identical. SUM of the checksum is
    # CAST to BIGINT (DuckDB HUGEINT would degrade through pandas).
    oracle="""
    WITH rep AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey, r.range AS copy_id
      FROM lineitem l CROSS JOIN range(10) r
    ),
    edges AS (
      SELECT a.copy_id, a.l_partkey AS u, b.l_partkey AS v
      FROM rep a JOIN rep b
        ON a.l_orderkey = b.l_orderkey AND a.copy_id = b.copy_id
       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ),
    tri AS (
      SELECT e1.copy_id, COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.copy_id = e1.copy_id AND e2.u = e1.v
      JOIN edges e3 ON e3.copy_id = e1.copy_id AND e3.u = e1.u
                   AND e3.v = e2.v
      GROUP BY 1
    ),
    per AS (
      SELECT ec.copy_id,
             ec.n_edges,
             ec.edge_checksum,
             COALESCE(tri.n_triangles, 0) AS n_triangles
      FROM (
        SELECT copy_id, COUNT(*) AS n_edges,
               CAST(SUM(u * 131071 + v) AS BIGINT) AS edge_checksum
        FROM edges GROUP BY 1
      ) ec LEFT JOIN tri ON tri.copy_id = ec.copy_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(n_edges AS VARCHAR) || '|'
                    || CAST(edge_checksum AS VARCHAR) || '|'
                    || CAST(n_triangles AS VARCHAR)) AS BIGINT)
             AS n_variants,
           CAST(MAX(n_edges) AS BIGINT) AS edges_per_copy,
           CAST(MAX(edge_checksum) AS BIGINT) AS checksum_per_copy,
           CAST(MAX(n_triangles) AS BIGINT) AS triangles_per_copy
    FROM per
    """,
)
def scale10_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting at 10x (scale-decade invariance — the graph
    family's fold; pattern: scale10_pricing_rollup). The raw basket
    pairs replicate in-plan BEFORE the distinct, so every stage of
    g1_triangle_count's pipeline runs at 10x the data keyed by copy_id,
    through the same code: ``_copurchase_edges`` (distinct, basket
    self-join, support >= 2 filter, checkpoint) and
    operators/graph.ordered_triangles, both of which take the copy_id
    column as a key of every join, so copies never mix. Per-copy fold on
    pure integers — edge count, an integer edge checksum (content, not
    just cardinality), triangle count — asserts all 10 copies agree."""
    from big_data_analysis_for_stock_market_data_spark.operators.graph import (
        ordered_triangles,
    )

    li = load(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(
        li.select("l_orderkey", "l_partkey").withColumn(
            "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
        )
    )
    tri_per = (
        ordered_triangles(edges)
        .groupBy("copy_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edge_per = edges.groupBy("copy_id").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.col("u") * 131071 + F.col("v")).alias("edge_checksum"),
    )
    per = edge_per.join(tri_per, "copy_id", "left").withColumn(
        "n_triangles", F.coalesce("n_triangles", F.lit(0))
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(
            "n_edges", "edge_checksum", "n_triangles"
        ).alias("n_variants"),
        F.max("n_edges").alias("edges_per_copy"),
        F.max("edge_checksum").alias("checksum_per_copy"),
        F.max("n_triangles").alias("triangles_per_copy"),
    )


@register(
    "scale10_components",
    # the ITERATIVE graph fold (r11): Spark runs connected_components
    # ONCE over 10 disjoint offset-id replicas (node' = copy*2^32 +
    # node), so every min-label round, checkpoint, and convergence probe
    # processes 10x the state in one run. The oracle computes the base
    # components once with the recursive CTE and replicates the metrics
    # per copy — exact for disjoint copies (each replica's components
    # are the base components shifted by copy*2^32, and the fold takes
    # node % 2^32), and 10x cheaper than recursing over the replicated
    # edge list (measured 103 s vs 5.5 s at sf0.01). The Spark side
    # still folds per copy, so any replica divergence lands in
    # n_variants/max columns and hash-mismatches.
    oracle="""
    WITH RECURSIVE parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    eo AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    edges AS (
      SELECT u, v FROM eo UNION ALL SELECT v AS u, u AS v FROM eo
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY 1),
    m AS (
      SELECT COUNT(*) AS n_parts,
             COUNT(DISTINCT component) AS n_components,
             CAST(SUM(node) AS BIGINT) AS part_checksum,
             CAST(SUM(component) AS BIGINT) AS comp_checksum
      FROM comp
    ),
    per AS (SELECT r.range AS copy_id, m.* FROM m CROSS JOIN range(10) r)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT CAST(n_parts AS VARCHAR) || '|'
                    || CAST(n_components AS VARCHAR) || '|'
                    || CAST(part_checksum AS VARCHAR) || '|'
                    || CAST(comp_checksum AS VARCHAR)) AS BIGINT)
             AS n_variants,
           CAST(MAX(n_parts) AS BIGINT) AS parts_per_copy,
           CAST(MAX(n_components) AS BIGINT) AS components_per_copy,
           CAST(MAX(part_checksum) AS BIGINT) AS part_checksum,
           CAST(MAX(comp_checksum) AS BIGINT) AS comp_checksum
    FROM per
    """,
)
def scale10_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components at 10x — the decade fold for the ITERATIVE
    operator family (dedup.connected_components: per-round edge join +
    grouped MIN, per-round lineage truncation, 1-row convergence probe).
    Ten disjoint replicas of the co-purchase graph (``_copurchase_edges``
    with a copy_id key, the g* edge build) live in ONE edge list via
    offset node ids (node' = copy_id * 2^32 + node), so a
    single operator invocation carries all ten through every min-label
    round — the convergence loop must terminate simultaneously and
    produce shifted-identical labels on every replica. Per-copy fold on
    pure integers (node count, component count, node/component
    checksums mod 2^32) asserts all 10 agree. This certifies at 10x
    state exactly what a 1000-executor run needs from the iterative
    engine: rounds scale with graph diameter, not replica count, and
    labels are placement-independent."""
    from big_data_analysis_for_stock_market_data_spark.operators.dedup import (
        connected_components,
    )

    off = F.lit(1 << 32).cast("long")
    li = load(spark, sf_dir, "lineitem")
    eo = _copurchase_edges(
        li.select("l_orderkey", "l_partkey").withColumn(
            "copy_id", F.explode(F.sequence(F.lit(0), F.lit(9)))
        )
    ).select(
        (F.col("copy_id").cast("long") * off + F.col("u")).alias("u"),
        (F.col("copy_id").cast("long") * off + F.col("v")).alias("v"),
    )
    cc = connected_components(eo, id_a="u", id_b="v", max_iter=50)
    per = (
        cc.select(
            # integer DIV, not float '/': at copy*2^32 magnitudes a
            # double quotient could land one ulp under the integer
            F.expr("doc_id DIV 4294967296").alias("copy_id"),
            (F.col("doc_id") % off).alias("node"),
            (F.col("component") % off).alias("base_component"),
        )
        .groupBy("copy_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("base_component").alias("n_components"),
            F.sum("node").alias("part_checksum"),
            F.sum("base_component").alias("comp_checksum"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(
            "n_parts", "n_components", "part_checksum", "comp_checksum"
        ).alias("n_variants"),
        F.max("n_parts").alias("parts_per_copy"),
        F.max("n_components").alias("components_per_copy"),
        F.max("part_checksum").alias("part_checksum"),
        F.max("comp_checksum").alias("comp_checksum"),
    )


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)
