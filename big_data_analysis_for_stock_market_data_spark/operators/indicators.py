"""Technical-indicator library (SURVEY.md §7 step 3).

The reference *consumed* 54 precomputed indicator columns from its CSV
(schema ``G_2_data_exploration.ipynb cell 9``; consumed opaquely at
``G_2_rf_pca.py:73``) and recomputed only simple arithmetic combinations of
them in RDD maps (``G_2_rf_nordd_fe.py:92-313``). Computing the indicators
natively is the engine's real time-series capability.

Two execution classes, chosen per indicator:

1. **Closed-form** (SMA, TRIMA, Bollinger, MOM, ROC, WILLR, stochastics,
   TYPPRICE, Trange, simple ATR, CCI): pure window expressions over
   ``Window.partitionBy(symbol).orderBy(date).rowsBetween(-(n-1), 0)`` —
   JVM-side, whole-stage-codegen'd, one shuffle on the partition key shared
   by every indicator in the projection.

2. **Recursive** (EMA and everything seeded from it: MACD, APO, PPO, KAMA,
   Wilder RSI, Wilder ATR, ADX): the recurrence ``y_t = f(y_{t-1}, x_t)``
   has no fixed-frame window form, so these run as one ``mapInPandas``
   call per key-sorted partition that folds each symbol's rows in turn
   (``_recursive_apply``) — Arrow-vectorized, partition-local sequential
   scans (pandas ``ewm`` / numpy loops), the engine's sanctioned stateful
   escape hatch. Scale contract: ONE SYMBOL's history must fit in one
   executor's memory (minute bars ≈ 4 M rows/decade ≈ tens of MB — holds at
   100 TB total across many symbols, where the data is wide, not deep).

Every function takes (df, n, partition_by, order_by, col...) and returns
df + new columns, so indicators compose into a single projection.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _frame(partition_by: str | Sequence[str], order_by: str, n: int) -> WindowSpec:
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    return (
        Window.partitionBy(*partition_by)
        .orderBy(order_by)
        .rowsBetween(-(n - 1), 0)
    )


def _ordered(partition_by: str | Sequence[str], order_by: str) -> WindowSpec:
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    return Window.partitionBy(*partition_by).orderBy(order_by)


# ---------------------------------------------------------------------------
# Closed-form indicators (native window expressions)
# ---------------------------------------------------------------------------

def sma(df: DataFrame, n: int, partition_by="symbol", order_by="date",
        col="close", out: str | None = None) -> DataFrame:
    """Simple moving average over the trailing ``n`` rows."""
    return df.withColumn(
        out or f"sma{n}", F.avg(col).over(_frame(partition_by, order_by, n))
    )


def trima(df: DataFrame, n: int, partition_by="symbol", order_by="date",
          col="close", out: str | None = None) -> DataFrame:
    """Triangular MA: SMA of SMA with split windows (n1 = ceil((n+1)/2),
    n2 = floor(n/2)+1)."""
    n1 = (n + 1) // 2 + ((n + 1) % 2)
    n2 = n // 2 + 1
    tmp = f"__trima_sma_{n}"
    d = df.withColumn(tmp, F.avg(col).over(_frame(partition_by, order_by, n1)))
    d = d.withColumn(
        out or f"trima{n}", F.avg(tmp).over(_frame(partition_by, order_by, n2))
    )
    return d.drop(tmp)


def momentum(df: DataFrame, n: int, partition_by="symbol", order_by="date",
             col="close", out: str | None = None) -> DataFrame:
    """MOMn = close - close_{t-n}."""
    w = _ordered(partition_by, order_by)
    return df.withColumn(
        out or f"mom{n}", F.col(col) - F.lag(col, n).over(w)
    )


def roc(df: DataFrame, n: int, partition_by="symbol", order_by="date",
        col="close", out: str | None = None) -> DataFrame:
    """Rate of change: 100 * (close - close_{t-n}) / close_{t-n}."""
    w = _ordered(partition_by, order_by)
    prev = F.lag(col, n).over(w)
    return df.withColumn(
        out or f"roc{n}", F.try_divide(100.0 * (F.col(col) - prev), prev)
    )


def bollinger(df: DataFrame, n: int = 20, k: float = 2.0,
              partition_by="symbol", order_by="date", col="close",
              prefix: str = "") -> DataFrame:
    """Bollinger bands: middle = SMA_n, upper/lower = middle ± k·stddev_n,
    plus the reference's derived width (upper-lower)/middle
    (``G_2_rf_nordd_fe.py:113-117``)."""
    fr = _frame(partition_by, order_by, n)
    mid = F.avg(col).over(fr)
    sd = F.stddev_samp(col).over(fr)
    p = prefix
    return (
        df.withColumn(f"{p}middleband", mid)
        .withColumn(f"{p}upperband", mid + k * sd)
        .withColumn(f"{p}lowerband", mid - k * sd)
        .withColumn(
            f"{p}bollinger_bands_width",
            F.try_divide(
                F.col(f"{p}upperband") - F.col(f"{p}lowerband"),
                F.col(f"{p}middleband"),
            ),
        )
    )


def rolling_beta(
    df: DataFrame,
    n: int = 20,
    value_col: str = "close",
    market_col: str = "market",
    partition_by="symbol",
    order_by="date",
    out: str | None = None,
) -> DataFrame:
    """Rolling beta of ``value_col`` against ``market_col`` over the
    trailing ``n`` rows: cov(v, m) / var(m) — the BETA column family of the
    reference dataset (FIXTURES.md §A; TA-Lib precomputed it upstream, the
    engine computes it first-class).

    Engine-exact by construction: ``beta = (c·Σvm − Σv·Σm) /
    (c·Σm² − Σm·Σm)`` with EVERY term exact decimal — inputs rounded once
    to scale 6, products/sums/differences exact, so the
    cancellation-prone numerator and denominator are computed without any
    float error (the naive ``Σvm − Σv·Σm/c`` double form amplifies 1-ulp
    input drift arbitrarily when frame variance is small). One rounding to
    scale 8 on each side, then a single double division — every rounding
    step has identical semantics in Spark and any ANSI engine, so an SQL
    twin is bit-identical. One window, no extra shuffle beyond the
    (partition, order) the indicator family already uses.

    Cross-engine caveat on the INPUT quantization: the double→
    DECIMAL(12,6) cast rounds differently across engines when a value
    sits within an ulp of a ``.xxxxxx5`` decimal boundary (Spark rounds
    the shortest decimal repr HALF_UP; DuckDB rounds the exact binary
    value). Raw data columns with ≤6 decimal digits are exact and safe;
    COMPUTED inputs (means, ratios) must be pre-rounded in integer
    space — ``round(x * 1e6) / 1e6``, whose half-boundary is binary-
    exact so every engine agrees — before calling (see the
    ``ind_rolling_beta`` entry, which hit exactly this at sf0.001).
    """
    fr = _frame(partition_by, order_by, n)
    v6 = F.col(value_col).cast("decimal(12,6)")
    m6 = F.col(market_col).cast("decimal(12,6)")
    # exact products decimal(25,12); exact sums, tightened so the later
    # multiplies stay inside precision 38 in both engines
    p_vm = F.sum(v6 * m6).over(fr).cast("decimal(26,12)")
    p_mm = F.sum(m6 * m6).over(fr).cast("decimal(26,12)")
    sv = F.sum(v6).over(fr).cast("decimal(16,6)")
    sm = F.sum(m6).over(fr).cast("decimal(16,6)")
    c = F.count(market_col).over(fr).cast("decimal(4,0)")
    num = (c * p_vm) - (sv * sm)   # decimal(34,12), exact
    den = (c * p_mm) - (sm * sm)
    # one deterministic rounding (scale 8: integer part fits a 53-bit
    # mantissa, so decimal->double conversion agrees everywhere)
    numd = num.cast("decimal(30,8)").cast("double")
    dend = den.cast("decimal(30,8)").cast("double")
    return df.withColumn(
        out or f"beta{n}", F.try_divide(numd, F.nullif(dend, F.lit(0.0)))
    )


def typprice(df: DataFrame, out: str = "typprice") -> DataFrame:
    """Typical price (H+L+C)/3 — per-row arithmetic."""
    return df.withColumn(
        out, (F.col("high") + F.col("low") + F.col("close")) / 3.0
    )


def willr(df: DataFrame, n: int = 14, partition_by="symbol", order_by="date",
          out: str = "willr") -> DataFrame:
    """Williams %R = -100 * (HH_n - close) / (HH_n - LL_n)."""
    fr = _frame(partition_by, order_by, n)
    hh = F.max("high").over(fr)
    ll = F.min("low").over(fr)
    return df.withColumn(out, F.try_divide(-100.0 * (hh - F.col("close")), hh - ll))


def stochastic(df: DataFrame, n: int = 14, d_n: int = 3,
               partition_by="symbol", order_by="date",
               prefix: str = "") -> DataFrame:
    """Stochastic oscillator: fastk = 100·(close-LL)/(HH-LL); fastd =
    SMA_{d_n}(fastk) (≡ slowk at default periods); slowd = SMA_{d_n}(slowk)."""
    fr = _frame(partition_by, order_by, n)
    hh = F.max("high").over(fr)
    ll = F.min("low").over(fr)
    p = prefix
    d = df.withColumn(f"{p}fastk", F.try_divide(100.0 * (F.col("close") - ll), hh - ll))
    d = d.withColumn(
        f"{p}fastd", F.avg(f"{p}fastk").over(_frame(partition_by, order_by, d_n))
    )
    d = d.withColumn(f"{p}slowk", F.col(f"{p}fastd"))
    d = d.withColumn(
        f"{p}slowd", F.avg(f"{p}slowk").over(_frame(partition_by, order_by, d_n))
    )
    return d


def true_range(df: DataFrame, partition_by="symbol", order_by="date",
               out: str = "trange") -> DataFrame:
    """True range = max(H-L, |H-prevC|, |L-prevC|)."""
    w = _ordered(partition_by, order_by)
    prev_c = F.lag("close", 1).over(w)
    return df.withColumn(
        out,
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_c),
            F.abs(F.col("low") - prev_c),
        ),
    )


def atr_sma(df: DataFrame, n: int = 14, partition_by="symbol",
            order_by="date", out: str = "atr") -> DataFrame:
    """SMA-smoothed ATR (closed-form). Wilder's recursive smoothing lives in
    ``wilder_indicators`` (the recursive fold)."""
    tmp = "__tr_for_atr"
    d = true_range(df, partition_by, order_by, out=tmp)
    d = d.withColumn(out, F.avg(tmp).over(_frame(partition_by, order_by, n)))
    return d.drop(tmp)


def cci(df: DataFrame, n: int = 20, partition_by="symbol", order_by="date",
        out: str | None = None) -> DataFrame:
    """Commodity Channel Index: (TP - SMA_n(TP)) / (0.015 · meandev_n) where
    meandev is the mean |TP_i - SMA_current| over the window. The nested
    dependence on the *current* window's SMA is expressed JVM-side with
    ``collect_list`` over the frame + a higher-order ``aggregate`` — no
    Python, no extra shuffle."""
    fr = _frame(partition_by, order_by, n)
    tmp_tp = "__cci_tp"
    d = df.withColumn(tmp_tp, (F.col("high") + F.col("low") + F.col("close")) / 3.0)
    sma_tp = F.avg(tmp_tp).over(fr)
    arr = F.collect_list(tmp_tp).over(fr)
    mean_dev = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + F.abs(x - sma_tp)
    ) / F.size(arr)
    d = d.withColumn(
        out or f"cci{n}",
        F.try_divide(F.col(tmp_tp) - sma_tp, 0.015 * mean_dev),
    )
    return d.drop(tmp_tp)


def mfi(df: DataFrame, n: int = 14, partition_by="symbol", order_by="date",
        high="high", low="low", close="close", volume="volume",
        out: str | None = None) -> DataFrame:
    """Money Flow Index: volume-weighted RSI analogue. Raw money flow =
    typical_price · volume, split into positive/negative by tp direction;
    MFI = 100 - 100/(1 + Σpos/Σneg) over the trailing n rows. All
    closed-form window sums. Σneg=0 ⇒ 100 (all-positive flow), both zero ⇒
    null (flat warm-up)."""
    w = _ordered(partition_by, order_by)
    fr = _frame(partition_by, order_by, n)
    tp = (F.col(high) + F.col(low) + F.col(close)) / 3.0
    tmp_tp, tmp_pos, tmp_neg = "__mfi_tp", "__mfi_pos", "__mfi_neg"
    d = df.withColumn(tmp_tp, tp)
    prev_tp = F.lag(tmp_tp, 1).over(w)
    mf = F.col(tmp_tp) * F.col(volume)
    d = d.withColumn(tmp_pos, F.when(F.col(tmp_tp) > prev_tp, mf).otherwise(0.0))
    d = d.withColumn(tmp_neg, F.when(F.col(tmp_tp) < prev_tp, mf).otherwise(0.0))
    pos_sum = F.sum(F.col(tmp_pos).cast("decimal(28,8)")).over(fr).cast("double")
    neg_sum = F.sum(F.col(tmp_neg).cast("decimal(28,8)")).over(fr).cast("double")
    out_col = out or f"mfi{n}"
    d = d.withColumn(
        out_col,
        F.when((pos_sum > 0) & (neg_sum == 0), F.lit(100.0)).otherwise(
            100.0 - 100.0 / (1.0 + F.try_divide(pos_sum, neg_sum))
        ),
    )
    return d.drop(tmp_tp, tmp_pos, tmp_neg)


def ultosc(df: DataFrame, n1: int = 7, n2: int = 14, n3: int = 28,
           partition_by="symbol", order_by="date",
           high="high", low="low", close="close",
           out: str = "ultosc") -> DataFrame:
    """Ultimate Oscillator: 100·(4·A_{n1}+2·A_{n2}+A_{n3})/7 where
    A_n = Σ(buying pressure)/Σ(true range) over n rows, BP = close -
    min(low, prev_close), TR = max(high, prev_close) - min(low, prev_close).
    Three shared closed-form frames, one window shuffle."""
    w = _ordered(partition_by, order_by)
    prev_c = F.lag(close, 1).over(w)
    tmp_bp, tmp_tr = "__uo_bp", "__uo_tr"
    d = df.withColumn(tmp_bp, F.col(close) - F.least(F.col(low), prev_c))
    d = d.withColumn(
        tmp_tr, F.greatest(F.col(high), prev_c) - F.least(F.col(low), prev_c)
    )

    def avg_n(n: int):
        fr = _frame(partition_by, order_by, n)
        bp = F.sum(F.col(tmp_bp).cast("decimal(28,8)")).over(fr).cast("double")
        tr = F.sum(F.col(tmp_tr).cast("decimal(28,8)")).over(fr).cast("double")
        return F.try_divide(bp, tr)

    d = d.withColumn(
        out,
        100.0 * (4.0 * avg_n(n1) + 2.0 * avg_n(n2) + avg_n(n3)) / 7.0,
    )
    return d.drop(tmp_bp, tmp_tr)


# ---------------------------------------------------------------------------
# Recursive indicators (one mapInPandas call per key-sorted partition)
# ---------------------------------------------------------------------------

def _recursive_apply(
    df: DataFrame,
    partition_by: str | Sequence[str],
    order_by: str,
    new_cols: dict[str, T.DataType],
    fn,
) -> DataFrame:
    """Shared fold scaffold: hash-partition on the keys, sort each
    partition by (keys, ``order_by``), and cross into Python once per
    partition (``mapInPandas``); ``_fold_key_segments`` calls the per-key
    ``fn`` on each key's contiguous, ``order_by``-sorted rows. Schema =
    input + new columns.

    ``fn`` sees exactly the frame a per-key ``groupBy().applyInPandas``
    would hand it after a stable sort on ``order_by`` (NULLs last), so the
    results are bit-identical to the per-key fold, without a Spark-built
    pandas frame and a Python call per group. NULL keys form one
    segment, as in ``groupBy``. Memory is one Arrow batch plus the open
    key's rows.

    The pre-shuffle asks for an explicit partition count
    (REPARTITION_BY_NUM), which AQE does not coalesce. The count holds
    only when this exchange is planned: when the input already comes
    hash-partitioned by the same keys, ``EnsureRequirements`` removes it,
    and the upstream exchange is coalesced by bytes as usual. Under
    ``stock.feature_frame`` the day-grain windows' exchange already gives
    ``hashpartitioning(symbol, n)``; AQE coalesces it, so the fold runs
    in one Python task at 10,000 bars (4 symbols) and in two at 100,000."""
    keys = _as_seq(partition_by)
    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        shuffle_partitions,
    )

    n = shuffle_partitions(df)
    df = df.repartition(n, *[F.col(c) for c in keys])
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(c, t, True) for c, t in new_cols.items()]
    )

    def runner(batches):
        return _fold_key_segments(batches, keys, order_by, fn)

    # plain ascending order (NULLs first): a window over the same keys
    # already delivers it, and Spark then drops this sort
    return df.sortWithinPartitions(*keys, order_by).mapInPandas(
        runner, schema=out_schema
    )


def _key_changes(cur: pd.DataFrame, prev: pd.DataFrame):
    """Row-wise: does ``cur``'s key differ from ``prev``'s (equal-length
    key frames)? NULL equals NULL, as in ``groupBy``."""
    import numpy as np

    out = np.zeros(len(cur), dtype=bool)
    for c in cur.columns:
        a, b = cur[c].to_numpy(), prev[c].to_numpy()
        na_a, na_b = pd.isna(a), pd.isna(b)
        out |= (na_a != na_b) | (~na_a & ~na_b & (a != b))
    return out


def _fold_key_segments(batches, keys: Sequence[str], order_by: str, fn):
    """Stream ``fn`` over the key segments of (keys, ``order_by``)-sorted
    pandas batches: one output frame per input batch that closes a key.
    A key may span batches; its rows are held until the next key starts
    (or the input ends), so memory is one batch plus the open key."""
    import numpy as np

    open_rows: list[pd.DataFrame] = []
    open_key = None

    def close():
        seg = open_rows[0] if len(open_rows) == 1 else pd.concat(open_rows)
        if pd.isna(seg[order_by].iloc[0]):
            # Spark sorted NULL order values first; the per-key
            # contract (a stable pandas sort) puts them last
            n_null = int(seg[order_by].isna().sum())
            seg = pd.concat([seg.iloc[n_null:], seg.iloc[:n_null]])
        return fn(seg.reset_index(drop=True))

    for batch in batches:
        if batch.empty:
            continue
        k = batch[keys]
        starts = np.flatnonzero(_key_changes(k.iloc[1:], k.iloc[:-1])) + 1
        edges = [*starts.tolist(), len(batch)]
        if open_key is None or _key_changes(k.iloc[:1], open_key)[0]:
            edges.insert(0, 0)
        else:
            open_rows.append(batch.iloc[: edges[0]])
        outs = []
        for lo, hi in zip(edges[:-1], edges[1:]):
            if open_rows:
                outs.append(close())
            open_rows = [batch.iloc[lo:hi]]
        open_key = k.iloc[-1:]
        if outs:
            yield pd.concat(outs, ignore_index=True)
    if open_rows:
        yield close()


def ema(df: DataFrame, spans: Iterable[int], partition_by="symbol",
        order_by="date", col="close") -> DataFrame:
    """Exponential MA for each span n (alpha = 2/(n+1)), seeded from the
    first value (pandas ``ewm(adjust=False)`` semantics)."""
    spans = list(spans)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        for n in spans:
            pdf[f"ema{n}"] = (
                pdf[col].ewm(span=n, adjust=False).mean()
            )
        return pdf

    return _recursive_apply(
        df, partition_by, order_by,
        {f"ema{n}": T.DoubleType() for n in spans}, fn,
    )


def holt_linear(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    partition_by="symbol",
    order_by="date",
    col="close",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing — the TWO-state
    recurrence (level, trend) the single-state EMA family can't express:

        l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = be*(l_t - l_{t-1}) + (1-be)*b_{t-1}

    seeded l_1 = y_1, b_1 = 0. Adds ``holt_level``, ``holt_trend`` and
    the one-step-ahead forecast ``holt_fc1`` = l_t + b_t. The fold
    evaluates ``a*y + oma*(l + b)`` and ``be*(l' - l) + omb*b`` with
    oma = 1-a, omb = 1-be computed once — mirror the same expression
    order in any recursive-CTE twin for bit-exact comparison (the
    ind_parabolic_sar pattern). Runs on the per-partition fold
    (``_recursive_apply``), the one engine for recursive indicators."""
    oma = 1.0 - alpha
    omb = 1.0 - beta

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf[col].astype("float64").to_list()
        n = len(y)
        lev = [0.0] * n
        tr = [0.0] * n
        if n:
            lev[0], tr[0] = y[0], 0.0
            l_prev, b_prev = y[0], 0.0
            for i in range(1, n):
                l_new = alpha * y[i] + oma * (l_prev + b_prev)
                b_new = beta * (l_new - l_prev) + omb * b_prev
                lev[i], tr[i] = l_new, b_new
                l_prev, b_prev = l_new, b_new
        pdf["holt_level"] = lev
        pdf["holt_trend"] = tr
        pdf["holt_fc1"] = [a + b for a, b in zip(lev, tr)]
        return pdf

    return _recursive_apply(
        df, partition_by, order_by,
        {
            "holt_level": T.DoubleType(),
            "holt_trend": T.DoubleType(),
            "holt_fc1": T.DoubleType(),
        },
        fn,
    )


def rsi(df: DataFrame, n: int = 14, partition_by="symbol", order_by="date",
        col="close", out: str | None = None) -> DataFrame:
    """Wilder RSI: 100 - 100/(1+RS), RS = Wilder-EMA(gains)/Wilder-EMA(losses)
    with alpha = 1/n."""
    out_col = out or f"rsi{n}"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        delta = pdf[col].diff()
        gain = delta.clip(lower=0.0)
        loss = (-delta).clip(lower=0.0)
        avg_gain = gain.ewm(alpha=1.0 / n, adjust=False).mean()
        avg_loss = loss.ewm(alpha=1.0 / n, adjust=False).mean()
        rs = avg_gain / avg_loss
        pdf[out_col] = 100.0 - 100.0 / (1.0 + rs)
        return pdf

    return _recursive_apply(df, partition_by, order_by, {out_col: T.DoubleType()}, fn)


def _seq_rolling_sum(a, n: int):
    """Fresh left-to-right sum of each trailing ``n``-window
    (min_periods=1 semantics). Each window re-sums its elements in index
    order, so the float result is a pure function of the window contents —
    unlike pandas' compensated sliding sum, whose last-ulp output depends
    on the internal add/remove history. This is exactly what an
    order-preserving SQL evaluation (``list_sum(list(x) OVER ...)``)
    computes, which keeps the recursive-indicator oracle bit-exact."""
    import numpy as np

    m = len(a)
    out = np.empty(m)
    if m == 0:
        return out
    head = min(n, m)
    out[:head] = np.cumsum(a[:head])  # cumsum is sequential in-order
    if m >= n:
        w = np.lib.stride_tricks.sliding_window_view(a, n)
        acc = w[:, 0].copy()
        for j in range(1, n):
            acc = acc + w[:, j]
        out[n - 1:] = acc
    return out


def sar(df: DataFrame, partition_by="symbol", order_by="date", col="close",
        af0: float = 0.02, af_max: float = 0.2,
        out: str = "sar") -> DataFrame:
    """Parabolic SAR (Wilder), single-series variant: the trailing
    stop-and-reverse recurrence over one price column (the reference
    dataset's SAR column, FIXTURES.md §A; TA-Lib precomputed it upstream).

    State (sar, ep, af, trend) seeds at (x0, x0, af0, up); each step forms
    the tentative ``sar + af·(ep − sar)``, reverses when price crosses it
    (sar := prior extreme, ep := price, af := af0), otherwise ratchets the
    extreme point and accelerates ``af`` by ``af0`` up to ``af_max``.
    Branching recurrence → the per-partition fold (the recursive family's
    sanctioned escape hatch); every float op is written in the exact order
    an ANSI recursive-CTE twin evaluates, so the oracle is bit-identical.
    """
    import numpy as np

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[col].to_numpy(dtype="float64")
        m = len(x)
        s = np.empty(m)
        if m:
            cur, ep, af, up = x[0], x[0], af0, True
            s[0] = cur
            for i in range(1, m):
                t = cur + af * (ep - cur)
                if up:
                    if x[i] < t:
                        up, cur, ep, af = False, ep, x[i], af0
                    else:
                        cur = t
                        if x[i] > ep:
                            ep = x[i]
                            af = min(af + af0, af_max)
                else:
                    if x[i] > t:
                        up, cur, ep, af = True, ep, x[i], af0
                    else:
                        cur = t
                        if x[i] < ep:
                            ep = x[i]
                            af = min(af + af0, af_max)
                s[i] = cur
        pdf[out] = s
        return pdf

    return _recursive_apply(df, partition_by, order_by, {out: T.DoubleType()}, fn)


def adx(df: DataFrame, n: int = 14, partition_by="symbol", order_by="date",
        out: str | None = None) -> DataFrame:
    """Average Directional Index (Wilder): smoothed +DM/-DM over smoothed TR
    → DX → Wilder-EMA(DX)."""
    out_col = out or f"adx{n}"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        high, low, close = pdf["high"], pdf["low"], pdf["close"]
        up = high.diff()
        down = -low.diff()
        plus_dm = ((up > down) & (up > 0)) * up
        minus_dm = ((down > up) & (down > 0)) * down
        prev_close = close.shift()
        tr = pd.concat(
            [high - low, (high - prev_close).abs(), (low - prev_close).abs()],
            axis=1,
        ).max(axis=1)
        alpha = 1.0 / n
        atr_s = tr.ewm(alpha=alpha, adjust=False).mean()
        plus_di = 100.0 * plus_dm.ewm(alpha=alpha, adjust=False).mean() / atr_s
        minus_di = 100.0 * minus_dm.ewm(alpha=alpha, adjust=False).mean() / atr_s
        dx = 100.0 * (plus_di - minus_di).abs() / (plus_di + minus_di)
        pdf[out_col] = dx.ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return _recursive_apply(df, partition_by, order_by, {out_col: T.DoubleType()}, fn)


def _cci_pandas_block(pdf: pd.DataFrame, ns: Sequence[int], col: str):
    """Vectorized CCI over a timestamp-sorted pandas frame (the CCI part
    of ``recursive_enrich``'s per-key ``fn``)."""
    import numpy as np

    for n in ns:
        tp = ((pdf["high"] + pdf["low"] + pdf[col]) / 3.0).to_numpy(
            dtype="float64"
        )
        m = len(tp)
        out = np.full(m, np.nan)
        # head rows have expanding windows (mirrors the SQL frame
        # rowsBetween(-(n-1), 0)); only n-1 of them — loop is fine
        for start in range(min(n - 1, m)):
            w_ = tp[: start + 1]
            sma_w = w_.mean()
            md = np.abs(w_ - sma_w).mean()
            out[start] = (
                (tp[start] - sma_w) / (0.015 * md) if md > 0 else np.nan
            )
        if m >= n:
            # Block-chunked contiguous windows (r11, guide §4.2): one
            # full-length (m, n) strided temporary made the md step pay a
            # multi-second first-touch allocation stall per fresh worker
            # (measured 2.3 s cold vs 0.1 s here at 168k rows; the
            # recursive Python pass read 16 s run-1 vs 5 s run-2
            # from exactly this). Per-row reductions are unchanged, so
            # the chunking is bit-identical to the whole-array form
            # (asserted over n∈{2..40} × m∈{40..168k}).
            m2 = m - n + 1
            sma_w = np.empty(m2)
            md = np.empty(m2)
            block = 65536
            for lo in range(0, m2, block):
                hi = min(lo + block, m2)
                w_blk = np.ascontiguousarray(
                    np.lib.stride_tricks.sliding_window_view(
                        tp[lo:hi + n - 1], n
                    )
                )
                s_blk = w_blk.mean(axis=1)
                sma_w[lo:hi] = s_blk
                md[lo:hi] = np.abs(w_blk - s_blk[:, None]).mean(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                vals = (tp[n - 1:] - sma_w) / (0.015 * md)
            vals[md == 0] = np.nan
            out[n - 1:] = vals
        pdf[f"cci{n}"] = out
    return pdf


def recursive_enrich(
    df: DataFrame,
    partition_by="symbol",
    order_by="date",
    col="close",
    ema_spans: Sequence[int] = (5, 10, 15, 20),
    macd_pairs: Sequence[tuple[int, int]] = ((12, 26),),
    rsi_ns: Sequence[int] = (14,),
    kama_ns: Sequence[int] = (10,),
    adx_ns: Sequence[int] = (14,),
    apo_pairs: Sequence[tuple[int, int]] = (),
    ppo_pairs: Sequence[tuple[int, int]] = (),
    cci_ns: Sequence[int] = (),
    closed_form: bool = False,
) -> DataFrame:
    """ALL recursive indicators in ONE Python pass — one shuffle on
    the symbol key instead of one per indicator family. This is the form
    ``enrich_ohlcv`` uses; the standalone functions above exist for à-la-
    carte use and for testing each recurrence in isolation.

    APO_{a,b} = EMA_a - EMA_b (absolute price oscillator; MACD with
    arbitrary spans); PPO_{a,b} = 100·(EMA_a - EMA_b)/EMA_b (the percentage
    form) — both ride the shared EMA cache.

    CCI rides along here too (``cci_ns``) even though it is not recursive:
    its nested mean-|deviation-from-current-window-SMA| makes the
    expression form (collect_list per frame) ~10x costlier than a numpy
    sliding-window pass — measured 17s vs <1s at 671k rows. The standalone
    ``cci()`` expression form remains for à-la-carte use.

    ``closed_form=True`` adds the closed-form block (``CLOSED_FORM_COLS``
    via ``_closed_form_pandas``; needs high/low/volume) to the same pass,
    so a caller wanting both families crosses into Python once instead of
    shuffling, sorting and shipping the frame twice. The block sees the
    whole sorted series, so its rolling sums do not depend on the
    partition count.

    Each key's series is folded in one pandas call, in ``order_by``
    order, so the results are bit-identical to the per-key recursive-CTE
    oracles; parallelism is min(|keys|, partitions), so one key's series
    runs in one Python task however deep it is."""
    import numpy as np

    new_cols: dict[str, T.DataType] = {}
    if closed_form:
        for c in CLOSED_FORM_COLS:
            new_cols[c] = T.DoubleType()
    for n in ema_spans:
        new_cols[f"ema{n}"] = T.DoubleType()
    for a, b in macd_pairs:
        new_cols[f"macd{a}{b}"] = T.DoubleType()
    for a, b in apo_pairs:
        new_cols[f"apo{a}{b}"] = T.DoubleType()
    for a, b in ppo_pairs:
        new_cols[f"ppo{a}{b}"] = T.DoubleType()
    for n in rsi_ns:
        new_cols[f"rsi{n}"] = T.DoubleType()
    for n in kama_ns:
        new_cols[f"kama{n}"] = T.DoubleType()
    for n in adx_ns:
        new_cols[f"adx{n}"] = T.DoubleType()
    has_ohlc = all(c in df.columns for c in ("high", "low"))
    if has_ohlc:
        for n in cci_ns:
            new_cols[f"cci{n}"] = T.DoubleType()
    if not has_ohlc:
        for n in adx_ns:
            new_cols.pop(f"adx{n}", None)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if closed_form:
            pdf = _closed_form_pandas(pdf)
        x = pdf[col]
        emas: dict[int, pd.Series] = {}

        def get_ema(n: int) -> pd.Series:
            if n not in emas:
                emas[n] = x.ewm(span=n, adjust=False).mean()
            return emas[n]

        for n in ema_spans:
            pdf[f"ema{n}"] = get_ema(n)
        for a, b in macd_pairs:
            pdf[f"macd{a}{b}"] = get_ema(a) - get_ema(b)
        for a, b in apo_pairs:
            pdf[f"apo{a}{b}"] = get_ema(a) - get_ema(b)
        for a, b in ppo_pairs:
            pdf[f"ppo{a}{b}"] = 100.0 * (get_ema(a) - get_ema(b)) / get_ema(b)
        for n in rsi_ns:
            delta = x.diff()
            avg_gain = delta.clip(lower=0.0).ewm(alpha=1 / n, adjust=False).mean()
            avg_loss = (-delta).clip(lower=0.0).ewm(alpha=1 / n, adjust=False).mean()
            pdf[f"rsi{n}"] = 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
        for n in kama_ns:
            arr = x.to_numpy(dtype="float64")
            m = len(arr)
            change = np.abs(arr - np.roll(arr, n))
            vol = _seq_rolling_sum(
                np.abs(np.diff(arr, prepend=arr[0] if m else 0.0)), n
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                er = np.where(vol > 0, change / vol, 0.0)
            er[:n] = 0.0
            sc = (er * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0) ** 2
            y = np.empty(m)
            if m:
                y[0] = arr[0]
                for i in range(1, m):
                    y[i] = y[i - 1] + sc[i] * (arr[i] - y[i - 1])
            pdf[f"kama{n}"] = y
        if has_ohlc:
            pdf = _cci_pandas_block(pdf, cci_ns, col)
            for n in adx_ns:
                high, low = pdf["high"], pdf["low"]
                up, down = high.diff(), -low.diff()
                plus_dm = ((up > down) & (up > 0)) * up
                minus_dm = ((down > up) & (down > 0)) * down
                prev_close = x.shift()
                tr = pd.concat(
                    [high - low, (high - prev_close).abs(),
                     (low - prev_close).abs()], axis=1,
                ).max(axis=1)
                atr_s = tr.ewm(alpha=1 / n, adjust=False).mean()
                plus_di = 100.0 * plus_dm.ewm(alpha=1 / n, adjust=False).mean() / atr_s
                minus_di = 100.0 * minus_dm.ewm(alpha=1 / n, adjust=False).mean() / atr_s
                dx = 100.0 * (plus_di - minus_di).abs() / (plus_di + minus_di)
                pdf[f"adx{n}"] = dx.ewm(alpha=1 / n, adjust=False).mean()
        return pdf

    return _recursive_apply(df, partition_by, order_by, new_cols, fn)


# ---------------------------------------------------------------------------
# Composite enrichment: the reference's full indicator surface in one
# Python pass (closed-form block + recursive family + CCI), instead of
# its 11 sequential compute-aside-join stages (G_2_rf_nordd_fe.py:47-313).
# ---------------------------------------------------------------------------

#: columns produced by the closed-form block (both engines)
CLOSED_FORM_COLS = (
    ["sma5", "sma10", "sma15", "sma20"]
    + ["trima5", "trima10", "trima20", "roc5", "roc10", "roc20"]
    + ["mom10", "mom15", "mom20"]
    + ["middleband", "upperband", "lowerband", "bollinger_bands_width"]
    + ["typprice", "willr", "fastk", "fastd", "slowk", "slowd"]
    + ["trange", "atr", "mfi14", "ultosc"]
)

#: a row's closed-form values depend on at most this many predecessors
#: (ULTOSC: 27 window rows + 1 for prev_close; stoch chains 13+2+2)
CLOSED_FORM_LOOKBACK = 40


def _closed_form_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized twin of the closed-form expression block (same column
    names, same expanding-head semantics: pandas min_periods=1 ==
    rowsBetween(-(n-1), 0); pandas NaN-skipping rolling == Spark
    null-ignoring window aggregates)."""
    import numpy as np

    close, high, low = pdf["close"], pdf["high"], pdf["low"]

    def nan_div(a, b):
        out = a / b
        return out.replace([np.inf, -np.inf], np.nan)

    for n in (5, 10, 15, 20):
        pdf[f"sma{n}"] = close.rolling(n, min_periods=1).mean()
    for n in (5, 10, 20):
        n1 = (n + 1) // 2 + ((n + 1) % 2)
        n2 = n // 2 + 1
        pdf[f"trima{n}"] = (
            close.rolling(n1, min_periods=1).mean().rolling(n2, min_periods=1).mean()
        )
        prev = close.shift(n)
        pdf[f"roc{n}"] = nan_div(100.0 * (close - prev), prev)
    for n in (10, 15, 20):
        pdf[f"mom{n}"] = close - close.shift(n)
    mid = close.rolling(20, min_periods=1).mean()
    sd = close.rolling(20, min_periods=1).std(ddof=1)
    pdf["middleband"] = mid
    pdf["upperband"] = mid + 2.0 * sd
    pdf["lowerband"] = mid - 2.0 * sd
    pdf["bollinger_bands_width"] = nan_div(
        pdf["upperband"] - pdf["lowerband"], mid
    )
    pdf["typprice"] = (high + low + close) / 3.0
    hh = high.rolling(14, min_periods=1).max()
    ll = low.rolling(14, min_periods=1).min()
    pdf["willr"] = nan_div(-100.0 * (hh - close), hh - ll)
    pdf["fastk"] = nan_div(100.0 * (close - ll), hh - ll)
    pdf["fastd"] = pdf["fastk"].rolling(3, min_periods=1).mean()
    pdf["slowk"] = pdf["fastd"]
    pdf["slowd"] = pdf["slowk"].rolling(3, min_periods=1).mean()
    prev_c = close.shift()
    pdf["trange"] = pd.concat(
        [high - low, (high - prev_c).abs(), (low - prev_c).abs()], axis=1
    ).max(axis=1)
    pdf["atr"] = pdf["trange"].rolling(14, min_periods=1).mean()
    tp = pdf["typprice"]
    mf = tp * pdf["volume"]
    prev_tp = tp.shift()
    pos = mf.where(tp > prev_tp, 0.0)
    neg = mf.where(tp < prev_tp, 0.0)
    ps = pos.rolling(14, min_periods=1).sum()
    ns_ = neg.rolling(14, min_periods=1).sum()
    mfi_ = 100.0 - 100.0 / (1.0 + nan_div(ps, ns_))
    pdf["mfi14"] = mfi_.mask((ps > 0) & (ns_ == 0), 100.0)
    bp = close - pd.concat([low, prev_c], axis=1).min(axis=1)
    tr = pd.concat([high, prev_c], axis=1).max(axis=1) - pd.concat(
        [low, prev_c], axis=1
    ).min(axis=1)

    def avg_n(n):
        return nan_div(
            bp.rolling(n, min_periods=1).sum(), tr.rolling(n, min_periods=1).sum()
        )

    pdf["ultosc"] = 100.0 * (4.0 * avg_n(7) + 2.0 * avg_n(14) + avg_n(28)) / 7.0
    return pdf


def enrich_ohlcv(
    df: DataFrame,
    partition_by="symbol",
    order_by="date",
    engine: str = "parallel",
) -> DataFrame:
    """Compute the reference schema's indicator families natively from OHLCV.

    engine='parallel' (default): the closed-form block runs as vectorized
    pandas (``_closed_form_pandas``) inside the ``recursive_enrich`` pass
    that also computes the recursive family (EMA/MACD/RSI/KAMA/ADX) and
    CCI — one shuffle and one Python crossing for the whole surface, with
    the block seeing each key's whole sorted series.
    engine='expr': closed-form indicators as JVM window expressions sharing
    one shuffle per partition key, then the ``recursive_enrich`` pass
    without the block — the JVM reference twin the parity tests compare
    against."""
    d = df
    if engine == "expr":
        for n in (5, 10, 15, 20):
            d = sma(d, n, partition_by, order_by)
        for n in (5, 10, 20):
            d = trima(d, n, partition_by, order_by)
            d = roc(d, n, partition_by, order_by)
        for n in (10, 15, 20):
            d = momentum(d, n, partition_by, order_by)
        d = bollinger(d, 20, 2.0, partition_by, order_by)
        d = typprice(d)
        d = willr(d, 14, partition_by, order_by)
        d = stochastic(d, 14, 3, partition_by, order_by)
        d = true_range(d, partition_by, order_by)
        d = atr_sma(d, 14, partition_by, order_by)
        d = mfi(d, 14, partition_by, order_by)
        d = ultosc(d, 7, 14, 28, partition_by, order_by)
    elif engine != "parallel":
        raise ValueError(f"engine must be 'expr' or 'parallel', got {engine!r}")
    # single Python pass for the recursive family + CCI (CCI is
    # closed-form but ~10x cheaper vectorized than as collect_list frames)
    # + the pandas closed-form block under engine='parallel'
    return recursive_enrich(
        d, partition_by, order_by,
        ema_spans=(5, 10, 15, 20),
        macd_pairs=((5, 10), (5, 20), (10, 20), (15, 20), (12, 26)),
        rsi_ns=(8, 14),
        kama_ns=(10, 20, 30),
        adx_ns=(5, 10, 20),
        apo_pairs=((12, 26),),
        ppo_pairs=((12, 26),),
        cci_ns=(5, 10, 15),
        closed_form=engine == "parallel",
    )


# ---------------------------------------------------------------------------
# Volume / path statistics (closed-form window expressions, JVM codegen).
# The reference's indicator CSV carried OBV/volume features it never
# recomputed (G_2_data_exploration.ipynb cell 9 column list); these are the
# native forms.
# ---------------------------------------------------------------------------

def obv(df: DataFrame, partition_by="symbol", order_by="date",
        close="close", volume="volume", out: str = "obv") -> DataFrame:
    """On-Balance Volume: running sum of sign(close_t - close_{t-1}) *
    volume_t per partition. The first row of each partition contributes 0
    (no prior close). Integer volumes make the prefix sum EXACT and
    order-independent across engines; the scan is one ordered window over
    the partition key — no extra shuffle when composed with the other
    indicators."""
    w = _ordered(partition_by, order_by)
    prev = F.lag(close).over(w)
    signed = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col(close) > prev, F.col(volume))
        .when(F.col(close) < prev, -F.col(volume))
        .otherwise(F.lit(0))
    )
    run = Window.partitionBy(*_as_seq(partition_by)).orderBy(order_by).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn(out, F.sum(signed.cast("long")).over(run))


def vwap_grouped(df: DataFrame, group_cols: Sequence[str],
                 price="close", volume="volume",
                 out: str = "vwap") -> DataFrame:
    """Volume-weighted average price per group (e.g. per symbol-day) as a
    WINDOW aggregate, so every row keeps its group's VWAP without a
    join-back. Exact-decimal price*volume products keep the sum
    order-independent; one cast to double at the end."""
    w = Window.partitionBy(*group_cols)
    pv = F.col(price).cast("decimal(18,6)") * F.col(volume).cast("decimal(12,0)")
    return df.withColumn(
        out,
        F.try_divide(
            F.sum(pv).over(w).cast("double"),
            F.nullif(F.sum(F.col(volume).cast("long")).over(w), F.lit(0)).cast(
                "double"
            ),
        ),
    )


def drawdown(df: DataFrame, partition_by="symbol", order_by="date",
             col="close", peak_out: str = "peak",
             dd_out: str = "drawdown") -> DataFrame:
    """Running peak and drawdown fraction ((value - peak) / peak) per
    partition. MAX over an unbounded-preceding frame is exact in floating
    point (no summation), so the result is engine-portable as-is."""
    run = Window.partitionBy(*_as_seq(partition_by)).orderBy(order_by).rowsBetween(
        Window.unboundedPreceding, 0
    )
    peak = F.max(col).over(run)
    return (
        df.withColumn(peak_out, peak)
        .withColumn(dd_out, F.try_divide(F.col(col) - F.col(peak_out),
                                         F.nullif(F.col(peak_out), F.lit(0.0))))
    )


def resample_ohlc(df: DataFrame, partition_by="symbol", order_by="date",
                  bucket: Column | None = None, bucket_name: str = "bucket",
                  price="close", volume="volume") -> DataFrame:
    """Downsample a price series to OHLC candles per (partition, bucket):
    open/close = first/last price by event order (min_by/max_by on the
    order column — no sort, one hash aggregate), high/low = extrema,
    volume = exact integer sum, n_rows = bar count. ``bucket`` defaults to
    the week start of the order column. One shuffle on (partition, bucket);
    partial aggregation is map-side so the shuffle carries one row per
    candle, not per tick — the property that makes this the scale path for
    tick → bar compaction at 100 TB."""
    b = bucket if bucket is not None else F.date_trunc("week", F.col(order_by))
    keys = [*_as_seq(partition_by), b.alias(bucket_name)]
    return df.groupBy(*keys).agg(
        F.min_by(price, order_by).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, order_by).alias("close"),
        F.sum(F.col(volume).cast("long")).alias("volume"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _as_seq(partition_by) -> Sequence[str]:
    return [partition_by] if isinstance(partition_by, str) else list(partition_by)


def rolling_median_band(
    df: DataFrame,
    price: str = "value",
    partition_by: str | Sequence[str] = "user_id",
    order_by: str = "ts",
    n: int = 15,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Rolling-median filter with a robust quantile band (p25/p75) over an
    ``n``-row trailing frame — the outlier-robust alternative to
    SMA/Bollinger (one bad tick shifts a mean by x/n but usually leaves
    the median untouched). Exact linear-interpolation percentiles
    (``percentile``/``quantile_cont`` — index p·(n−1), the definition
    every engine shares), quantized to integer micro-units so the
    interpolated float is hash-portable.

    One partition-keyed window shuffle shared by all three statistics;
    the frame sort is the same one the closed-form indicator family
    already pays (indicators.py design note)."""
    fr = (
        Window.partitionBy(*_as_seq(partition_by))
        .orderBy(order_by)
        .rowsBetween(-(n - 1), 0)
    )

    def q(p: float, alias: str) -> Column:
        return (
            F.round(F.percentile(F.col(price), F.lit(p)).over(fr) * quantize)
            .cast("long")
            .alias(alias)
        )

    return df.select(
        *_as_seq(partition_by), order_by, price,
        q(0.5, "med_micros"), q(0.25, "p25_micros"), q(0.75, "p75_micros"),
    )
