"""Deterministic sampling operators for training-data pipelines.

Spark's built-in samplers (``df.sample``, ``df.sampleBy``, ``randomSplit``)
draw per-row Bernoulli variates from a partition-seeded RNG: the selected
set changes under repartitioning, AQE re-planning, and lineage
recomputation — and no external system can reproduce it. At 100 TB that
means a "sampled" training set that cannot be audited or rebuilt.

Everything here derives selection from a hash of the ROW KEY instead
(``ml.pipeline.split_bucket``'s md5 trick): a pure function of the data,
stable under any physical plan, reproducible byte-for-byte by any engine
with md5 — which is also what makes the registry oracles possible.

Scale notes: each operator is one narrow projection + filter (sampling)
or one window rank per group (top-k) — no extra shuffle beyond what the
semantics require, no driver participation.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
    DEFAULT_SEED,
    split_bucket,
)

BUCKETS = 10_000


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    seed: int = DEFAULT_SEED,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the auditable twin of
    ``df.sampleBy`` (class rebalancing: downsample the majority class,
    keep the rare one). Strata absent from ``fractions`` get
    ``default_fraction``. One projection + filter; the fraction lookup is
    a CASE chain, not a join."""
    b = split_bucket(F.col(key_col), seed, BUCKETS)
    thresh: Column = F.lit(int(default_fraction * BUCKETS))
    for stratum, frac in sorted(fractions.items()):
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {stratum!r} must be in [0, 1]")
        thresh = F.when(
            F.col(strata_col) == stratum, int(frac * BUCKETS)
        ).otherwise(thresh)
    return df.filter(b < thresh)


def topk_per_group(
    df: DataFrame,
    group_cols: str | Sequence[str],
    order_by: Column | Sequence[Column],
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Top-k rows per group by an explicit ordering (quality filtering:
    'keep the k best documents per language'). ``order_by`` must be a
    total order within each group for determinism — pass a tie-breaker
    column (e.g. the row id) as the last sort key. One shuffle on the
    group key; rank is dropped unless ``rank_col`` is named."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    orders = [order_by] if isinstance(order_by, Column) else list(order_by)
    w = Window.partitionBy(*groups).orderBy(*orders)
    out = "__rank" if rank_col is None else rank_col
    ranked = df.withColumn(out, F.row_number().over(w)).filter(
        F.col(out) <= k
    )
    return ranked.drop("__rank") if rank_col is None else ranked


def _md5_uniform(key_col: str, seed: int, salt: str) -> Column:
    """Exact dyadic-rational uniform in (0, 1) from the first 8 md5 hex
    digits of (key:seed:salt) — bit-identical in any engine with md5 and
    IEEE doubles (no RNG, no partition dependence)."""
    h = F.md5(
        F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed)), F.lit(salt))
    )
    word = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    return (word + F.lit(0.5)) / F.lit(4294967296.0)


def weighted_hash_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    weight_col: str,
    seed: int = DEFAULT_SEED,
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis priority sampling): each row draws priority ln(u)/w from its
    md5-uniform u and weight w > 0; the global top-k priorities win, so
    heavier rows win proportionally more often, yet selection is a pure
    function of (keys, weights, seed, k) — auditable and rebuildable,
    unlike ``df.sample``'s partition-seeded draw.

    Priorities are rounded to 9 dp before ranking (ln is the single
    non-exact step; the quantum is ~1e9 ulps wide, ties break on the key)
    so the selected set is engine-exact. Plan shape: narrow projection →
    TakeOrderedAndProject — per-partition top-k then a k-row merge on one
    reducer, never a global sort."""
    u = _md5_uniform(key_col, seed, "w")
    pr = F.round(F.log(u) / F.col(weight_col), 9)
    return (
        df.withColumn(priority_col, pr)
        .orderBy(F.col(priority_col).desc(), F.col(key_col))
        .limit(k)
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Deterministic corpus shuffle + sharding for training export: shard =
    md5 bucket of the key, position within the shard = rank by an
    independent md5 draw. Together: a reproducible pseudo-random
    permutation where each shard is itself a uniform subsample, readable in
    isolation (the property sequential trainers rely on).

    One shuffle keyed on shard + a per-shard sort (window). Parallelism =
    ``n_shards`` — size it at or above cluster parallelism for the export;
    rows never pass through a single global order."""
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(key_col).cast("string"),
                        F.lit(str(seed)), F.lit("shard"),
                    )
                ), 1, 8,
            ), 16, 10,
        ).cast("long") % n_shards
    )
    order_key = F.md5(
        F.concat_ws(":", F.col(key_col).cast("string"), F.lit(str(seed)), F.lit("shuf"))
    )
    out = df.withColumn("shard", shard).withColumn("__ok", order_key)
    w = Window.partitionBy("shard").orderBy(F.col("__ok"), F.col(key_col))
    return out.withColumn("pos", F.row_number().over(w)).drop("__ok")


def rebalance_hash_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_shares: Mapping[str, float] | None = None,
    seed: int = DEFAULT_SEED,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Deterministic training-mix rebalancing: downsample each group so
    the surviving corpus approximates ``target_shares`` (group → share of
    the output, summing to ~1), at the LARGEST feasible total — i.e. the
    binding group (the one whose actual share falls shortest of its
    target) is kept whole and every other group is thinned toward
    proportion. ``target_shares=None`` means equal shares: every group is
    downsampled to ≈ the smallest group's size, in which case the per-
    group keep threshold ``floor(buckets * min_n / n_g)`` is pure integer
    arithmetic — engine-exact with no float boundary anywhere (the
    property the registry oracle certifies).

    This is the domain/language-mix step of a pretraining data pipeline
    (e.g. the mixture reweighting in LLaMA/GPT-3-style recipes), made
    auditable: selection is a pure function of (key, seed), so the same
    mix is rebuilt byte-identically on any cluster layout, and an
    external engine can replay it from the formula alone.

    Plan shape: one small grouped count, a broadcast 1-row min (or the
    feasibility reduce for explicit shares), a broadcast threshold join
    back to the fact table, one filter on the md5 bucket of the row key.
    The big side is scanned once and never shuffled."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    if target_shares is None:
        mn = counts.agg(F.min("__n").alias("__ref"))
        thr = (
            counts.crossJoin(F.broadcast(mn))
            .select(
                group_col,
                F.floor(
                    (F.lit(buckets) * F.col("__ref"))
                    / F.col("__n")
                ).cast("long").alias("__thr"),
            )
        )
    else:
        share = F.create_map(
            *[F.lit(x) for kv in target_shares.items() for x in kv]
        )[F.col(group_col)]
        scaled = counts.select(
            group_col, "__n", share.alias("__w"),
        ).filter(F.col("__w").isNotNull())
        # largest feasible total: T = min_g(n_g / w_g); keep w_g*T of g
        feas = scaled.agg(
            F.min(F.col("__n") / F.col("__w")).alias("__t")
        )
        thr = (
            scaled.crossJoin(F.broadcast(feas))
            .select(
                group_col,
                F.least(
                    F.lit(buckets).cast("double"),
                    F.floor(
                        F.lit(buckets) * F.col("__w") * F.col("__t")
                        / F.col("__n")
                    ).cast("double"),
                ).cast("long").alias("__thr"),
            )
        )
    bkt = split_bucket(F.col(key_col), seed, buckets)
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(bkt < F.col("__thr"))
        .drop("__thr")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    tau: float = 0.5,
    seed: int = DEFAULT_SEED,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Temperature-scaled mixture sampling: group g's target share ∝
    n_g^tau — the multilingual/domain rebalancing rule of multilingual
    LM recipes (tau=1 keeps natural proportions, tau→0 approaches the
    equal-share mix of ``rebalance_hash_sample``), realized at the
    LARGEST feasible total (the binding group is kept whole, every other
    group thinned toward its share).

    Engine-exact by construction: weights quantize once to integer
    micro-units (``round(n^tau * 1e6)`` — for the default tau=0.5 the
    power is ``sqrt``, correctly rounded per IEEE 754 on every engine),
    and because n^tau is monotone in n the binding group is simply the
    smallest (tau<1) or largest (tau>1) group — no float ratio compare.
    The keep threshold ``floor(buckets·w_g·n_m / (w_m·n_g))`` is then
    pure BIGINT arithmetic, and membership is the md5 split_bucket
    formula: stable under repartitioning, replayable by any engine.
    (At >1e9-row groups the BIGINT products need DECIMAL(38,0) — widen
    the casts, the formula is unchanged.)

    Plan: one small grouped count, one 1-row binding-group aggregate
    broadcast back, one broadcast threshold join; the fact table is
    scanned once, never shuffled."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    n = F.col("__n")
    w_raw = F.sqrt(n) if tau == 0.5 else F.pow(n, F.lit(float(tau)))
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    weighted = counts.select(
        group_col, "__n",
        F.round(w_raw * 1_000_000.0).cast("long").alias("__w"),
    )
    pick = F.min_by if tau < 1 else F.max_by
    binding = weighted.agg(
        pick(F.struct(F.col("__n").alias("nm"), F.col("__w").alias("wm")),
             F.col("__n")).alias("__b")
    ).select(F.col("__b.nm").alias("__nm"), F.col("__b.wm").alias("__wm"))
    thr = (
        weighted.crossJoin(F.broadcast(binding))
        .select(
            group_col,
            F.expr(
                f"CAST({buckets} AS BIGINT) * __w * __nm DIV (__wm * __n)"
            ).alias("__thr"),
        )
    )
    bkt = split_bucket(F.col(key_col), seed, buckets)
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(bkt < F.col("__thr"))
        .drop("__thr")
    )
