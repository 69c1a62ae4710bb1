"""Join operators (SURVEY.md §2.3) and the join-or-fuse builder (Q4).

The reference's dominant idiom is "compute a small keyed table aside, then
equi-join it back onto the fact table" — 30+ sites, e.g.
``G_2_rf_nordd_fe.py:47-49`` (daily AVG joined back on ``date_only``).
On Spark that costs a shuffle (or broadcast) per join, and the reference
chains 11 of them sequentially. ``fuse_group_stat`` collapses the idiom into
ONE window expression over the same frame: a single shuffle on the partition
key computes the per-group statistic and attaches it to every row — no join,
no second scan, and Catalyst stacks multiple fused stats into one Window
node when they share the partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _orderable(dt: T.DataType) -> bool:
    """Whether a type can appear in an ORDER BY (Spark forbids MapType,
    including nested inside arrays/structs) — gates the as-of tie-break
    keys so a map-valued carry column doesn't fail analysis."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_right: bool | None = None,
) -> DataFrame:
    """J1/J2: USING-style equi-join (key columns deduplicated, as the
    reference relies on: ``data.join(buy_sell_df, on='date')``,
    ``G_2_rf_nordd.py:40``).

    ``broadcast_right=True`` forces a broadcast-hash join (right side must
    fit in executor memory); ``None`` lets Catalyst/AQE decide from size
    stats — the right default for dim tables under the auto-broadcast
    threshold. All of Spark's join types pass through ``how`` (the reference
    only used inner; semi/anti/outer are part of the engine surface, J3).
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def fuse_group_stat(
    df: DataFrame,
    keys: str | Sequence[str],
    values: dict[str, str],
    agg: str = "avg",
) -> DataFrame:
    """Q4 fusion: replace {groupBy(keys).agg → join back on keys} with a
    window aggregate over ``Window.partitionBy(keys)`` (unbounded frame).

    Semantics are identical to the reference's join-back for inner joins on
    a key derived from the same frame (every row finds its group row).
    ``values`` maps input column -> output alias; ``agg`` is any Spark
    aggregate name (avg/sum/min/max/count/stddev...).
    """
    if isinstance(keys, str):
        keys = [keys]
    w = Window.partitionBy(*keys)
    out = df
    for src, dst in values.items():
        out = out.withColumn(dst, getattr(F, agg)(src).over(w))
    return out


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str,
    right_time: str,
    right_values: Sequence[str],
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join (J3 extension — natural for time series, absent in the
    reference). For each left row, attach the most recent right row at or
    before ``left_time`` (direction='backward'), the earliest at or after
    (direction='forward'), or the closer of the two with ties to backward
    (direction='nearest', pandas merge_asof semantics), within the same
    ``on`` partition keys.

    ``tolerance`` (an INTERVAL string, e.g. ``'1 hour'``) bounds the
    lookback/lookahead like pandas ``merge_asof(tolerance=...)``: a match
    further than that in time nulls out — the attribution-window contract
    ('credit the last touch within N days', never an unboundedly stale
    one). The carried match time comes from the latest right ROW; with
    nulls inside ``right_values`` columns, per-column carries can
    originate from older rows than that time (same per-column
    ``last(ignorenulls)`` contract as the unbounded form).

    Spark-first implementation: union the two sides tagged by origin, sort
    within each partition key by time once, and carry right-side values
    across with ``last(..., ignorenulls=True)`` — one shuffle on the keys,
    no range-explosion join. Scales with rows, not with |left|x|right|.

    Tie determinism: when several RIGHT rows share the same (keys, time),
    the carried value is the greatest ``right_values`` tuple among them
    (orderable columns only; map-typed columns cannot participate in the
    tie-break and fall back to partition order). Without this the carry
    would depend on physical row order inside the shuffle partition —
    invisible on tie-free data, nondeterministic across executor counts
    and AQE decisions at scale.
    """
    if isinstance(on, str):
        on = [on]
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward' or 'nearest'"
        )
    if direction == "nearest":
        # pandas merge_asof(direction='nearest'): the closer of the
        # backward and forward matches, ties to backward. Composed from
        # one backward and one forward pass, each carrying its match
        # time; with a tolerance both passes null out-of-range matches
        # first, so the choice logic just prefers whichever survives.
        b_vals = [f"{v}__asof_b" for v in right_values]
        f_vals = [f"{v}__asof_f" for v in right_values]
        reserved = {"__asof_bt", "__asof_ft", *b_vals, *f_vals}
        clash = reserved & (set(left.columns) | set(right.columns))
        if clash:
            raise ValueError(
                "as_of_join(direction='nearest') reserves temporary "
                f"column names {sorted(clash)}; rename those columns"
            )
        rb = right.select(
            *on, right_time,
            *[F.col(v).alias(b) for v, b in zip(right_values, b_vals)],
        ).withColumn("__asof_bt", F.col(right_time))
        rf = right.select(
            *on, right_time,
            *[F.col(v).alias(fv) for v, fv in zip(right_values, f_vals)],
        ).withColumn("__asof_ft", F.col(right_time))
        step = as_of_join(
            left, rb, on, left_time, right_time,
            [*b_vals, "__asof_bt"], "backward", tolerance,
        )
        step = as_of_join(
            step, rf, on, left_time, right_time,
            [*f_vals, "__asof_ft"], "forward", tolerance,
        )
        lt_c = F.col(left_time).cast("timestamp")
        bt_c = F.col("__asof_bt").cast("timestamp")
        ft_c = F.col("__asof_ft").cast("timestamp")
        choose_b = ft_c.isNull() | (
            bt_c.isNotNull() & ((lt_c - bt_c) <= (ft_c - lt_c))
        )
        out = step
        for v, b, fv in zip(right_values, b_vals, f_vals):
            out = out.withColumn(
                v, F.when(choose_b, F.col(b)).otherwise(F.col(fv))
            )
        return out.drop(*b_vals, *f_vals, "__asof_bt", "__asof_ft")
    if tolerance is not None:
        if "__match_t" in right.columns:
            raise ValueError(
                "as_of_join(tolerance=...) reserves column name "
                "'__match_t'; rename the right-side column"
            )
        # carry the matched right row's own time, then null out carried
        # values whose match is further than the tolerance
        inner = as_of_join(
            left,
            right.withColumn("__match_t", F.col(right_time)),
            on, left_time, right_time,
            [*right_values, "__match_t"],
            direction=direction,
        )
        lt = F.col(left_time).cast("timestamp")
        mt = F.col("__match_t").cast("timestamp")
        gap_ok = (
            (lt - mt) <= F.expr(f"INTERVAL {tolerance}")
            if direction == "backward"
            else (mt - lt) <= F.expr(f"INTERVAL {tolerance}")
        )
        out = inner
        for v in right_values:
            out = out.withColumn(
                v, F.when(gap_ok, F.col(v)).otherwise(F.lit(None))
            )
        return out.drop("__match_t")

    lt = F.col(left_time)
    left_tagged = left.select(
        *on,
        lt.alias("_t"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_rv_{v}") for v in right_values],
    )
    right_tagged = right.select(
        *on,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(
            left_tagged.schema["_lrow"].dataType
        ).alias("_lrow"),
        *[F.col(v).alias(f"_rv_{v}") for v in right_values],
    )
    unioned = left_tagged.unionByName(right_tagged)

    # Deterministic tie-break among RIGHT rows sharing (keys, _t): order
    # the tied rights by their value tuple so last() carries the greatest
    # one on any partition layout. Map types are not orderable in Spark —
    # they are skipped (docstring contract). NULLs sort first under asc,
    # so a non-null maximum wins; left rows contribute NULL tie keys and
    # their relative order is irrelevant (they carry, never provide).
    tie_keys = [
        F.col(f"_rv_{v}").asc()
        for v in right_values
        if _orderable(right.schema[v].dataType)
    ]
    if direction == "backward":
        # Right rows sort before left rows at equal time => "at or before".
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_t").asc(), F.col("_is_left").asc(), *tie_keys)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        carried = [
            F.last(f"_rv_{v}", ignorenulls=True).over(w).alias(v)
            for v in right_values
        ]
    else:
        w = (
            Window.partitionBy(*on)
            .orderBy(F.col("_t").desc(), F.col("_is_left").asc(), *tie_keys)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        carried = [
            F.last(f"_rv_{v}", ignorenulls=True).over(w).alias(v)
            for v in right_values
        ]

    out = unioned.select("_is_left", "_lrow", *carried).filter(F.col("_is_left") == 1)
    return out.select(*[F.col(f"_lrow.{c}").alias(c) for c in left.columns], *right_values)


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    broadcast_right: bool = True,
) -> DataFrame:
    """Range join (J3 extension): left rows matched to right intervals
    ``[lo, hi)``. With a small interval table, broadcast turns this into a
    map-side nested-loop against the broadcast hash — no shuffle of the big
    side. For large interval tables, pre-bucket both sides on a coarse range
    key instead (not needed for the reference surface)."""
    cond = (F.col(left_point) >= F.col(right_lo)) & (F.col(left_point) < F.col(right_hi))
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=cond, how="inner")


def binned_range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
) -> DataFrame:
    """Point-in-interval join for LARGE interval tables — the scale path
    ``range_join`` documents but (by broadcast) doesn't need for small
    dims. A pure range predicate gives Spark only a nested-loop plan
    (|left| x |right| comparisons); binning turns it into an equi join:

    - each interval ``[lo, hi)`` explodes to one row per covered bin of
      width ``bin_width`` (fan-out ~ interval_len/bin_width + 1);
    - each point maps to exactly ONE bin — so every (point, interval)
      match surfaces exactly once and no post-join dedup is needed;
    - the join runs on the bin key (shuffle/broadcast hash join, AQE
      eligible), with the exact range predicate as a residual filter.

    Pick ``bin_width`` near the median interval length: too small
    explodes the interval side, too large funnels everything into few
    bins (skew). Both sides stay fully distributed — this is the 100 TB
    form of the operator."""
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    r = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bin_width).cast("long"),
                F.floor(F.col(right_hi) / bin_width).cast("long"),
            )
        ),
    )
    l = left.withColumn(
        "__bin", F.floor(F.col(left_point) / bin_width).cast("long")
    )
    residual = (F.col(left_point) >= F.col(right_lo)) & (
        F.col(left_point) < F.col(right_hi)
    )
    return l.join(r, on="__bin", how="inner").filter(residual).drop("__bin")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: int,
) -> DataFrame:
    """Interval x interval OVERLAP join for two LARGE interval tables
    (closed intervals on an integer axis: overlap iff
    ``l_lo <= r_hi AND r_lo <= l_hi``) — the temporal/genomic companion
    to the point-in-interval ``binned_range_join``. A raw overlap theta
    join only plans as a nested loop (|left| x |right|); binning makes
    it an equi join that stays fully distributed:

    - BOTH sides explode to one row per covered bin of width
      ``bin_width`` (fan-out ~ interval_len/bin_width + 1);
    - a pair overlapping across k shared bins would surface k times, so
      each match is CLAIMED exactly once, at the FIRST bin both
      intervals cover — ``__bin == greatest(floor(l_lo/w),
      floor(r_lo/w))`` — a stateless residual predicate in the join
      itself, never a post-join DISTINCT shuffle over the pair set;
    - the exact overlap test rides along as a residual filter.

    Pick ``bin_width`` near the median interval length on the wider
    side: the bin key is what the shuffle partitions on, so too-large
    bins funnel into few partitions (skew), too-small bins multiply the
    explode. Scale shape: two explodes + one shuffle equi join — the
    100 TB form."""
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / bin_width).cast("long"),
                    F.floor(F.col(hi) / bin_width).cast("long"),
                )
            ),
        )

    l = binned(left, left_lo, left_hi)
    r = binned(right, right_lo, right_hi)
    overlap = (F.col(left_lo) <= F.col(right_hi)) & (
        F.col(right_lo) <= F.col(left_hi)
    )
    first_shared_bin = F.col("__bin") == F.greatest(
        F.floor(F.col(left_lo) / bin_width).cast("long"),
        F.floor(F.col(right_lo) / bin_width).cast("long"),
    )
    return (
        l.join(r, on="__bin", how="inner")
        .filter(overlap & first_shared_bin)
        .drop("__bin")
    )


def grid_radius_join(
    left: DataFrame,
    right: DataFrame,
    left_x: str,
    left_y: str,
    right_x: str,
    right_y: str,
    radius: float,
) -> DataFrame:
    """Planar RADIUS join: all (left, right) pairs within Euclidean
    distance ``radius`` — the spatial companion to the 1-D
    ``binned_range_join``. A raw distance theta join only plans as a
    nested loop; gridding makes it an equi join that stays distributed:

    - both sides snap to square cells of side ``radius``;
    - the LEFT side explodes to its cell plus the 8 neighbors (fixed
      fan-out 9 — any point within ``radius`` of a left point lies in
      that 3x3 block, so the block is a complete candidate cover);
    - the RIGHT side keeps exactly one row per point, so each candidate
      pair meets at exactly ONE (cell_x, cell_y) key — no dedup pass;
    - the exact squared-distance test rides as a residual predicate
      (integer-exact when coordinates are integers).

    Shuffle key is the 2-D cell id: at 100 TB the join partitions by
    spatial locality, and density skew (urban cells) is AQE's skew-join
    case or a salt on the cell key. Cost: 9x explode on one side + one
    shuffle equi join versus |L|x|R| for the nested loop."""
    if radius <= 0:
        raise ValueError("radius must be positive")

    def cell(c):
        return F.floor(c / F.lit(radius)).cast("long")

    offsets = F.expr(
        "array({})".format(
            ", ".join(
                f"struct({dx}L AS dx, {dy}L AS dy)"
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            )
        )
    )
    l = (
        left.withColumn("__o", F.explode(offsets))
        .withColumn("__gx", cell(F.col(left_x)) + F.col("__o.dx"))
        .withColumn("__gy", cell(F.col(left_y)) + F.col("__o.dy"))
        .drop("__o")
    )
    r = right.withColumn("__gx", cell(F.col(right_x))).withColumn(
        "__gy", cell(F.col(right_y))
    )
    dx = F.col(left_x) - F.col(right_x)
    dy = F.col(left_y) - F.col(right_y)
    within = (dx * dx + dy * dy) <= F.lit(radius) * F.lit(radius)
    return (
        l.join(r, on=["__gx", "__gy"], how="inner")
        .filter(within)
        .drop("__gx", "__gy")
    )
