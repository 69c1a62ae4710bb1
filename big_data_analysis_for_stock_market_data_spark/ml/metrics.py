"""Evaluation metrics with honest names (reference M9, quirk Q5).

The reference printed ``BinaryClassificationEvaluator.evaluate`` — which
returns areaUnderROC — under the label "Accuracy" (``G_2_rf_nordd.py:72-74``)
and computed a confusion matrix by collecting every prediction row to the
driver for sklearn (``G_2_svm.py:178-181``). Here every metric carries its
real name and every computation stays distributed: evaluators run
treeAggregate reductions; the confusion matrix is a 4-row groupBy.
"""

from __future__ import annotations

from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def binary_metrics(
    predictions: DataFrame,
    label_col: str = "buy_or_sell",
    prediction_col: str = "prediction",
    raw_prediction_col: str = "rawPrediction",
) -> dict[str, float]:
    """areaUnderROC + accuracy + f1 in one place, correctly named.

    One caveat carried as API shape: ROC needs the raw score column, while
    accuracy/f1 need the thresholded prediction — the reference conflated
    the two (Q5)."""
    roc = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol=raw_prediction_col,
        metricName="areaUnderROC",
    ).evaluate(predictions)
    multi = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol=prediction_col
    )
    return {
        "areaUnderROC": float(roc),
        "accuracy": float(
            multi.evaluate(predictions, {multi.metricName: "accuracy"})
        ),
        "f1": float(multi.evaluate(predictions, {multi.metricName: "f1"})),
    }


def confusion_matrix(
    predictions: DataFrame,
    label_col: str = "buy_or_sell",
    prediction_col: str = "prediction",
) -> DataFrame:
    """Distributed confusion matrix: |classes|² rows, never a driver collect
    (vs sklearn-on-collected-rows at ``G_2_svm.py:178-181``)."""
    return (
        predictions.groupBy(
            F.col(label_col).cast("int").alias("label"),
            F.col(prediction_col).cast("int").alias("prediction"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
    )


def metrics_df(spark, metrics: dict[str, float]) -> DataFrame:
    """Lift a metrics dict into a stable-schema DataFrame (metric, value) —
    the queries() adapter shape for ML entries."""
    rows = [(k, float(v)) for k, v in sorted(metrics.items())]
    return spark.createDataFrame(rows, "metric string, value double")


def exact_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC-AUC as the Mann-Whitney U rank statistic — one row out:
    (n_pos, n_neg, auc). Tie-correct (tied scores get their average rank,
    the trapezoidal ROC convention) and bit-exact: every term is integer
    (doubled average ranks stay integral), magnitudes are <= 2·N² << 2^53,
    and the single final double division is IEEE-identical in any engine.

    Scalable construction: scores collapse to per-score tie groups first
    (one hash aggregate), then the rank prefix runs as the engine's
    two-phase parallel scan over the DISTINCT-score table
    (``windows.prefix_sum`` — key-range buckets from a min/max subquery
    inside the query, bucket-local sums in parallel, a |buckets|-row
    offsets broadcast; never a single-partition global window, never a
    plan-time job), and totals are one more aggregate. Works unchanged at any
    distinct-score cardinality; quantizing scores upstream just shrinks
    the prefix side further.
    """
    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        prefix_sum,
    )

    pos = F.col(label_col).cast("long")
    g = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(pos).alias("__npos"),
    )
    ranked_cum = prefix_sum(g, "__cnt", order_by="__s", out_col="__cum")
    cum_before = F.col("__cum").cast("long") - F.col("__cnt")
    # doubled average rank of the tie group: 2·(cum_before + 1) + cnt − 1
    ar2 = 2 * (cum_before + 1) + F.col("__cnt") - 1
    g = ranked_cum
    ranked = g.select("__npos", "__cnt", ar2.alias("__ar2"))
    tot = ranked.agg(
        F.sum(F.col("__npos") * F.col("__ar2")).alias("__sum_ar2_pos"),
        F.sum("__npos").alias("n_pos"),
        F.sum(F.col("__cnt") - F.col("__npos")).alias("n_neg"),
    )
    auc = (
        (F.col("__sum_ar2_pos") - F.col("n_pos") * (F.col("n_pos") + 1))
        .cast("double")
        / (2.0 * (F.col("n_pos") * F.col("n_neg")).cast("double"))
    )
    return tot.select("n_pos", "n_neg", auc.alias("auc"))


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic — one row out:
    (n_a, n_b, ks_stat). ``group_col`` is a boolean Column (or name)
    splitting rows into sample A (true) and sample B (false).

    D = max_t |F_A(t) − F_B(t)| and the max is attained at an observed
    value, so rows first COLLAPSE to per-distinct-value counts (one hash
    aggregate — the shuffle carries one row per distinct value, not per
    observation), both ECDFs run as the engine's two-phase parallel
    prefix scan over that distinct table (``windows.prefix_sum_multi``
    over key-range buckets — never a single-task global window, never a
    plan-time job), and the max-abs-diff plus the two
    totals fold in one final aggregate. Every count is integral; the two
    divisions and subtraction are scalar IEEE doubles — engine-portable
    bit-for-bit."""
    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        prefix_sum_multi,
    )

    g = F.col(group_col) if isinstance(group_col, str) else group_col
    per_val = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(g.cast("long")).alias("__ca"),
        F.sum((~g).cast("long")).alias("__cb"),
    )
    c = prefix_sum_multi(
        per_val, ["__ca", "__cb"], order_by="__v",
        out_cols=["__cuma", "__cumb"],
    )
    totals = per_val.agg(
        F.sum("__ca").alias("n_a"), F.sum("__cb").alias("n_b")
    )
    # totals fold back in as a broadcast 1-row cross join — no driver
    # scalar, same pattern as fixed_width_histogram / a18's plan-folding
    # try_divide + nullif: an empty sample leaves the statistic null
    # rather than tripping ANSI divide-by-zero in codegen; identical to
    # plain division whenever both samples are non-empty
    d = (
        F.abs(
            F.try_divide(
                F.col("__cuma").cast("double"),
                F.nullif(F.col("n_a"), F.lit(0)).cast("double"),
            )
            - F.try_divide(
                F.col("__cumb").cast("double"),
                F.nullif(F.col("n_b"), F.lit(0)).cast("double"),
            )
        )
    )
    return (
        c.crossJoin(F.broadcast(totals))
        .agg(
            F.max(F.col("n_a")).alias("n_a"),
            F.max(F.col("n_b")).alias("n_b"),
            F.max(d).alias("ks_stat"),
        )
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col,
    n_buckets: int = 10,
) -> DataFrame:
    """Decile lift/gain table with GROUP-ATOMIC buckets: rows collapse to
    distinct-score groups (one hash aggregate), groups order by score
    DESCENDING through the engine's two-phase parallel prefix scan
    (``windows.prefix_sum_multi`` over key-range buckets, planned with no
    job), and a group's bucket is decided by the count of
    strictly-higher-scoring rows — floor(k·cum_before/N). Tied scores
    land wholly in one bucket (bucket sizes flex around ties; the portable
    alternative to ntile's order-dependent tie splitting), so the result
    is deterministic on any engine and partitioning. Output per bucket:
    rows, positives, cumulative rows/positives, cumulative gain and lift
    (each a single IEEE expression over exact integers).

    ``label_col`` is a boolean/0-1 Column or name."""
    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        prefix_sum_multi,
    )

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    g = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(lab.cast("long")).alias("__npos"),
    )
    g = g.withColumn("__negs", -F.col("__s"))
    c = prefix_sum_multi(
        g, ["__cnt", "__npos"], order_by="__negs",
        out_cols=["__cum", "__cumpos"],
    )
    totals = g.agg(
        F.sum("__cnt").alias("__n"), F.sum("__npos").alias("__p")
    )
    c = c.crossJoin(F.broadcast(totals))
    cum = F.col("__cum").cast("long")
    cumpos = F.col("__cumpos").cast("long")
    bucket = F.floor(
        F.lit(n_buckets) * (cum - F.col("__cnt")) / F.col("__n")
    ).cast("int") + 1
    b = c.select(
        bucket.alias("bucket"),
        F.col("__cnt"), F.col("__npos"), cum.alias("__cumr"),
        cumpos.alias("__cumr_pos"), F.col("__n"), F.col("__p"),
    )
    agg = b.groupBy("bucket").agg(
        F.sum("__cnt").alias("n_rows"),
        F.sum("__npos").alias("n_pos"),
        F.max("__cumr").alias("cum_rows"),
        F.max("__cumr_pos").alias("cum_pos"),
        F.max("__n").alias("__n"),
        F.max("__p").alias("__p"),
    )
    # try_divide + nullif: zero positives (or an empty input) yields null
    # gain/lift instead of an ANSI divide-by-zero; same values otherwise
    base_rate = F.try_divide(
        F.col("__p").cast("double"),
        F.nullif(F.col("__n"), F.lit(0)).cast("double"),
    )
    gain = F.try_divide(
        F.col("cum_pos").cast("double"),
        F.nullif(F.col("__p"), F.lit(0)).cast("double"),
    )
    lift = F.try_divide(
        F.try_divide(
            F.col("cum_pos").cast("double"),
            F.nullif(F.col("cum_rows"), F.lit(0)).cast("double"),
        ),
        F.nullif(base_rate, F.lit(0.0)),
    )
    return agg.select(
        "bucket", "n_rows", "n_pos", "cum_rows", "cum_pos",
        gain.alias("cum_gain"), lift.alias("cum_lift"),
    ).orderBy("bucket")
