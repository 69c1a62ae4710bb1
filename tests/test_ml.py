"""ML pipeline tests (SURVEY.md §2.8 M1-M9): seeded determinism, honest
metric names, distributed confusion matrix, PCA variance."""

import pytest
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark import ml
from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
    pca_explained_variance,
)


@pytest.fixture(scope="module")
def labeled_df(spark):
    # Deterministic separable-ish data: label correlates with x1+x2.
    df = spark.range(600).select(
        F.col("id"),
        (F.sin(F.col("id") * 1.7)).alias("x1"),
        (F.cos(F.col("id") * 0.3)).alias("x2"),
        ((F.col("id") % 7) / 7.0).alias("x3"),
    )
    return df.withColumn(
        "buy_or_sell",
        (F.col("x1") + F.col("x2") + F.col("x3") > 0.5).cast("int"),
    )


FEATURES = ["x1", "x2", "x3"]


def test_rf_metrics_named_and_bounded(labeled_df):
    fit = ml.train_random_forest(labeled_df, FEATURES, num_trees=5, max_depth=4)
    assert set(fit.metrics) == {"areaUnderROC", "accuracy", "f1"}
    for v in fit.metrics.values():
        assert 0.0 <= v <= 1.0
    # learnable signal => far better than chance
    assert fit.metrics["areaUnderROC"] > 0.8


def test_rf_seeded_determinism(labeled_df):
    a = ml.train_random_forest(labeled_df, FEATURES, num_trees=5, max_depth=4, seed=7)
    b = ml.train_random_forest(labeled_df, FEATURES, num_trees=5, max_depth=4, seed=7)
    assert a.metrics == b.metrics


def test_svc_transforms(labeled_df):
    for transform in ("none", "scale", "pca"):
        fit = ml.train_linear_svc(
            labeled_df, FEATURES, transform=transform, pca_k=2, max_iter=5
        )
        assert 0.0 <= fit.metrics["areaUnderROC"] <= 1.0
        # featurization intermediates must not leak into the output schema
        assert "__assembled" not in fit.predictions.columns


def test_confusion_matrix_totals(labeled_df):
    fit = ml.train_random_forest(
        labeled_df, FEATURES, num_trees=5, max_depth=4, evaluate=False
    )
    cm = ml.confusion_matrix(fit.predictions)
    rows = cm.collect()
    assert sum(r.n for r in rows) == fit.predictions.count()
    assert {(r.label, r.prediction) for r in rows} <= {(0, 0), (0, 1), (1, 0), (1, 1)}


def test_fit_keeps_callers_cache(labeled_df):
    # a caller that cached exactly the training columns keeps its cache:
    # the fit's own cache-then-unpersist must not drop it
    from pyspark import StorageLevel

    surf = labeled_df.select(*FEATURES, "buy_or_sell").cache()
    try:
        assert surf.count() == 600
        level = surf.storageLevel
        assert level != StorageLevel.NONE
        ml.train_random_forest(surf, FEATURES, num_trees=2, max_depth=2)
        assert surf.storageLevel == level
        groups = {"a": (["x1", "x2"], "scale", 0), "b": (["x3"], "scale", 0)}
        ml.train_rf_grouped(surf, groups, num_trees=2, max_depth=2)
        assert surf.storageLevel == level
    finally:
        surf.unpersist()
    # a frame the fit cached itself is released again
    ml.train_random_forest(labeled_df, FEATURES, num_trees=2, max_depth=2)
    assert labeled_df.select(*FEATURES, "buy_or_sell").storageLevel == (
        StorageLevel.NONE
    )


def test_pca_variance_ratios(labeled_df):
    ratios = pca_explained_variance(labeled_df, FEATURES, k=3)
    assert len(ratios) == 3
    assert ratios == sorted(ratios, reverse=True)
    assert abs(sum(ratios) - 1.0) < 1e-6  # k = d captures all variance


def test_bad_transform_rejected(labeled_df):
    with pytest.raises(ValueError, match="transform"):
        ml.train_random_forest(labeled_df, FEATURES, transform="bogus")


def test_gbt_metrics_named_and_bounded(labeled_df):
    fit = ml.train_gbt(labeled_df, FEATURES, max_iter=5, max_depth=3)
    assert set(fit.metrics) == {"areaUnderROC", "accuracy", "f1"}
    assert fit.metrics["areaUnderROC"] > 0.8


def test_cross_validate_rf_grid(labeled_df):
    best, grid_df = ml.cross_validate_rf(
        labeled_df, FEATURES, num_trees_grid=(3, 5), max_depth_grid=(2, 3),
        num_folds=2, parallelism=2, seed=7,
    )
    rows = grid_df.collect()
    assert len(rows) == 4  # full 2x2 grid evaluated
    assert {(r.num_trees, r.max_depth) for r in rows} == {
        (3, 2), (3, 3), (5, 2), (5, 3)
    }
    assert best["best_avg_auc"] == max(r.avg_auc for r in rows)
    assert (best["num_trees"], best["max_depth"]) in {
        (3.0, 2.0), (3.0, 3.0), (5.0, 2.0), (5.0, 3.0)
    }


def test_hash_split_deterministic_and_partition_invariant(labeled_df):
    train1, test1 = ml.hash_split(labeled_df, [0.7, 0.3], "id", seed=42)
    # same split under a different physical layout (randomSplit is NOT)
    shuffled = labeled_df.repartition(13)
    train2, test2 = ml.hash_split(shuffled, [0.7, 0.3], "id", seed=42)
    ids1, ids2 = (
        {r.id for r in train1.select("id").collect()},
        {r.id for r in train2.select("id").collect()},
    )
    assert ids1 == ids2
    # disjoint + exhaustive
    test_ids = {r.id for r in test1.select("id").collect()}
    assert not (ids1 & test_ids)
    assert len(ids1) + len(test_ids) == labeled_df.count()
    # roughly honors the weights
    assert 0.6 < len(ids1) / labeled_df.count() < 0.8


def test_correlated_split_and_grouped_rf(labeled_df):
    # x4 := near-copy of x1 -> the derived split must flag both as
    # correlated and leave the rest alone
    df = labeled_df.withColumn("x4", F.col("x1") * 0.999 + 0.001)
    corr, non_corr = ml.correlated_split(df, ["x1", "x2", "x3", "x4"], 0.9)
    assert set(corr) == {"x1", "x4"}
    assert set(non_corr) == {"x2", "x3"}

    fit = ml.train_rf_grouped(
        df,
        {
            "corr": (corr, "pca", 1),
            "noncorr": (non_corr, "scale", 0),
        },
        num_trees=5, max_depth=4, seed=42,
    )
    assert set(fit.metrics) == {"areaUnderROC", "accuracy", "f1"}
    assert fit.metrics["areaUnderROC"] > 0.8
    # no featurization intermediates leak into the prediction frame
    assert not [c for c in fit.predictions.columns if c.startswith("__")]

    # seeded rerun is identical (same contract as the one-group path)
    fit2 = ml.train_rf_grouped(
        df,
        {
            "corr": (corr, "pca", 1),
            "noncorr": (non_corr, "scale", 0),
        },
        num_trees=5, max_depth=4, seed=42,
    )
    assert fit.metrics == fit2.metrics


def test_rdd_compat_trainclassifier_flow(labeled_df):
    # the reference's RDD-path flow (G_2_rf_rdd.py:157-196) on the compat
    # shim: lift -> trainClassifier -> predict -> metrics
    from big_data_analysis_for_stock_market_data_spark.ml import rdd_compat as rc

    train, test = labeled_df.randomSplit([0.7, 0.3], seed=42)
    lp_train = rc.labeled_points(train, "buy_or_sell", FEATURES)
    assert lp_train.columns == ["label", "features"]

    model = rc.train_classifier(
        lp_train, numClasses=2, categoricalFeaturesInfo={},
        numTrees=10, featureSubsetStrategy="auto", impurity="gini",
        maxDepth=10, maxBins=32, seed=42,
    )
    lp_test = rc.labeled_points(test, "buy_or_sell", FEATURES)
    preds = model.predict(lp_test)
    pairs = preds.select("label", "prediction")
    bm = rc.binary_classification_metrics(pairs)
    mm = rc.multiclass_metrics(pairs)
    assert 0.0 <= bm["areaUnderROC"] <= 1.0
    assert bm["areaUnderROC"] > 0.8  # learnable signal
    assert mm["accuracy"] > 0.8 and mm["n"] == float(pairs.count())

    # the reference's exact call shape: predict on an RDD of vectors
    rdd_preds = model.predict(lp_test.rdd.map(lambda r: r.features))
    assert rdd_preds.count() == lp_test.count()
    assert rdd_preds.columns == ["features", "prediction"]

    # numClasses is validated, not trusted
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rc.train_classifier(lp_train, numClasses=5)
    with _pytest.raises(ValueError):
        rc.train_classifier(lp_train, categoricalFeaturesInfo={0: 3})


def test_exact_auc_matches_sklearn_formula(spark):
    """Rank-statistic AUC equals the probabilistic definition computed by
    brute force on a small case with ties."""
    from itertools import product

    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import exact_auc

    data = [(0.1, 0), (0.4, 0), (0.35, 1), (0.8, 1), (0.35, 0), (0.8, 1)]
    df = spark.createDataFrame([Row(s=s, y=bool(y)) for s, y in data])
    row = exact_auc(df, "s", "y").first()
    pos = [s for s, y in data if y]
    neg = [s for s, y in data if not y]
    brute = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p, n in product(pos, neg)
    ) / (len(pos) * len(neg))
    assert row.n_pos == 3 and row.n_neg == 3
    assert abs(row.auc - brute) < 1e-15


def test_quantile_bins_exact_boundaries(spark):
    """Quartile binning on a known distribution: boundaries at exact
    interpolated percentiles, bin = count of boundaries <= value, stable
    under repartitioning (unlike QuantileDiscretizer's sketch)."""
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import quantile_bins

    df = spark.range(100).select((F.col("id") + 1.0).alias("x"))  # 1..100
    out = quantile_bins(df, "x", n_bins=4)
    counts = {r.bin: r.cnt for r in
              out.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # boundaries 25.75/50.5/75.25 -> bins of 25/25/25/25
    assert counts == {0: 25, 1: 25, 2: 25, 3: 25}
    re4 = quantile_bins(df.repartition(4), "x", n_bins=4)
    assert sorted(map(tuple, re4.collect())) == sorted(map(tuple, out.collect()))


def test_string_index_deterministic_ordering_and_nulls(spark):
    """frequencyDesc with explicit lexicographic tie-break; nulls -> -1;
    result invariant under repartitioning (unlike ML's StringIndexer tie
    order)."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        string_index,
    )

    df = spark.createDataFrame(
        [(1, "b"), (2, "b"), (3, "a"), (4, "a"), (5, "c"), (6, None)],
        "id long, cat string",
    )
    got = {r.id: r.cat_idx for r in string_index(df, "cat").collect()}
    # freq: a=2, b=2, c=1 -> tie a/b broken lexicographically: a=0, b=1
    assert got == {1: 1, 2: 1, 3: 0, 4: 0, 5: 2, 6: -1}
    got2 = {
        r.id: r.cat_idx
        for r in string_index(df.repartition(5), "cat").collect()
    }
    assert got2 == got


def test_ks_two_sample_matches_scipy_formula(spark):
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import ks_two_sample

    rng = np.random.default_rng(3)
    a = np.round(rng.normal(0, 1, 300), 2)
    b = np.round(rng.normal(0.5, 1, 200), 2)
    pdf = pd.DataFrame(
        {"v": np.concatenate([a, b]),
         "grp": ["a"] * len(a) + ["b"] * len(b)}
    )
    row = ks_two_sample(
        spark.createDataFrame(pdf), "v", F.col("grp") == "a"
    ).collect()[0]
    # reference ECDF max-diff over the pooled support
    support = np.unique(pdf.v.to_numpy())
    fa = np.searchsorted(np.sort(a), support, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), support, side="right") / len(b)
    exp = np.abs(fa - fb).max()
    assert (row.n_a, row.n_b) == (300, 200)
    assert abs(row.ks_stat - exp) < 1e-12


def test_ks_identical_samples_zero(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import ks_two_sample

    pdf = pd.DataFrame(
        {"v": [1.0, 1.0, 2.0, 2.0] * 5, "grp": ["a", "b"] * 10}
    )
    row = ks_two_sample(
        spark.createDataFrame(pdf), "v", F.col("grp") == "a"
    ).collect()[0]
    assert row.ks_stat == 0.0


def test_lift_table_group_atomic_buckets(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import lift_table

    # 20 rows, scores 20..1 (distinct), top half all positive
    pdf = pd.DataFrame(
        {"s": list(range(20, 0, -1)), "y": [1] * 10 + [0] * 10}
    )
    out = lift_table(
        spark.createDataFrame(pdf), "s", F.col("y") == 1, n_buckets=10
    ).collect()
    assert [r.bucket for r in out] == list(range(1, 11))
    assert all(r.n_rows == 2 for r in out)
    # top decile: 2 of 2 positive; base rate 0.5 -> lift 2.0, gain 0.2
    top = out[0]
    assert top.n_pos == 2 and abs(top.cum_lift - 2.0) < 1e-12
    assert abs(top.cum_gain - 0.2) < 1e-12
    # final bucket: cumulative everything -> lift exactly 1
    assert abs(out[-1].cum_lift - 1.0) < 1e-12 and out[-1].cum_pos == 10


def test_lift_table_ties_stay_together(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import lift_table

    # 10 rows all the same score -> ONE group-atomic bucket (bucket 1)
    pdf = pd.DataFrame({"s": [5.0] * 10, "y": [1, 0] * 5})
    out = lift_table(
        spark.createDataFrame(pdf), "s", F.col("y") == 1, n_buckets=10
    ).collect()
    assert len(out) == 1
    assert out[0].bucket == 1 and out[0].n_rows == 10 and out[0].n_pos == 5


def test_ks_one_sided_sample_is_null_not_error(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import ks_two_sample

    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0], "grp": ["a", "a", "a"]})
    row = ks_two_sample(
        spark.createDataFrame(pdf), "v", F.col("grp") == "a"
    ).collect()[0]
    assert (row.n_a, row.n_b) == (3, 0) and row.ks_stat is None


def test_lift_table_zero_positives_null_not_error(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.metrics import lift_table

    pdf = pd.DataFrame({"s": [3.0, 2.0, 1.0], "y": [0, 0, 0]})
    out = lift_table(
        spark.createDataFrame(pdf), "s", F.col("y") == 1, n_buckets=3
    ).collect()
    assert all(r.n_pos == 0 and r.cum_gain is None and r.cum_lift is None
               for r in out)


def test_rf_train_after_observation_regression(spark, labeled_df, tmp_path):
    """Spark 4.1: SparkSession.observationManager is lazily initialized and
    NOT transient, so once ANY Observation runs, serializing a closure that
    carries the session fails (NotSerializableException). RF training
    summaries carry the session; strip_training_summaries must keep the
    train->evaluate path working after the single-pass write audit ran."""
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.sources.io import observed_write

    res = observed_write(
        labeled_df, str(tmp_path / "obs_parquet"),
        metrics={"n": F.count(F.lit(1))},
    )
    assert res["n"] == labeled_df.count()
    fit = ml.train_random_forest(labeled_df, FEATURES, num_trees=3, max_depth=3)
    assert 0.0 <= fit.metrics["areaUnderROC"] <= 1.0
    # the fitted stages must not carry a session-pinning summary
    assert not any(
        getattr(s, "hasSummary", False) for s in fit.model.stages
    )


def test_lda_topics_shape_and_determinism(spark):
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import train_lda_topics

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 7} w{i % 3} delta") for i in range(40)],
        "doc_id long, text string",
    )
    t1 = train_lda_topics(docs, k=3, max_iter=5, top_terms=4).collect()
    assert len(t1) == 12  # 3 topics x 4 terms
    assert {r["topic"] for r in t1} == {0, 1, 2}
    assert all(r["weight"] > 0 for r in t1)
    # same seed, same data -> identical topic table
    t2 = train_lda_topics(docs, k=3, max_iter=5, top_terms=4).collect()
    assert [(r["topic"], r["term_rank"], r["term"]) for r in t1] == [
        (r["topic"], r["term_rank"], r["term"]) for r in t2
    ]


def test_als_recommend_shape(spark):
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import train_als_recommend

    # 6 users x 5 items with a planted preference block
    rows = []
    for u in range(6):
        for i in range(5):
            if (u < 3) == (i < 3):  # block structure
                rows.append((u, i, 5.0))
            elif i == 4:
                rows.append((u, i, 1.0))
    ratings = spark.createDataFrame(rows, "user int, item int, rating float")
    recs = train_als_recommend(ratings, k=2, max_iter=5).collect()
    by_user = {}
    for r in recs:
        by_user.setdefault(r["user"], []).append(r)
    assert set(by_user) == set(range(6))
    for u, rs in by_user.items():
        assert [r["rec_rank"] for r in rs] == [0, 1]
        assert all(r["score"] >= 0 for r in rs)


def test_als_rank1_exact_semantics(spark):
    """The quantized rank-1 implicit ALS (r07, oracle-backed): recs are
    deterministic, never include a seen (user, item) pair, come ranked
    0..k-1 by (score desc, item asc), and score_q = u_q * v_q > 0."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_als_rank1_exact,
    )

    rows = []
    for u in range(6):
        for i in range(8):
            if (u + i) % 3 != 0:
                rows.append((u, i, 1 + (u * 7 + i * 3) % 10))
    ratings = spark.createDataFrame(rows, "user long, item long, rating long")
    seen = {(u, i) for u, i, _ in rows}
    r1 = train_als_rank1_exact(ratings, k=2, pool=8).collect()
    r2 = train_als_rank1_exact(ratings, k=2, pool=8).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    by_user = {}
    for r in r1:
        assert (r["user"], r["item"]) not in seen
        assert r["score_q"] > 0
        by_user.setdefault(r["user"], []).append(r)
    for u, rs in by_user.items():
        assert [r["rec_rank"] for r in rs] == list(range(len(rs)))
        scores = [r["score_q"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_plsa_topics_invariants(spark):
    """Quantized PLSA-EM (r07, oracle-backed): deterministic, k topics x
    top_terms rows, ranks contiguous, phi_q descending within a topic
    with the documented (phi desc, term asc) tie-break, and every term
    drawn from the corpus vocabulary."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_plsa_topics,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana banana date cherry"),
            (3, "edge fig grape apple"),
            (4, "fig fig grape date edge"),
            (5, "cherry date apple grape"),
        ],
        "doc_id long, text string",
    )
    out1 = train_plsa_topics(docs, k=3, top_terms=4).collect()
    out2 = train_plsa_topics(docs, k=3, top_terms=4).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    vocab = {
        "apple", "banana", "cherry", "date", "edge", "fig", "grape",
    }
    by_topic = {}
    for r in out1:
        assert r["term"] in vocab
        by_topic.setdefault(r["topic"], []).append(r)
    assert set(by_topic) == {0, 1, 2}
    for t, rs in by_topic.items():
        assert [r["term_rank"] for r in rs] == list(range(len(rs)))
        pairs = [(-r["phi_q"], r["term"]) for r in rs]
        assert pairs == sorted(pairs)


def test_gbt_exact_stumps_hand_fixture(spark):
    """A perfectly separable fixture: round 1 must find the separating
    split with the exact SSE-reduction gain, later rounds degenerate to
    zero-gain ties broken (feature, value); a constant feature must
    yield no candidates at all."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_gbt_stumps_exact,
    )

    df = spark.createDataFrame(
        [(1, 5, 0), (1, 5, 0), (1, 5, 0),
         (2, 5, 10), (2, 5, 10), (2, 5, 10)],
        "f1 long, f2 long, y long",
    )
    out = train_gbt_stumps_exact(df, ["f1", "f2"], label_col="y").collect()
    assert len(out) == 3
    r1 = out[0]
    # split f1 <= 1: v_left = 0, v_right = 10000 milli; gain =
    # 2*10000*30000 - 10000^2*3 = 3e8; residuals vanish
    assert (r1["feature"], r1["threshold"]) == (1, 1)
    assert (r1["v_left_q"], r1["v_right_q"]) == (0, 10000)
    assert r1["gain"] == 300_000_000
    assert r1["sum_abs_res_q"] == 0
    for r in out[1:]:
        # all-zero residuals: zero gain, tie-break lands on (f1, 1),
        # f2 never appears (constant feature -> no threshold)
        assert (r["feature"], r["threshold"]) == (1, 1)
        assert (r["v_left_q"], r["v_right_q"], r["gain"]) == (0, 0, 0)
        assert r["sum_abs_res_q"] == 0


def test_gbt_exact_stumps_floor_division_negative_residuals(spark):
    """Leaf values must FLOOR (not truncate) on negative residual sums —
    the engine/oracle agreement hinges on it."""
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_gbt_stumps_exact,
    )

    # y in {-1, -1, 0} on the left of the only split: sum = -2000 milli
    # over 2 rows -> floor(-1500) ... construct: left rows y = -1, -2
    # (sum -3000, n 2 -> floor -1500), right rows y = 5
    df = spark.createDataFrame(
        [(1, -1), (1, -2), (2, 5), (2, 5)],
        "f1 long, y long",
    )
    out = train_gbt_stumps_exact(df, ["f1"], label_col="y", rounds=1).collect()
    assert out[0]["v_left_q"] == -1500
    assert out[0]["v_right_q"] == 5000


def test_rf_exact_stumps_invariants(spark):
    """Hash-bagged exact stump forest: deterministic across runs, each
    tree trains on a strict subsample, and the confusion counts
    partition the full row set."""
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import (
        train_rf_stumps_exact,
    )

    n = 500
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % 7).alias("f1"),
        (F.col("id") % 11).alias("f2"),
        ((F.col("id") % 7) >= 4).cast("long").alias("y"),  # f1 separates
    )
    out1 = train_rf_stumps_exact(df, ["f1", "f2"], n_trees=3).collect()
    out2 = train_rf_stumps_exact(df, ["f1", "f2"], n_trees=3).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert [r["tree"] for r in out1] == [1, 2, 3]
    for r in out1:
        assert 0 < r["n_sample"] < n  # the bootstrap really subsamples
        # y is exactly f1 >= 4, so every tree must split f1 at 3
        assert (r["feature"], r["threshold"]) == (1, 3)
        assert (r["v_left_q"], r["v_right_q"]) == (0, 1000)
        conf = (r["forest_tp"], r["forest_fp"], r["forest_fn"],
                r["forest_tn"])
        assert sum(conf) == n
        # perfect split -> perfect forest
        assert r["forest_fp"] == 0 and r["forest_fn"] == 0
