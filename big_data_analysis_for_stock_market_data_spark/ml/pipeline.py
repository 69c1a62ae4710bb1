"""Seeded DataFrame-API ML pipelines (reference M1-M4, M8).

The reference builds ``Pipeline(stages=[VectorAssembler, RandomForest])``
(``G_2_rf_nordd.py:57-66``), optionally preceded by ``StandardScaler`` +
``PCA`` (``G_2_rf_pca.py:79-142``), and a ``LinearSVC`` variant
(``G_2_svm.py:160-161``). Engine differences, per SURVEY.md §5/§7:

- every stochastic stage takes an explicit ``seed`` (the reference left
  ``randomSplit`` unseeded at ``G_2_rf_nordd.py:63``);
- the feature DataFrame is cached before split/fit (the reference recomputed
  an 11-join lineage per training pass — SURVEY.md §4 "caching");
- transform choice is a declarative ``transform=`` parameter
  ('none' | 'scale' | 'pca'), mirroring the reference's benchmark grid
  {no transformation, PCA, feature engineering} (``G_2_presentation.pdf
  p.22``) — feature engineering is upstream of this module (the caller
  enriches columns first, e.g. via ``operators.indicators.enrich_ohlcv``).

Scale notes: ``VectorAssembler``/``StandardScaler``/``LinearSVC`` are
single-pass + treeAggregate reductions (driver holds only d-dim vectors);
``PCA`` computes a d x d Gramian on executors — fine for d up to a few
thousand, which covers the reference's 59 columns with orders of magnitude
to spare. ``RandomForestClassifier`` trains on sampled instance weights with
distributed histogram aggregation. Nothing here collects rows to the driver.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LinearSVC, RandomForestClassifier
from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
from pyspark.sql import DataFrame

DEFAULT_SEED = 42

TRANSFORMS = ("none", "scale", "pca")


def _feature_stages(
    feature_cols: Sequence[str],
    transform: str = "none",
    pca_k: int = 12,
    features_col: str = "features",
) -> list:
    """Featurization prefix shared by every estimator: assemble, then
    optionally scale (withMean+withStd as the reference,
    ``G_2_rf_pca.py:79-84``), then optionally project to ``pca_k``
    components (the reference chose k=12 for 95% variance,
    ``G_2_presentation.pdf p.14``)."""
    if transform not in TRANSFORMS:
        raise ValueError(f"transform must be one of {TRANSFORMS}, got {transform!r}")
    stages: list = []
    assembled = "__assembled" if transform != "none" else features_col
    stages.append(
        VectorAssembler(inputCols=list(feature_cols), outputCol=assembled)
    )
    if transform == "scale":
        stages.append(
            StandardScaler(
                inputCol=assembled, outputCol=features_col,
                withMean=True, withStd=True,
            )
        )
    elif transform == "pca":
        stages.append(
            StandardScaler(
                inputCol=assembled, outputCol="__scaled",
                withMean=True, withStd=True,
            )
        )
        stages.append(PCA(k=pca_k, inputCol="__scaled", outputCol=features_col))
    return stages


def make_pipeline(
    estimator,
    feature_cols: Sequence[str],
    transform: str = "none",
    pca_k: int = 12,
) -> Pipeline:
    """``Pipeline([assembler(, scaler)(, pca), estimator])`` — the reference's
    exact composition shape (``G_2_rf_nordd.py:57-66``)."""
    return Pipeline(stages=_feature_stages(feature_cols, transform, pca_k) + [estimator])


@dataclass
class FitResult:
    """Trained model + held-out predictions + honestly-named metrics (Q5)."""

    model: PipelineModel
    predictions: DataFrame
    metrics: dict[str, float] = field(default_factory=dict)


def strip_training_summaries(model):
    """Return ``model`` with training summaries dropped from every stage
    (``stage.copy()`` sheds the summary; parameters and trees survive).

    A training summary pins the SparkSession inside the model, and the
    session is poisoned for closure serialization as soon as ANY
    ``Observation`` has run (Spark 4.1: ``SparkSession.observationManager``
    is lazily initialized and NOT transient — once the single-pass write
    audit touches it, a later ``model.transform``/evaluator call that
    serializes the summary-carrying model dies with
    ``NotSerializableException: ObservationManager``). The engine never
    reads training summaries (metrics come from ml/metrics on held-out
    predictions), so dropping them is pure de-risking plus a memory win
    (the summary retains a cached predictions frame)."""
    if isinstance(model, PipelineModel):
        stages = [
            s.copy() if getattr(s, "hasSummary", False) else s
            for s in model.stages
        ]
        return PipelineModel(stages)
    return model.copy() if getattr(model, "hasSummary", False) else model


@contextmanager
def _cached_projection(df: DataFrame, cols: Sequence[str]):
    """``df.select(*cols)``, cached for the duration of the block. When
    that projection is already cached (the caller cached a frame of exactly
    these columns), it is used as is and left cached: Spark matches caches
    by plan, so unpersisting it would drop the caller's cache."""
    projected = df.select(*cols)
    owned = projected.storageLevel == StorageLevel.NONE
    if owned:
        projected = projected.cache()
    try:
        yield projected
    finally:
        if owned:
            projected.unpersist()


def _fit(
    df: DataFrame,
    pipeline: Pipeline,
    input_cols: Sequence[str],
    label_col: str,
    seed: int,
    train_fraction: float,
    evaluate: bool,
) -> FitResult:
    """Cache ``input_cols`` + label, split with ``seed``, fit ``pipeline``
    on the train part and predict the held-out part."""
    from big_data_analysis_for_stock_market_data_spark.ml.metrics import binary_metrics

    with _cached_projection(df, [*input_cols, label_col]) as projected:
        train, test = projected.randomSplit(
            [train_fraction, 1.0 - train_fraction], seed=seed
        )
        model = strip_training_summaries(pipeline.fit(train))
        predictions = model.transform(test)
        # drop the featurization intermediates the pipeline added
        predictions = predictions.drop(*[
            c for c in predictions.columns
            if c.startswith("__") and c not in projected.columns
        ])
        metrics = (
            binary_metrics(predictions, label_col=label_col) if evaluate else {}
        )
        return FitResult(model=model, predictions=predictions, metrics=metrics)


def train_random_forest(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "buy_or_sell",
    transform: str = "none",
    pca_k: int = 12,
    num_trees: int = 10,
    max_depth: int = 10,
    max_bins: int = 32,
    seed: int = DEFAULT_SEED,
    train_fraction: float = 0.7,
    evaluate: bool = True,
) -> FitResult:
    """RF pipeline (M4; hyperparameters default to the reference's mllib grid
    — numTrees=10, maxDepth=10, maxBins=32, seed=42 at
    ``G_2_rf_rdd.py:163-164`` — applied to the DataFrame API)."""
    rf = RandomForestClassifier(
        labelCol=label_col, featuresCol="features",
        numTrees=num_trees, maxDepth=max_depth, maxBins=max_bins, seed=seed,
    )
    return _fit(df, make_pipeline(rf, feature_cols, transform, pca_k),
                feature_cols, label_col, seed, train_fraction, evaluate)


def train_linear_svc(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "buy_or_sell",
    transform: str = "none",
    pca_k: int = 12,
    max_iter: int = 10,
    reg_param: float = 0.1,
    seed: int = DEFAULT_SEED,
    train_fraction: float = 0.7,
    evaluate: bool = True,
) -> FitResult:
    """LinearSVC pipeline (M8; ``maxIter=10, regParam=0.1`` as
    ``G_2_svm.py:160-161``)."""
    svc = LinearSVC(
        labelCol=label_col, featuresCol="features",
        maxIter=max_iter, regParam=reg_param,
    )
    return _fit(df, make_pipeline(svc, feature_cols, transform, pca_k),
                feature_cols, label_col, seed, train_fraction, evaluate)


def split_bucket(key_col, seed: int = DEFAULT_SEED, buckets: int = 10_000):
    """Deterministic [0, buckets) bucket for a row key: first 8 hex digits
    of md5(key ':' seed). Unlike ``randomSplit``'s Bernoulli sampling —
    whose per-row outcome depends on partition layout and recomputation —
    this is a pure function of the key, so the split is stable under
    repartitioning, AQE re-planning, and lineage recomputation, and any
    engine (or SQL oracle) reproduces it exactly."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat_ws(":", key_col.cast("string"), F.lit(str(seed))))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def hash_split(
    df: DataFrame,
    weights: Sequence[float],
    key_col: str,
    seed: int = DEFAULT_SEED,
) -> list[DataFrame]:
    """``randomSplit``-shaped API over the deterministic ``split_bucket``
    (weights normalized like randomSplit's)."""
    from pyspark.sql import functions as F

    total = float(sum(weights))
    buckets = 10_000
    b = split_bucket(F.col(key_col), seed, buckets)
    out, lo = [], 0.0
    for i, w in enumerate(weights):
        hi = lo + w / total
        hi_b = buckets if i == len(weights) - 1 else int(hi * buckets)
        out.append(df.filter((b >= int(lo * buckets)) & (b < hi_b)))
        lo = hi
    return out


def train_gbt(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "buy_or_sell",
    transform: str = "none",
    pca_k: int = 12,
    max_iter: int = 10,
    max_depth: int = 5,
    step_size: float = 0.1,
    seed: int = DEFAULT_SEED,
    train_fraction: float = 0.7,
    evaluate: bool = True,
) -> FitResult:
    """Gradient-boosted-trees pipeline (reference M10: ``GBTClassifier``
    imported at ``G_2_rf_rdd.py:24`` but never invoked — completed here as
    a first-class estimator). Boosting is sequential over iterations, but
    each tree fit is the same distributed histogram aggregation as RF —
    ``max_iter`` bounds the sequential depth, not the data scale."""
    from pyspark.ml.classification import GBTClassifier

    gbt = GBTClassifier(
        labelCol=label_col, featuresCol="features",
        maxIter=max_iter, maxDepth=max_depth, stepSize=step_size, seed=seed,
    )
    return _fit(df, make_pipeline(gbt, feature_cols, transform, pca_k),
                feature_cols, label_col, seed, train_fraction, evaluate)


def cross_validate_rf(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "buy_or_sell",
    num_trees_grid: Sequence[int] = (5, 10),
    max_depth_grid: Sequence[int] = (3, 5),
    num_folds: int = 3,
    parallelism: int = 4,
    seed: int = DEFAULT_SEED,
) -> "tuple[dict[str, float], DataFrame]":
    """Seeded k-fold model selection over an RF hyperparameter grid
    (reference M10: ``CrossValidator``/``ParamGridBuilder`` imported at
    ``G_2_rf_rdd.py:32`` but never invoked). Returns (best-params dict,
    grid DataFrame of mean AUC per combination).

    Scale notes: ``parallelism`` fits that many grid points concurrently —
    each fit is itself distributed, so this multiplies cluster utilization,
    not driver memory; fold assignment is a seeded hash on rows (no
    materialized fold copies)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    rf = RandomForestClassifier(
        labelCol=label_col, featuresCol="features", seed=seed,
    )
    pipeline = make_pipeline(rf, feature_cols, transform="none")
    grid = (
        ParamGridBuilder()
        .addGrid(rf.numTrees, list(num_trees_grid))
        .addGrid(rf.maxDepth, list(max_depth_grid))
        .build()
    )
    evaluator = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    )
    cv = CrossValidator(
        estimator=pipeline, estimatorParamMaps=grid, evaluator=evaluator,
        numFolds=num_folds, parallelism=parallelism, seed=seed,
    )
    with _cached_projection(df, [*feature_cols, label_col]) as projected:
        model = cv.fit(projected)
    best_rf = model.bestModel.stages[-1]
    best = {
        "num_trees": float(best_rf.getNumTrees),
        "max_depth": float(best_rf.getMaxDepth()),
        "best_avg_auc": round(float(max(model.avgMetrics)), 6),
    }
    spark = df.sparkSession
    rows = [
        (
            int(pm[rf.numTrees]), int(pm[rf.maxDepth]),
            round(float(metric), 6),
        )
        for pm, metric in zip(grid, model.avgMetrics)
    ]
    grid_df = spark.createDataFrame(
        rows, "num_trees int, max_depth int, avg_auc double"
    )
    return best, grid_df


def correlated_split(
    df: DataFrame,
    feature_cols: Sequence[str],
    threshold: float = 0.9,
) -> "tuple[list[str], list[str]]":
    """Partition features into (correlated, non_correlated) groups: a column
    is 'correlated' iff it has |Pearson r| >= threshold with at least one
    other feature. The reference hardcoded its two lists
    (``G_2_rf_pca.py:74-76``); this derives the same split from the data —
    one distributed Gramian pass (``Correlation.corr``), d×d result on the
    driver (d = |features|, tiny)."""
    from pyspark.ml.stat import Correlation

    assembled = VectorAssembler(
        inputCols=list(feature_cols), outputCol="__corr_vec"
    ).transform(df.select(*feature_cols))
    mat = Correlation.corr(assembled, "__corr_vec").head()[0].toArray()
    d = len(feature_cols)
    correlated = [
        feature_cols[i]
        for i in range(d)
        if any(j != i and abs(mat[i][j]) >= threshold for j in range(d))
    ]
    flagged = set(correlated)
    non_correlated = [c for c in feature_cols if c not in flagged]
    return correlated, non_correlated


def grouped_feature_stages(
    groups: "dict[str, tuple[Sequence[str], str, int]]",
    features_col: str = "features",
) -> list:
    """Per-group featurization (reference ``G_2_rf_pca.py:74-90,132-142``:
    the ``correlated`` and ``non_correlated`` column groups are scaled and
    PCA-projected SEPARATELY, then the model trains on the union).

    ``groups`` maps group name -> (columns, transform, pca_k); each group
    gets its own assembler(+scaler)(+PCA) chain writing ``__<name>_out``,
    and a final VectorAssembler concatenates the group outputs into
    ``features_col``. Every stage is the same single-pass/treeAggregate
    machinery as the one-group path — grouping multiplies stage count, not
    data passes over anything wider than the group."""
    stages: list = []
    outs: list[str] = []
    for name, (cols, transform, pca_k) in groups.items():
        out = f"__{name}_out"
        group_stages = _feature_stages(cols, transform, pca_k, features_col=out)
        # _feature_stages writes intermediates __assembled/__scaled; rename
        # per group so chains don't collide inside one Pipeline
        for st in group_stages:
            for pname in ("inputCol", "outputCol"):
                if st.hasParam(pname):
                    v = st.getOrDefault(pname)
                    if v in ("__assembled", "__scaled"):
                        st.set(st.getParam(pname), f"__{name}{v}")
        stages.extend(group_stages)
        outs.append(out)
    stages.append(VectorAssembler(inputCols=outs, outputCol=features_col))
    return stages


def train_rf_grouped(
    df: DataFrame,
    groups: "dict[str, tuple[Sequence[str], str, int]]",
    label_col: str = "buy_or_sell",
    num_trees: int = 10,
    max_depth: int = 10,
    seed: int = DEFAULT_SEED,
    train_fraction: float = 0.7,
    evaluate: bool = True,
) -> FitResult:
    """RF on per-group featurized columns — the reference's rf_pca variant
    with its two-group scale+PCA preprocessing (``G_2_rf_pca.py:132-142``)."""
    all_cols = [c for cols, _, _ in groups.values() for c in cols]
    rf = RandomForestClassifier(
        labelCol=label_col, featuresCol="features",
        numTrees=num_trees, maxDepth=max_depth, seed=seed,
    )
    pipeline = Pipeline(stages=grouped_feature_stages(groups) + [rf])
    return _fit(df, pipeline, all_cols, label_col, seed, train_fraction,
                evaluate)


def pca_explained_variance(
    df: DataFrame,
    feature_cols: Sequence[str],
    k: int,
) -> list[float]:
    """Explained-variance ratios of the top-k principal components on
    standardized features (the reference's k-selection step: k=59 explore →
    k=12 at 95% cumulative variance, ``G_2_rf_pca.py:100-142``,
    ``G_2_presentation.pdf p.14``)."""
    stages = _feature_stages(feature_cols, transform="pca", pca_k=k)
    model = Pipeline(stages=stages).fit(df.select(*feature_cols))
    pca_model = model.stages[-1]
    return [float(v) for v in pca_model.explainedVariance]


def quantile_bins(
    df,
    col: str,
    n_bins: int,
    out: str = "bin",
    round_to: int = 6,
):
    """Feature discretization on EXACT quantile boundaries — the
    deterministic twin of ``QuantileDiscretizer`` (which bins on
    approxQuantile sketches whose cut points drift with partitioning).
    Boundaries are exact interpolated percentiles rounded once to
    ``round_to`` dp (so any engine computes identical cut points); the bin
    id is the count of boundaries <= value. The boundary aggregate stays
    IN the plan as a broadcast 1-row cross join (no ``.first()`` driver
    scalar); binning itself is a pure projection — no extra shuffle, no
    UDF."""
    from pyspark.sql import functions as F

    fracs = [i / n_bins for i in range(1, n_bins)]
    bounds = df.agg(
        *[
            F.round(F.percentile(col, F.lit(q)), round_to).alias(f"__q{i}")
            for i, q in enumerate(fracs)
        ]
    )
    b = F.lit(0)
    for i in range(len(fracs)):
        b = b + (F.col(col) >= F.col(f"__q{i}")).cast("int")
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out, b)
        .drop(*[f"__q{i}" for i in range(len(fracs))])
    )


def string_index(
    df,
    col: str,
    out: str | None = None,
) -> "DataFrame":
    """Deterministic StringIndexer twin: category -> dense integer index
    ordered by (frequency DESC, value ASC) — Spark ML's own
    ``frequencyDesc`` ordering with the tie-break made EXPLICIT (the ML
    stage breaks frequency ties by encounter order, which depends on
    partition layout; this one is a pure function of the data). Nulls
    index to -1 (ML's 'keep' puts them last at index |vocab|; an explicit
    sentinel survives re-indexing when the vocabulary grows).

    Plan: one vocab-sized grouped count + a dense_rank window over the
    |vocab| aggregate (never raw rows) + one broadcast-sized join back."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = out or f"{col}_idx"
    vocab = df.filter(F.col(col).isNotNull()).groupBy(col).agg(
        F.count(F.lit(1)).alias("__freq")
    )
    w = Window.orderBy(F.col("__freq").desc(), F.col(col).asc())
    # the window runs over |vocab| rows, not raw data — a bounded,
    # dimension-sized sort exactly like topk_per_group's rank stage
    mapping = vocab.select(
        col, (F.row_number().over(w) - 1).cast("long").alias(out)
    )
    joined = df.join(F.broadcast(mapping), on=col, how="left")
    return joined.withColumn(out, F.coalesce(F.col(out), F.lit(-1)))


def train_lda_topics(
    docs: DataFrame,
    k: int = 5,
    max_iter: int = 10,
    vocab_size: int = 256,
    top_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Seeded LDA topic model with a DETERMINISTIC vectorizer: the
    vocabulary is ranked (count DESC, term ASC) — CountVectorizer's
    frequency ties break on partition order, which silently reshuffles
    feature indices between runs (same hazard ml/pipeline.string_index
    fixes for StringIndexer) — and each document's term-frequency vector
    is assembled JVM-side (map_from_entries → bounded dense array →
    ``array_to_vector``; no Python UDF). LDA(online, seeded) then runs
    distributed variational EM, one corpus pass per iteration.

    Returns the topic description table (topic, term_rank, term, weight)
    for the ``top_terms`` heaviest terms per topic. Rows-only by nature
    (float EM has no SQL twin); shape AND run-to-run determinism are
    pinned in test_ml.

    Scale: the vocab ranking is one count-shuffle + a |vocab|-row window
    (vocab_size bounded); the TF assembly is one explode + one grouped
    collect keyed by document — the same shuffles any distributed
    vectorizer pays."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = docs.select(
        id_col,
        F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
        ).alias("__tokens"),
    )
    terms = toks.select(
        id_col, F.explode("__tokens").alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("__n"))
    w_vocab = Window.orderBy(F.desc("__n"), F.asc("term"))
    vocab_df = (
        counts.withColumn("term_idx", F.row_number().over(w_vocab) - 1)
        .filter(F.col("term_idx") < vocab_size)
        .select("term_idx", "term")
    )
    n_vocab = min(vocab_size, vocab_df.count())
    per_doc = (
        terms.join(F.broadcast(vocab_df), "term")
        .groupBy(id_col, "term_idx")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term_idx", "__tf"))
            ).alias("__m")
        )
    )
    tf = per_doc.select(
        array_to_vector(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_vocab - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("__m"), i.cast("int")), F.lit(0.0)
                ),
            )
        ).alias("__tf_vec")
    )
    lda = LDA(
        k=k, maxIter=max_iter, seed=seed, featuresCol="__tf_vec",
        optimizer="online",
    )
    lda_model = strip_training_summaries(lda.fit(tf))
    topics = lda_model.describeTopics(top_terms)
    exploded = topics.select(
        "topic",
        F.posexplode(
            F.arrays_zip("termIndices", "termWeights")
        ).alias("term_rank", "z"),
    ).select(
        "topic",
        "term_rank",
        F.col("z.termIndices").alias("term_idx"),
        F.col("z.termWeights").alias("weight"),
    )
    return (
        exploded.join(F.broadcast(vocab_df), "term_idx")
        .select("topic", "term_rank", "term", "weight")
        .orderBy("topic", "term_rank")
    )


def train_als_recommend(
    ratings: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    rank: int = 4,
    max_iter: int = 5,
    reg: float = 0.1,
    k: int = 3,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Seeded implicit-preference ALS + top-k item recommendations per
    user — the collaborative-filtering workhorse (distributed alternating
    least squares; each half-step solves per-entity normal equations from
    a co-partitioned ratings block — Spark ML's blocked ALS). Returns
    (user, rec_rank, item, score) rows. Rows-only by nature (iterative
    float factorization); shape pinned in test_ml."""
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import functions as F

    als = ALS(
        rank=rank, maxIter=max_iter, regParam=reg, seed=seed,
        userCol=user_col, itemCol=item_col, ratingCol=rating_col,
        implicitPrefs=True, coldStartStrategy="drop",
        nonnegative=True,
    )
    model = strip_training_summaries(als.fit(ratings))
    recs = model.recommendForAllUsers(k)
    return recs.select(
        F.col(user_col),
        F.posexplode("recommendations").alias("rec_rank", "rec"),
    ).select(
        user_col,
        "rec_rank",
        F.col(f"rec.{item_col}").alias("item"),
        F.col("rec.rating").alias("score"),
    ).orderBy(user_col, "rec_rank")


def train_als_rank1_exact(
    ratings: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    rating_col: str = "rating",
    alpha: int = 40,
    lam_sq: int = 100_000,   # lambda * S^2 with lambda=0.1, S=1000
    s: int = 1000,           # fixed-point scale for factors
    rounds: int = 2,
    k: int = 3,
    pool: int = 50,
) -> DataFrame:
    """Rank-1 implicit-feedback ALS (Hu-Koren-Volinsky 2008) in EXACT
    fixed-point integer arithmetic — the oracle-able twin of Spark ML's
    blocked float ALS (``train_als_recommend``). At rank 1 each ALS
    half-step has a closed form: for confidence c = 1 + alpha*r over the
    observed pairs and the implicit all-items gram term G = sum(f^2),

        u_i = sum_obs(c * v_j) / (lambda + G_v + sum_obs((c-1) * v_j^2))

    and symmetrically for items. Factors are quantized to S=1000 fixed
    point after every half-step with floor division, so every
    intermediate is a plain integer and DuckDB replays the identical
    iteration as unrolled CTEs (hash-exact). Scoring: candidate pool =
    global top-``pool`` items by final factor, minus each user's seen
    items, top-``k`` per user by (score desc, item asc).

    The distributed shape is the real one: each half-step is one
    key-partitioned join + hash aggregate (the rank-1 case of blocked
    ALS's normal-equation solve), the gram term a 1-row broadcast fold,
    and the pool a broadcast top-N — no user x item cartesian anywhere.
    Returns (user, rec_rank, item, score_q) with exact integer scores.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    c = (F.lit(1) + F.lit(alpha) * F.col(rating_col).cast("long")).alias(
        "__c"
    )
    # Checkpoint the confidence table once and each factor table per
    # half-step: iterative lineage otherwise re-derives the whole chain
    # under every subsequent step (textually ~4x per round, and real
    # recomputation wherever the scheduler can't reuse an exchange).
    # Spark ML's ALS checkpoints its factors for exactly this reason; at
    # cluster scale point sparkContext.setCheckpointDir at reliable
    # storage and use .checkpoint() instead.
    rs = ratings.select(
        F.col(user_col).cast("long").alias("__u"),
        F.col(item_col).cast("long").alias("__i"),
        c,
    ).localCheckpoint(eager=True)

    def half_step(fac: DataFrame, in_key: str, out_key: str) -> DataFrame:
        """One ALS half-step: solve every out_key entity's 1x1 normal
        equation from the in_key factors; returns (out_key, __fq)."""
        gram = fac.agg(
            F.sum(F.col("__fq") * F.col("__fq")).alias("__g")
        )
        agg = (
            rs.join(fac, in_key)
            .groupBy(out_key)
            .agg(
                F.sum(F.col("__c") * F.col("__fq")).alias("__num"),
                F.sum(
                    (F.col("__c") - F.lit(1))
                    * F.col("__fq") * F.col("__fq")
                ).alias("__obs_den"),
            )
        )
        return agg.crossJoin(F.broadcast(gram)).select(
            out_key,
            F.expr(
                f"(__num * {s * s}L) div "
                f"({lam_sq}L + __g + __obs_den)"
            ).alias("__fq"),
        )

    v = rs.select("__i").distinct().withColumn("__fq", F.lit(s).cast("long"))
    u = None
    for _ in range(rounds):
        u = half_step(v, "__i", "__u").localCheckpoint(eager=True)
        v = half_step(u, "__u", "__i").localCheckpoint(eager=True)

    pool_items = F.broadcast(
        v.orderBy(F.col("__fq").desc(), F.col("__i")).limit(pool)
        .select(F.col("__i"), F.col("__fq").alias("__vq"))
    )
    cand = (
        u.withColumnRenamed("__fq", "__uq")
        .crossJoin(pool_items)
        .join(rs.select("__u", "__i"), ["__u", "__i"], "left_anti")
        .select(
            "__u", "__i",
            (F.col("__uq") * F.col("__vq")).alias("__score"),
        )
    )
    w = Window.partitionBy("__u").orderBy(
        F.col("__score").desc(), F.col("__i")
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__u").alias(user_col),
            (F.col("__rn") - 1).cast("long").alias("rec_rank"),
            F.col("__i").alias(item_col),
            F.col("__score").alias("score_q"),
        )
        .orderBy(user_col, "rec_rank")
    )


def train_plsa_topics(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    vocab_size: int = 100,
    iters: int = 2,
    top_terms: int = 5,
    s_resp: int = 10_000,     # responsibility fixed-point scale
    s_prob: int = 1_000_000,  # factor fixed-point scale
) -> DataFrame:
    """Seeded quantized PLSA-EM topic model — the oracle-able twin of
    Spark ML's variational LDA (``train_lda_topics``): maximum-likelihood
    pLSI (Hofmann 1999), the non-Bayesian sibling LDA reduces to under a
    uniform prior. Every EM quantity is an exact integer on both engines:

    - init: phi0(z,w) = 1000 + md5(w ':' z)[0:8] % 1000 (symmetry
      breaking both engines compute identically), theta0(d,z) = 1000;
    - E-step: r(d,w,z) = c_dw * theta(d,z)*phi(z,w) * S_resp
      floor-div max(sum_z theta*phi, 1)  — integer responsibilities;
    - M-step: phi(z,w) = sum_d r * S_prob floor-div topic total, and
      symmetrically theta — integer renormalization.

    Distributed shape: tokenize + count is one flatMap + hash aggregate;
    each E-step is two key-equi joins (theta on doc, phi on (z, term))
    plus a (doc, term)-partitioned window for the denominator; each
    M-step a hash aggregate + a topic/doc-partitioned normalization
    window. k multiplies rows, never a cartesian. Vocabulary is the
    global top-``vocab_size`` terms (broadcast join).

    Returns (topic, term_rank, term, phi_q): the top-``top_terms`` terms
    per topic by final quantized phi, ties broken by term — hash-exact
    against the unrolled-CTE SQL replay.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("term"),
    )
    cnt = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = (
        cnt.groupBy("term").agg(F.sum("c").alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("term"))
        .limit(vocab_size)
        .select("term")
    )
    # Checkpoint the (doc, term, count) working set once and the factor
    # tables per EM iteration — same lineage-truncation rationale as
    # train_als_rank1_exact (and text.bpe: per-round checkpoints keep
    # iterative plans linear instead of exponential in rounds).
    pairs = cnt.join(F.broadcast(vocab), "term").select(
        "doc_id", "term", F.col("c").cast("long").alias("c")
    ).localCheckpoint(eager=True)
    topics = docs.sparkSession.range(k).select(F.col("id").alias("z"))
    phi = (
        vocab.crossJoin(F.broadcast(topics))
        .select(
            "z", "term",
            (
                F.lit(1000)
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("term"), F.lit(":"),
                                F.col("z").cast("string"),
                            )
                        ),
                        1, 8,
                    ),
                    16, 10,
                ).cast("long") % 1000
            ).alias("pq"),
        )
    )
    theta = (
        pairs.select("doc_id").distinct()
        .crossJoin(F.broadcast(topics))
        .select("doc_id", "z", F.lit(1000).cast("long").alias("tq"))
    )
    w_pair = Window.partitionBy("doc_id", "term")
    w_topic = Window.partitionBy("z")
    w_doc = Window.partitionBy("doc_id")
    for _ in range(iters):
        e = (
            pairs.join(theta, "doc_id")
            .join(phi, ["z", "term"])
            .withColumn("num", F.col("tq") * F.col("pq"))
        )
        e = e.withColumn(
            "r",
            F.expr(
                f"(c * num * {s_resp}L) div "
                "greatest(sum(num) over "
                "(partition by doc_id, term), 1L)"
            ),
        ).select("doc_id", "term", "z", "r")
        phi_raw = e.groupBy("z", "term").agg(F.sum("r").alias("raw"))
        phi = phi_raw.select(
            "z", "term",
            F.expr(
                f"(raw * {s_prob}L) div "
                "greatest(sum(raw) over (partition by z), 1L)"
            ).alias("pq"),
        )
        theta_raw = e.groupBy("doc_id", "z").agg(F.sum("r").alias("raw"))
        theta = theta_raw.select(
            "doc_id", "z",
            F.expr(
                f"(raw * {s_prob}L) div "
                "greatest(sum(raw) over (partition by doc_id), 1L)"
            ).alias("tq"),
        ).localCheckpoint(eager=True)
        phi = phi.localCheckpoint(eager=True)
    w_rank = Window.partitionBy("z").orderBy(
        F.col("pq").desc(), F.col("term")
    )
    return (
        phi.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= top_terms)
        .select(
            F.col("z").cast("long").alias("topic"),
            (F.col("rn") - 1).cast("long").alias("term_rank"),
            "term",
            F.col("pq").cast("long").alias("phi_q"),
        )
        .orderBy("topic", "term_rank")
    )


def _best_stump(
    rows: DataFrame, feature_cols: Sequence[str], target: str
) -> DataFrame:
    """The exact stump split search of both integer tree ensembles, over
    the integer feature columns and the integer ``target`` column:

    - the features melt (``stack``) into (fid, fval, target) rows; per
      (fid, fval) a count + target sum, then prefix sums over the value
      order give every threshold's left partition in ONE pass (no
      candidate x row explode — the split-finding shape blocked GBT
      uses at scale, here exact);
    - integer leaf values v = floor(sum/n) via the pmod identity
      spelled out on BOTH engines (neither Spark's ``div`` nor
      DuckDB's ``//`` floors on negatives — both truncate — but the
      pre-subtracted numerator is exactly divisible, so truncation is
      exact);
    - split score = the TRUE SSE reduction under integer leaves,
      2*v*s - v^2*n summed over both sides — pure BIGINT (no rational
      cross-multiplication).

    Returns the 1-row winner on (gain DESC, feature, value):
    (fid, fval, __vl, __vr, __n, __gain), ``__n`` the row count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    stack_expr = "stack({}, {}) as (fid, fval)".format(
        len(feature_cols),
        ", ".join(
            f"{i + 1}, cast({c} as long)" for i, c in enumerate(feature_cols)
        ),
    )
    tot = rows.agg(F.count(F.lit(1)).alias("__n"), F.sum(target).alias("__s"))
    by_val = rows.selectExpr(stack_expr, target).groupBy("fid", "fval").agg(
        F.count(F.lit(1)).alias("__cn"),
        F.sum(target).alias("__cs"),
    )
    w = Window.partitionBy("fid").orderBy("fval")
    wall = Window.partitionBy("fid")
    fdiv = "(({s}) - pmod(({s}), ({n}))) div ({n})"
    cand = (
        by_val.select(
            "fid", "fval",
            F.sum("__cn").over(w).alias("__nl"),
            F.sum("__cs").over(w).alias("__sl"),
            F.max("fval").over(wall).alias("__maxv"),
        )
        .filter(F.col("fval") < F.col("__maxv"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "fid", "fval", "__nl", "__sl", "__n",
            "__n - __nl as __nr", "__s - __sl as __sr",
        )
        .selectExpr(
            "fid", "fval", "__nl", "__nr", "__n", "__sl", "__sr",
            fdiv.format(s="__sl", n="__nl") + " as __vl",
            fdiv.format(s="__sr", n="__nr") + " as __vr",
        )
        .selectExpr(
            "fid", "fval", "__vl", "__vr", "__n",
            "2*__vl*__sl - __vl*__vl*__nl"
            " + 2*__vr*__sr - __vr*__vr*__nr as __gain",
        )
    )
    return cand.orderBy(F.col("__gain").desc(), "fid", "fval").limit(1)


def _stump_leaf(feature_cols: Sequence[str]):
    """The leaf a stump (fid, fval, __vl, __vr) crossed into a row gives
    it: ``__vl`` when the row's split feature is <= fval, else ``__vr``."""
    from pyspark.sql import functions as F

    split_val = "case fid {} end".format(
        " ".join(
            f"when {i + 1} then cast({c} as long)"
            for i, c in enumerate(feature_cols)
        )
    )
    return F.when(
        F.expr(split_val) <= F.col("fval"), F.col("__vl")
    ).otherwise(F.col("__vr"))


def train_gbt_stumps_exact(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "y",
    rounds: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Gradient-boosted REGRESSION STUMPS in EXACT integer arithmetic —
    the oracle-able twin of Spark ML's float GBT (``train_gbt``, which
    stays rows-only: impurity ordering over doubles is not replayable).
    Squared loss, depth-1 trees, learning rate 1, predictions and
    residuals in ``scale`` fixed point. Each round finds the best split
    of the residuals with ``_best_stump``, the exact split search
    ``train_rf_stumps_exact`` also runs (ties broken on gain DESC,
    feature, value). The 1-row winner broadcast-joins back to update
    predictions (no driver scalars), with a localCheckpoint truncating
    the iterative lineage (same discipline as ALS/BPE/PLSA).

    Returns one row per round: (round, feature, threshold,
    v_left_q, v_right_q, gain, sum_abs_res_q) — the fitted model AND
    its training trajectory, hash-comparable against an unrolled-CTE
    SQL replay."""
    from pyspark.sql import functions as F

    cur = df.select(
        *[F.col(c).cast("long").alias(c) for c in feature_cols],
        (F.col(label_col).cast("long") * scale).alias("__ym"),
        F.lit(0).cast("long").alias("__pred"),
    ).localCheckpoint(eager=True)

    out_rows = []
    for r in range(1, rounds + 1):
        res = cur.withColumn("__res", F.col("__ym") - F.col("__pred"))
        best = F.broadcast(_best_stump(res, feature_cols, "__res"))
        cur = (
            res.crossJoin(best)
            .withColumn("__pred", F.col("__pred") + _stump_leaf(feature_cols))
            .select(*feature_cols, "__ym", "__pred")
            .localCheckpoint(eager=True)
        )
        post = cur.agg(
            F.sum(F.abs(F.col("__ym") - F.col("__pred"))).alias("__sar")
        )
        out_rows.append(
            best.crossJoin(F.broadcast(post)).select(
                F.lit(r).cast("long").alias("round"),
                F.col("fid").cast("long").alias("feature"),
                F.col("fval").cast("long").alias("threshold"),
                F.col("__vl").cast("long").alias("v_left_q"),
                F.col("__vr").cast("long").alias("v_right_q"),
                F.col("__gain").cast("long").alias("gain"),
                F.col("__sar").cast("long").alias("sum_abs_res_q"),
            )
        )
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionByName(o)
    return out.orderBy("round")


def train_rf_stumps_exact(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str = "y",
    id_col: str = "rid",
    n_trees: int = 5,
    keep_mod: int = 10,
    keep_lt: int = 7,
    seed: int = 42,
    scale: int = 1000,
) -> DataFrame:
    """Random-forest STUMPS in EXACT integer arithmetic — the
    oracle-able twin of Spark ML's RandomForestClassifier
    (``train_random_forest``, which stays rows-only: its impurity
    ordering and XORShift bootstrap are not SQL-replayable). Each of
    ``n_trees`` depth-1 trees trains on a DETERMINISTIC md5-hash
    bootstrap (keep rows with hash(rid:tree:seed) % keep_mod <
    keep_lt — the same md5-bucket idiom as o3_hash_split /
    samp_hash_percent), finding the best split by exact SSE reduction
    over the 0/``scale`` label — for binary labels variance reduction
    IS Gini gain times n, so the integer criterion matches the
    classifier's impurity ordering without rational arithmetic. The
    forest then majority-votes every row (leaf value >= scale/2 votes
    1), and the confusion counts ride along on every output row.

    One row per tree: (tree, feature, threshold, v_left_q, v_right_q,
    gain, n_sample, forest_tp, forest_fp, forest_fn, forest_tn). Each
    tree's split comes from ``_best_stump``, the split search
    ``train_gbt_stumps_exact`` runs."""
    from pyspark.sql import functions as F

    base = df.select(
        F.col(id_col).cast("long").alias("__rid"),
        *[F.col(c).cast("long").alias(c) for c in feature_cols],
        (F.col(label_col).cast("long") * scale).alias("__ym"),
    ).localCheckpoint(eager=True)

    bests = []
    for t in range(1, n_trees + 1):
        samp = base.filter(
            F.expr(
                f"cast(conv(substring(md5(concat(cast(__rid as string), "
                f"':{t}:{seed}')), 1, 8), 16, 10) as bigint) % {keep_mod}"
            ) < keep_lt
        )
        bests.append(
            _best_stump(samp, feature_cols, "__ym").select(
                F.lit(t).cast("long").alias("tree"),
                "fid", "fval", "__vl", "__vr", "__gain",
                F.col("__n").alias("__nsamp"),
            )
        )
    stumps = bests[0]
    for b in bests[1:]:
        stumps = stumps.unionByName(b)
    stumps = stumps.localCheckpoint(eager=True)

    votes = (
        base.crossJoin(F.broadcast(stumps))
        .withColumn("__leaf", _stump_leaf(feature_cols))
        .withColumn(
            "__vote",
            (2 * F.col("__leaf") >= F.lit(scale)).cast("long"),
        )
        .groupBy("__rid", "__ym")
        .agg(F.sum("__vote").alias("__votes"))
        .withColumn(
            "__pred",
            (2 * F.col("__votes") > F.lit(n_trees)).cast("long"),
        )
        .withColumn("__y", (F.col("__ym") > 0).cast("long"))
    )
    conf = votes.agg(
        F.sum(
            (F.col("__pred") * F.col("__y")).cast("long")
        ).alias("forest_tp"),
        F.sum(
            (F.col("__pred") * (1 - F.col("__y"))).cast("long")
        ).alias("forest_fp"),
        F.sum(
            ((1 - F.col("__pred")) * F.col("__y")).cast("long")
        ).alias("forest_fn"),
        F.sum(
            ((1 - F.col("__pred")) * (1 - F.col("__y"))).cast("long")
        ).alias("forest_tn"),
    )
    return (
        stumps.crossJoin(F.broadcast(conf))
        .select(
            "tree",
            F.col("fid").cast("long").alias("feature"),
            F.col("fval").cast("long").alias("threshold"),
            F.col("__vl").cast("long").alias("v_left_q"),
            F.col("__vr").cast("long").alias("v_right_q"),
            F.col("__gain").cast("long").alias("gain"),
            F.col("__nsamp").cast("long").alias("n_sample"),
            "forest_tp", "forest_fp", "forest_fn", "forest_tn",
        )
        .orderBy("tree")
    )
