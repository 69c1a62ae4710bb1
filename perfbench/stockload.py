"""The stock workload: the reference pipeline (feature engineering, then a
RandomForest fit and its evaluation) on few deep keys.

The minute bars come from the package's own fixture generator, seeded by
the workload seed, and are written to parquet during set-up, so each
iteration starts from a parquet scan as the reference job did.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

from big_data_analysis_for_stock_market_data_spark import ml, stock
from big_data_analysis_for_stock_market_data_spark.operators import (
    indicators as ind,
)
from big_data_analysis_for_stock_market_data_spark.operators import (
    windows as win_ops,
)
from big_data_analysis_for_stock_market_data_spark.sources import io

LABEL = "buy_or_sell"

#: (n_rows, n_symbols): the reference's 4 symbols with 2,500 bars each;
#: ``toy`` serves the self-test
SIZES = {"full": (10_000, 4), "toy": (2_400, 4)}
#: RandomForest sums its split statistics in task-completion order, so
#: areaUnderROC repeats only to about 1e-6 between identical fits
AUC_TOLERANCE = 1e-4

#: Pipeline stages of the traced run, in pipeline order.
STAGES = (
    "sources.read",
    "stock.hints",
    "windows.daily_label",
    "indicators.closed_form",
    "indicators.recursive",
    "ml.cache",
    "ml.fit",
    "ml.eval",
)
STAGE_FIELDS = ("s", "task_run_s", "gc_s", "shuffle_write_mb", "spill_mb",
                "busy_frac")
PY_FIELDS = ("py_boot_s", "py_run_s", "arrow_to_py_mb", "arrow_from_py_mb")


def content_hash(df) -> tuple[int, str]:
    """(row count, order-insensitive value hash of tools/check_correctness)."""
    from tools.check_correctness import table_hash

    pdf = df.toPandas()
    rows = list(pdf.itertuples(index=False, name=None))
    return len(rows), table_hash(rows, list(pdf.columns))


class StockWorkload:
    # the output check runs only the day-grain part of the pipeline
    WARMUP_ITERATIONS = 1
    NOMINAL_ITER_S = 4.0

    def __init__(self, spark, seed: int, toy: bool, workdir: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.n_rows, self.n_symbols = SIZES["toy" if toy else "full"]
        self.cores = cores
        self.path = os.path.join(workdir, "bars.parquet")
        self.hints: dict = {}
        self.train_rows = self.n_rows - self.n_symbols * stock.MINUTES_PER_DAY
        self.aucs: list[float] = []
        self.problems: list[str] = []

    # -- set-up ---------------------------------------------------------
    def setup_once(self) -> None:
        """Generate the bars from the seed, write them to parquet, and
        compute the pipeline's control-plane hints on them."""
        stock.make_stock_fixture(
            self.spark, n_rows=self.n_rows, n_symbols=self.n_symbols,
            seed=self.seed,
        ).write.mode("overwrite").parquet(self.path)
        self.hints = stock.feature_hints(self.bars())

    def bars(self):
        return io.read_parquet(self.spark, self.path)

    def check_once(self) -> bool:
        """Run-level output check: the fused day-grain features (window
        expressions, no join) must hash-equal the reference's
        compute-aside-then-join form, which is the only part of the
        feature frame ``fused`` changes."""
        fused = content_hash(stock.daily_features(self.bars(), fused=True))
        joined = content_hash(stock.daily_features(self.bars(), fused=False))
        if fused != joined or fused[0] != self.n_rows:
            self.problems.append(f"fused daily features {fused} != join-back "
                                 f"{joined} ({self.n_rows} rows expected)")
            return False
        return True

    # -- one iteration --------------------------------------------------
    def surface(self, frame):
        # hash partitioning (not round-robin) keeps every row in the same
        # partition on every run, so the seeded train/test split repeats
        return (
            frame.select(*stock.FEATURE_COLS, LABEL)
            .na.drop()
            .repartition(self.cores, *stock.FEATURE_COLS)
        )

    def iterate(self) -> bool:
        """One pipeline run; True when its outputs pass their checks: the
        training surface drops exactly one trading day of rows per symbol
        (those whose features are still undefined), and the held-out
        areaUnderROC matches the run's first fit."""
        frame = stock.feature_frame(self.bars(), **self.hints)
        surf = self.surface(frame).cache()
        try:
            n = surf.count()
            fit = ml.train_random_forest(
                surf, stock.FEATURE_COLS, label_col=LABEL, num_trees=10,
                max_depth=10, seed=42,
            )
        finally:
            surf.unpersist()
        auc = fit.metrics["areaUnderROC"]
        ok = True
        if n != self.train_rows:
            self.problems.append(f"training surface has {n} rows, "
                                 f"expected {self.train_rows}")
            ok = False
        if self.aucs and abs(auc - self.aucs[0]) > AUC_TOLERANCE:
            self.problems.append(f"roc_auc {auc!r} != first {self.aucs[0]!r}")
            ok = False
        self.aucs.append(auc)
        return ok

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        if self.aucs:
            return {"roc_auc": (self.aucs[0], "ratio")}
        return {}

    # -- traced run -----------------------------------------------------
    def _daily_label(self):
        d = stock.daily_features(self.bars(), fused=True)
        return win_ops.label_buy_sell(
            d, value_col="high", order_by="date", partition_by="symbol",
            mode="lead",
        )

    def _closed_form(self):
        return win_ops.rolling_apply_parallel(
            self._daily_label(), ind._closed_form_pandas,
            {c: T.DoubleType() for c in ind.CLOSED_FORM_COLS},
            lookback=ind.CLOSED_FORM_LOOKBACK, order_by="date",
            partition_by="symbol", cuts=self.hints["cuts"],
        )

    def _stage_calls(self, tracer) -> dict:
        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with tracer.call("sources.read"):
            noop(self.bars())
        with tracer.call("stock.hints"):
            stock.feature_hints(self.bars())
        with tracer.call("windows.daily_label"):
            noop(self._daily_label())
        with tracer.call("indicators.closed_form"):
            noop(self._closed_form())
        # the iteration keeps only the surface's columns of the feature
        # frame, so the last feature stage is measured on that projection
        with tracer.call("indicators.recursive"):
            noop(self.surface(stock.feature_frame(self.bars(), **self.hints)))
        surf = self.surface(
            stock.feature_frame(self.bars(), **self.hints)
        ).cache()
        # the same sink as the stage before, so the difference is the cost
        # of building the cache
        with tracer.call("ml.cache"):
            noop(surf)
        # the fit evaluates while its split is still cached, so evaluation
        # is measured as a fit with it minus a fit without
        for name, evaluate in (("ml.fit", False), ("ml.eval", True)):
            with tracer.call(name):
                ml.train_random_forest(
                    surf, stock.FEATURE_COLS, label_col=LABEL, num_trees=10,
                    max_depth=10, seed=42, evaluate=evaluate,
                )
        surf.unpersist()
        return {c.name: c for c in tracer.collect()}

    def trace_layers(self, tracer) -> dict[str, float]:
        """Per-stage costs by the difference method: stage k costs the
        materialization of the pipeline up to k minus that up to k-1.
        The stages run twice and each keeps its faster pass: on the first,
        each new plan shape pays its code generation in whichever stage
        meets it first. A difference within run-to-run noise (about 0.5 s
        here) of zero, either sign, means the stage adds no measurable
        cost."""
        first = self._stage_calls(tracer)
        calls = {
            name: min(c, first[name], key=lambda x: x.wall_s)
            for name, c in self._stage_calls(tracer).items()
        }

        # which earlier call each cumulative call is measured against
        base = {
            "indicators.closed_form": "windows.daily_label",
            "indicators.recursive": "indicators.closed_form",
            "ml.cache": "indicators.recursive",
            "windows.daily_label": "sources.read",
            "ml.eval": "ml.fit",
        }
        out: dict[str, float] = {}
        for stage in STAGES:
            c = calls[stage]
            b = calls.get(base.get(stage, ""))

            def delta(attr, c=c, b=b):
                v = getattr(c, attr)
                return v - getattr(b, attr) if b is not None else v

            wall = delta("wall_s")
            task = delta("task_run_s")
            out[f"{stage}.s"] = wall
            out[f"{stage}.task_run_s"] = task
            out[f"{stage}.gc_s"] = delta("gc_s")
            out[f"{stage}.shuffle_write_mb"] = delta("shuffle_write_mb")
            out[f"{stage}.spill_mb"] = delta("spill_mb")
            out[f"{stage}.busy_frac"] = (
                task / (wall * self.cores) if wall > 0 else 0.0
            )
        out["stock.hints.jobs"] = float(calls["stock.hints"].jobs)
        # both Python crossings of the pipeline run inside the last
        # feature-stage materialization
        full = calls["indicators.recursive"]
        for f in PY_FIELDS:
            out[f"indicators.{f}"] = getattr(full, f)
        return out
