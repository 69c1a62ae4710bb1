"""Benchmark harness (driver contract): runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two sections:
- headline registry queries at the given SF (scan/join/agg/window/dedup/
  text/ANN/streaming breadth);
- the reference-scale ML grid point (BASELINE.md): the stock feature
  pipeline + RandomForest at the reference's exact 671,024-row scale.
  ``stock_fe_671k`` corresponds to the baseline's "feature engineering"
  overhead; ``stock_rf_671k`` to its "RF (DataFrame), no transform" train+
  eval (2'41'' on 3 Dataproc workers; FE+RF total 10'59''). Disable with
  SPARK_GRAFT_BENCH_ML=0.

Each query materializes via a noop sink (full execution, zero driver
collect). One warm-up pass absorbs JVM/codegen start-up so the numbers
measure the plans, not the JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_label_daily",
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_nation_revenue",
    "w2_daily_lag_avg",
    "j2_daygrain_fanout",
    "asof_join_events",
    "ind_sma_bollinger",
    "ind_recursive_family",
    "dedup_duplicate_groups",
    "dedup_minhash_near",
    "text_quality_stats",
    "text_curate_gate",
    "merge_latest_events",
    "simsearch_cosine_scores",
    "stream_tumbling_daily",
    "stream_upsert_latest",
    # r05 surface: binned range join, corpus-to-corpus ANN join, LM
    # quality scoring, real container-header decode
    "j6_binned_range_join",
    "simsearch_ann_join",
    "text_unigram_logprob",
    "mm_container_headers",
    # r05 second batch: exact-substring dedup (char-window inverted
    # index), chained two-stateful-op streaming rollup
    "dedup_exact_substring",
    "stream_chained_rollup",
    # r05 third batch: volume/path stock statistics (OBV + VWAP windows,
    # tick->candle compaction)
    "ind_obv_vwap",
    "w_weekly_ohlc",
    # r07 promotions (VERDICT r06 task 4): BPE train+apply, the native
    # media decode chain, streaming full-outer interval join, FK audit
    "text_bpe_merges",
    "text_bpe_tokenize",
    "mm_wav_native_decode",
    "mm_png_native_decode",
    "mm_gif_native_decode",
    "mm_jpeg_native_decode",
    "mm_jpeg_color_decode",
    "mm_jpeg_progressive_decode",
    "mm_webp_lossless_decode",
    "mm_avi_frame_sample",
    "mm_flac_native_decode",
    "mm_resize_nearest_native",
    "stream_interval_full_join",
    "dq_referential_integrity",
    # r10 promotion: the ANN join under its auto-sized plane default
    # (resolve_n_planes) — the production path a 100 TB caller gets;
    # joins neither frozen common set (r09 freeze rule)
    "simsearch_ann_auto_planes",
]

STOCK_ROWS = 671_024  # the reference dataset's exact row count

# The r05 headline set, FROZEN for round-over-round comparability: when
# HEADLINE grows, the "common" figure below keeps comparing like for like
# (the r05 verdict flagged that a growing set hides per-query wins —
# 61.1 s -> 54.2 s total masked a -33% like-for-like improvement).
# The r07 promotions joined HEADLINE above; COMMON_R05 stays the frozen
# r05 snapshot (everything registered before the "r07 promotions" block)
# so `common_sec` keeps comparing like for like across rounds.
_R07_PROMOTIONS = {
    "text_bpe_merges", "text_bpe_tokenize", "mm_wav_native_decode",
    "mm_png_native_decode", "mm_gif_native_decode",
    "mm_jpeg_native_decode", "mm_jpeg_color_decode",
    "mm_jpeg_progressive_decode", "mm_webp_lossless_decode",
    "mm_avi_frame_sample", "mm_flac_native_decode",
    "mm_resize_nearest_native",
    "stream_interval_full_join", "dq_referential_integrity",
}
#: r10+ HEADLINE promotions: measured per round, member of NEITHER
#: frozen common set (the r09 freeze rule).
_R10_PROMOTIONS = {"simsearch_ann_auto_planes"}

COMMON_R05 = tuple(
    q for q in HEADLINE
    if q not in _R07_PROMOTIONS and q not in _R10_PROMOTIONS
) + ("stock_fe_671k", "stock_rf_671k")

# r09 freeze (VERDICT r08 task 4): the 41-headliner set now has two
# rounds of driver data (r07 noisy, r08 clean), so it freezes too —
# round-over-round deltas become ONE number (common41_sec) while
# common_sec keeps the longer r05 history. Any future HEADLINE
# promotion joins neither frozen set.
COMMON_R08 = tuple(
    q for q in HEADLINE if q not in _R10_PROMOTIONS
) + ("stock_fe_671k", "stock_rf_671k")
assert len(COMMON_R08) == 41, len(COMMON_R08)
assert len(COMMON_R05) == 27, len(COMMON_R05)


def bench_calibration(spark) -> float:
    """Fixed CPU+shuffle sentinel (VERDICT r07 task 5): a ~2 s workload
    that depends on NO registry code and NO input data — 24M generated
    rows, sha2 hashing (CPU), a 40k-key groupBy (shuffle), noop sink.
    Identical across rounds by construction, so round-over-round
    headline deltas can be normalized against host speed (the r07
    common-27 "regression" of 2.26x on unchanged code would have been
    self-evident noise with this in the record)."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 24_000_000, 1, 32)
        .withColumn("h", F.sha2(F.col("id").cast("string"), 256))
        .groupBy((F.col("id") % 40_000).alias("k"))
        .agg(
            F.sum(F.crc32(F.col("h"))).alias("s"),
            F.count("*").alias("c"),
        )
        .write.format("noop").mode("overwrite").save()
    )
    return time.time() - t0


def bench_stock_ml(spark, timings: dict[str, float],
                   query_runs: dict[str, list[float]] | None = None,
                   query_stamps: dict[str, list[float]] | None = None) -> None:
    from big_data_analysis_for_stock_market_data_spark import ml, stock

    # min-of-2 for the same reason as the headline loop (one-time codegen +
    # transient host noise); each FE run materializes a fresh cache.
    fe_runs, rf_runs = [], []
    feats = None
    # Hints (one cut-sketch job) are computed ONCE, inside run 1's timing,
    # and passed to both runs; feature_frame itself submits no job.
    hints = None
    for _ in range(2):
        if feats is not None:
            feats.unpersist()
        if query_stamps is not None:
            query_stamps.setdefault("stock_fe_671k", []).append(_stamp())
        t0 = time.time()
        bars = stock.make_stock_fixture(spark, n_rows=STOCK_ROWS, n_symbols=4)
        if hints is None:
            hints = stock.feature_hints(bars)
        # cache exactly the training surface (label + FEATURE_COLS): the
        # RF stage reads nothing else, and materializing the full
        # 45-column frame was ~25% of the FE stage (measured r04)
        #
        # Widen before caching (r11, guide §2.5-2.6 idle capacity): the
        # pipeline's last exchange is the per-symbol applyInPandas pass,
        # so the enriched frame lands in |symbols|=4 non-empty partitions
        # — cache materialization, randomSplit, the assembler transform
        # and every RF treeAggregate round then run ≤4-wide on a 32-core
        # session (measured: RF fit min-of-2 14.3 s narrow vs 7.5 s wide
        # under identical load; 4/32 partitions non-empty confirmed via
        # glom). Round-robin repartition of the 13-column training
        # surface (~70 MB at 671k rows) is one cheap narrow-payload
        # shuffle; at cluster scale a few-key universe has the same
        # degeneracy, and a many-key universe arriving already wide pays
        # only this single extra pass of the pruned surface.
        feats = (
            stock.feature_frame(bars, **hints)
            .select("buy_or_sell", *stock.FEATURE_COLS)
            .na.drop(subset=stock.FEATURE_COLS)
            .repartition(spark.sparkContext.defaultParallelism)
            .cache()
        )
        feats.count()
        fe_runs.append(time.time() - t0)

        if query_stamps is not None:
            query_stamps.setdefault("stock_rf_671k", []).append(_stamp())
        t1 = time.time()
        ml.train_random_forest(
            feats, stock.FEATURE_COLS, label_col="buy_or_sell",
            num_trees=10, max_depth=10, seed=42,
        )
        rf_runs.append(time.time() - t1)
    timings["stock_fe_671k"] = round(min(fe_runs), 3)
    timings["stock_rf_671k"] = round(min(rf_runs), 3)
    if query_runs is not None:
        query_runs.setdefault("stock_fe_671k", []).extend(
            round(r, 3) for r in fe_runs)
        query_runs.setdefault("stock_rf_671k", []).extend(
            round(r, 3) for r in rf_runs)
    feats.unpersist()


_LOADAVG_LAUNCH = [round(x, 2) for x in os.getloadavg()]

#: Wall-clock origin for the per-sample timestamps (VERDICT r11 item 8):
#: every timed sample (headline runs, ML stages, calibration runs,
#: retries) is stamped with its offset from process start in
#: ``query_stamps`` / ``calib_stamps``, so a consumer can line samples up
#: against the calibration bracket in TIME and discard the ones adjacent
#: to a hot sentinel reading — mid-run co-tenant bursts are invisible to
#: the 4-sample bracket but perfectly visible as a time-correlated
#: cluster of inflated samples. Additive keys only: the one-line JSON
#: contract and every existing key are unchanged.
_T_ORIGIN = time.time()


def _stamp() -> float:
    return round(time.time() - _T_ORIGIN, 1)

#: Burst-resilience knobs (VERDICT r10 task 4). The host's co-tenant
#: bursts recur every ~8-12 min — shorter than a full bench — so a single
#: pass per query cannot produce a clean record on a burst-heavy day. Any
#: query whose min-of-2 exceeds RETRY_RATIO x its frozen r08 floor gets
#: re-run (up to RETRY_PASSES more times) in a sweep AT THE END of the
#: run — time-shifted minutes away from the burst that inflated it — and
#: the recorded number is the min over ALL passes. The sweep is bounded
#: by RETRY_BUDGET_SEC of measured wall so a genuinely-regressed registry
#: can't stall the driver. All raw passes are emitted (query_runs) so a
#: judge can see whether a slow number is a one-pass burst artifact
#: (fast retry) or structural (consistent across passes).
RETRY_RATIO = 1.5
RETRY_PASSES = 2
RETRY_BUDGET_SEC = 240.0


def _load_r08_floors(sf_val) -> dict[str, float]:
    """Frozen per-query floors from the r08 record-of-record (the last
    clean driver bench; VERDICT r10). Empty when the record is absent or
    was taken at a different SF than this run measures."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_r08.json")
    try:
        with open(path) as f:
            parsed = json.load(f)["parsed"]
        if parsed.get("sf") != sf_val:
            return {}
        return dict(parsed["queries"])
    except (OSError, KeyError, ValueError):
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from big_data_analysis_for_stock_market_data_spark import queries as registry
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    spark = get_session(app_name="bench")
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs]

    # Warm-up: JVM, codegen, parquet footer caches.
    qs[names[0]](spark, sf_dir).count()

    # Calibration sentinel: twice before and twice after the headliners
    # (host noise drifts over multi-minute windows — memory:
    # host-performance-variance); min = the machine's best, the spread =
    # in-run drift.
    calib_stamps: list[float] = []

    def timed_calibs(n: int) -> list[float]:
        out = []
        for _ in range(n):
            calib_stamps.append(_stamp())
            out.append(bench_calibration(spark))
        return out

    calib_runs = timed_calibs(2)

    # Two runs per query, min recorded: the first execution of a plan pays
    # one-time driver costs (analysis + whole-stage codegen janino compile —
    # ~12 s for the 64-wide minhash fold) that are constant at any data
    # scale; the min isolates the recurring plan cost the benchmark is
    # meant to track.
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf  # type: ignore[assignment]

    query_stamps: dict[str, list[float]] = {}

    def run_once(name: str) -> float:
        query_stamps.setdefault(name, []).append(_stamp())
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    timings: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    for name in names:
        runs = [run_once(name) for _ in range(2)]
        query_runs[name] = [round(r, 3) for r in runs]
        timings[name] = round(min(runs), 3)

    if os.environ.get("SPARK_GRAFT_BENCH_ML", "1") != "0":
        bench_stock_ml(spark, timings, query_runs, query_stamps)

    calib_runs += timed_calibs(2)

    # Burst-resilience sweep (VERDICT r10 task 4): re-run, minutes after
    # their first passes, the queries whose min still exceeds RETRY_RATIO x
    # their frozen r08 floor; keep the min over all passes. A dirty bracket
    # is NOT required to trigger — mid-run bursts are invisible to the
    # bracket by construction (r10 attempt 1).
    floors = _load_r08_floors(sf_val)
    retried: dict[str, int] = {}
    retry_budget = RETRY_BUDGET_SEC

    def above_floor(name: str) -> bool:
        return (name in floors
                and timings.get(name, 0.0) > RETRY_RATIO * floors[name])

    for name in names:
        if not above_floor(name):
            continue
        for _ in range(RETRY_PASSES):
            if retry_budget <= 0 or not above_floor(name):
                break
            r = run_once(name)
            retry_budget -= r
            query_runs[name].append(round(r, 3))
            timings[name] = min(timings[name], round(r, 3))
            retried[name] = retried.get(name, 0) + 1
    if (retry_budget > 0
            and (above_floor("stock_fe_671k") or above_floor("stock_rf_671k"))
            and os.environ.get("SPARK_GRAFT_BENCH_ML", "1") != "0"):
        t0 = time.time()
        ml_retry: dict[str, float] = {}
        bench_stock_ml(spark, ml_retry, query_runs, query_stamps)
        retry_budget -= time.time() - t0
        for k, v in ml_retry.items():
            if v < timings[k]:
                timings[k] = v
                retried[k] = retried.get(k, 0) + 1
    # Host state AT retry time, kept out of the 4-sample bracket so the
    # contaminated rule's arity stays fixed.
    calib_retry_stamps = [_stamp()] if retried else []
    calib_retry_runs = [bench_calibration(spark)] if retried else []

    calib_sec = round(min(calib_runs + calib_retry_runs), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "common_set": "r05_27",
                "common_sec": round(
                    sum(v for k, v in timings.items() if k in COMMON_R05), 3
                ),
                "common41_set": "r08_41",
                "common41_sec": round(
                    sum(v for k, v in timings.items() if k in COMMON_R08), 3
                ),
                "calib_sec": calib_sec,
                "calib_runs": [round(r, 3) for r in calib_runs],
                "calib_retry_runs": [round(r, 3) for r in calib_retry_runs],
                # Host-noise self-description (VERDICT r09 task 4): the box
                # has an external co-tenant whose load bursts invalidate
                # wall-clock samples. A run is flagged contaminated when
                # its BEST calibration exceeds the clean threshold (~1.0 s
                # idle; 1.5 allows drift) OR the SECOND-SMALLEST of the
                # four bracket samples exceeds 3.0 s. That tolerates up
                # to TWO hot samples (> 3.0) out of four — one for the
                # sentinel's own codegen on the first reading (the r08
                # record read [2.1, 1.1, 1.06, 3.9]) and one for a burst
                # confined to a single bracket side (r11 attempt 2 read
                # [2.64, 1.07, 50.9, 6.07] from an end-of-run burst
                # while every query sat at its floor); three hot means
                # no bracket side was clean. Both thresholds are emitted
                # so the flag is reconstructible from the record alone
                # (r10 ADVICE). The bracket cannot see MID-run bursts at
                # all (r10 attempt 1: calib min 0.97 yet the FE floor
                # read 5x its r08 value) — that gap is what the retry
                # sweep + query_runs cover: a floor that only appears on
                # a late retry pass marks the earlier passes as burst
                # artifacts.
                "loadavg_launch": _LOADAVG_LAUNCH,
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "calib_clean_threshold_sec": 1.5,
                "calib_bracket_threshold_sec": 3.0,
                "contaminated": calib_sec > 1.5
                or sorted(calib_runs)[1] > 3.0,
                "query_runs": query_runs,
                # Per-sample wall-clock offsets from process start (r12,
                # additive): query_stamps[name][i] is when query_runs
                # [name][i] STARTED; calib_stamps are the bracket
                # samples' starts. A sample whose neighborhood contains a
                # hot calibration reading — or that sits inside a cluster
                # of uniformly-inflated samples — is a burst artifact,
                # now identifiable from the record alone.
                "query_stamps": query_stamps,
                "calib_stamps": [round(s, 1) for s in calib_stamps],
                "calib_retry_stamps": calib_retry_stamps,
                "retry": {
                    "floors_set": "r08" if floors else None,
                    "ratio": RETRY_RATIO,
                    "budget_sec": RETRY_BUDGET_SEC,
                    "budget_left_sec": round(max(retry_budget, 0.0), 3),
                    "retried": retried,
                    "still_above_floor": sorted(
                        n for n in timings if above_floor(n)),
                },
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
