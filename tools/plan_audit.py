"""Registry-wide physical-plan antipattern sweep.

Builds every ``queries()`` entry at a small SF and records, per entry:
exchange count, file-scan count, Python-executing nodes, and
cartesian/broadcast-nested-loop joins. Violations:

- ``BatchEvalPython`` anywhere (row-at-a-time Python — never sanctioned);
- ``CartesianProduct``/``BroadcastNestedLoopJoin`` outside the deliberate
  broadcast-query brute-force ANN family;
- more than MAX_EXCHANGES exchanges (a registry entry is one query shape,
  not a pipeline — double digits means an accidental reshuffle loop).

Entries whose *construction* executes work (streaming drains, ML training,
iterative algorithms, sink roundtrips) still run — this tool is slow
(~minutes) by design and is run per-round, not per-test.

Usage: python tools/plan_audit.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: Deliberate exhaustive-scoring designs: a bounded broadcast query set
#: against every row IS the brute-force contract (and the LSH/IVF entries
#: probe with the same broadcast pattern).
# True data-sized CartesianProduct whitelist — EMPTY since r07: the one
# historical member (ml_als_recommend, whose Spark ML recommendForAllUsers
# crossed the blocked factor matrices) now uses the engine's exact
# rank-1 ALS with a broadcast candidate pool. Any CartesianProduct is a
# bug unless listed HERE with a rationale; NESTED_LOOP_OK below only
# sanctions broadcast-nested-loop folds (1-row aggregates / bounded
# broadcast query sets), never a data x data cross.
CARTESIAN_OK: set[str] = set()

NESTED_LOOP_OK = {
    "simsearch_bruteforce_topk",
    "simsearch_cosine_scores",
    "simsearch_lsh_topk",
    "simsearch_ivf_topk",
    "simsearch_ivf_det_topk",
    "simsearch_pq_topk",
    "simsearch_ivfpq_det_topk",
    "dedup_cosine_near",
    "dedup_semantic_ivf",  # broadcast-centroid assignment, IVF pattern
    # exact rank-1 ALS: 1-row gram folds + the bounded top-50 candidate
    # pool broadcast against the user factors (r07)
    "ml_als_recommend",
    # exact tree-ensemble twins (r07): every BNLJ is a 1-row broadcast
    # fold — the candidate totals, the per-round/per-tree winning stump
    # (.limit(1)), and the confusion/post-round aggregates; the data
    # x data paths are key-partitioned hash joins and window prefix sums
    "ml_gbt_exact_stumps",
    "ml_rf_exact_stumps",
    # scalar-subquery crosses: BroadcastNestedLoopJoin against a 1-row
    # aggregate is the correct global-threshold plan (TPC-H Q11/Q22 shape)
    "q11_important_parts",
    "q22_sales_opportunity",
    "g1_triangle_count",   # 1-row x 1-row scalar combine (count + edge count)
    "a18_chi2_independence",  # 1-row statistic x 1-row dof combine
    # r05 driver-scalar folds: the former .first() literals became
    # broadcast 1-row aggregates crossed into the plan — same shape
    "a13_histogram_value",    # min/max 1-row agg x rows
    "a16_rfm_segments",       # max-date + tercile-bounds 1-row aggs
    "ml_quantile_bins",       # quantile-boundary 1-row agg x rows
    "text_tfidf_topterms",    # corpus-count 1-row agg x idf table
    "text_unigram_logprob",   # token-total 1-row agg x vocab table
    "a24_association_rules",  # basket-count 1-row agg x rules
    "stream_interval_left_join",  # watermark-horizon 1-row agg x drain
    "stream_interval_full_join",  # same watermark-horizon 1-row cross
    # r06: each BPE round crosses the 1-row winner aggregate into the
    # vocab-sized segment table — the broadcast 1-row pattern
    "text_bpe_merges",
    "stream_chained_rollup",      # same horizon 1-row agg x drain
    "samp_rebalance_sources",     # min-group-count 1-row agg x thresholds
    "samp_temperature_mix",       # binding-group 1-row agg x thresholds
    "ml_ks_2sample",              # ECDF-totals 1-row agg x distinct values
    "text_bigram_logprob",        # token-total 1-row agg x scored bigrams
    "ml_lift_table",              # row/positive-totals 1-row agg x groups
    # r06 rows-only→oracle conversions: property checks cross broadcast
    # 1-row aggregates (split counts / closed-form correlation) into
    # 1-row or 2-row frames — the same scalar-fold shape
    "o3_random_split",            # total-count 1-row x split-count 1-row
    "ml_pca_variance",            # closed-form |r| 1-row x 2 components
    "agg_percentile_sketch_bound",  # 3-row sketch-values agg x rank scan
    "ml_quantile_normalize",      # min-group-size 1-row agg x ranked rows
    "fn_null_semantics",          # six 1-row fact aggregates crossed
    "agg_exact_median_scalable",  # (min,max,n) 1-row agg crossed into
                                  # the bucket pass and the rank pick
    "text_bm25_stats",            # corpus-totals 1-row agg crossed into
                                  # the (term, doc) stats
    "a44_kruskal_wallis_stats",   # pooled tie-cube/total 1-row agg
                                  # crossed into the k group rows
    "s_compaction_rewrite",       # file-count contract: 1-row count agg
                                  # crossed into the per-flag aggregate
    "j10_point_in_polygon",       # broadcast cross vs the 21-row literal
                                  # polygon-edge table — the intended
                                  # spatial dimension-join shape
    "ml_psi_drift",               # rank-pick + range-bin joins against
                                  # the broadcast 9-row decile-edge table
    "ts_seasonal_indices",        # global-mean 1-row agg crossed into
                                  # the 7-row dow table
    "scale10_stream_rollup",      # horizon 1-row agg x drain (the
                                  # chained-rollup decade fold, r11)
}

MAX_EXCHANGES = 9

#: Entries whose construction may legitimately touch the driver:
#: streaming entries drain a memory sink by contract; ML entries train
#: models.
DRIVER_ACTION_OK = {
    # iterative fixpoint tests: a bounded .limit(1).count() per round is
    # the loop-termination probe, not data movement
    "dedup_clusters",
    "h1_ancestor_closure",
    "g4_connected_components",
    # r11: same convergence-probe contract, 10 offset-id replicas
    # through one iterative run
    "scale10_components",
    # the entry's RESULT is the two split sizes (rows-only by contract)
    "o3_random_split",
    # model TRAINING entries (fit + metrics collection is the product);
    # deliberately NOT a blanket ml_ prefix — pure-plan ml_ entries
    # (quantile_bins, string_index, impute, auc) must stay gated so a
    # reintroduced .first() regresses loudly
    "ml_rf_metrics",
    "ml_svc_pca_metrics",
    "ml_rf_grouped_pca",
    "ml_pca_variance",
    "ml_gbt_metrics",
    "ml_cv_rf_grid",
    "ml_rdd_compat_rf",
    "ml_rf_confusion",
    # r07: quantized PLSA / exact ALS run eager localCheckpoints per
    # EM / ALS round (lineage truncation — the iterative-algorithm
    # pattern, same as text.bpe)
    "ml_lda_topics",
    "ml_als_recommend",
    # r10: n_planes='auto' sizes the LSH bucket width from ONE scalar
    # corpus count (resolve_n_planes) — the production default under
    # test; avoidable via the corpus_rows hint
    "simsearch_ann_auto_planes",
    # r11: the chained-rollup decade fold drains a memory sink by the
    # same contract as the stream_ prefix family (its scale10_ name
    # keeps the fold family greppable)
    "scale10_stream_rollup",
}
DRIVER_ACTION_OK_PREFIXES = ("stream_", "stock_fe", "stock_rf")

#: Multi-stage algorithms earn a larger, PINNED budget (adjudicated against
#: the r04 audit): regressions past the pin still flag.
EXCHANGE_BUDGET = {
    "inv_asof_tie_layouts": 18,    # r11: four DELIBERATE physical
                                   # layouts of the as-of right side
                                   # (the entry's whole point) x (carry
                                   # window + global distinct agg) + the
                                   # 4 explicit repartitions (measured
                                   # 16 at sf0.001)
    "dedup_ngram_jaccard": 10,     # grouped shingle index -> in-group
                                   # pairs -> verify joins (r08: was 16
                                   # with the posting self-join; measured 6)
    "text_contamination_check": 11,  # split -> grouped train index ->
                                    # cand -> verify (r08: 7 shuffles at
                                    # sf0.01; +3 BroadcastExchange at
                                    # sf0.001 where the small sides
                                    # broadcast — the textual count
                                    # includes them)
    "dedup_minhash_near": 12,      # signatures -> bands -> buckets -> verify
    "dedup_minhash_md5": 12,
    # r08: deterministic_kmeans localCheckpoints each Lloyd round, so
    # the centroid lineage no longer unrolls into the plan (was 37-40
    # exchanges / 16 scans); budgets re-pinned at the measured shape
    "simsearch_ivf_det_topk": 8,   # assign + probe + rank (measured 4)
    "simsearch_ivfpq_det_topk": 8,  # + PQ encode (measured 4)
    "dedup_semantic_ivf": 10,      # in-cell pairs + dup-of agg +
                                   # spine join-back (measured 7)
    # q21_sole_late_supplier: r08 fused one-pass form measured 3
    # exchanges; default budget suffices
    "a11_funnel_conversion": 13,   # per step: event shuffle + agg + join
    "w_rolling_active_users": 11,  # islands + deltas + 2-phase prefix sum
    "a18_chi2_independence": 10,   # r05: grand-total .first() folded into
                                   # the plan = +1 broadcast exchange
    "text_tfidf_topterms": 10,     # r05: corpus-count fold, same +1
    "a24_association_rules": 12,   # pairs + 2 item-support joins + rules
                                   # union + basket-count broadcast
    # r08: grouped pair generation replaced the posting self-join
    # (measured 4 exchanges, 1 scan); default budget suffices
                                   # self-join (posting referenced 3x)
    "agg_exact_median_scalable": 10,  # r07: recursive narrowing with
                                   # per-round checkpoints — final round
                                   # histogram + rank off the round-1
                                   # checkpoint + the n-total fold
    "g7_clustering_coeff_stats": 15,  # triangle join (3 edge readers of
                                   # the checkpoint) + 3-corner explode
                                   # union + degree union + final join
    # a43_spearman_rho_stats: r08 folded the tie cubes into the final
    # row-grain aggregate (measured 5 exchanges); default budget suffices
    "fn_null_semantics": 15,       # a five-branch parity SUITE by design
                                   # (base counters + null group + <=>
                                   # join + = join + anti join), each
                                   # branch a 1-row fact whose broadcast
                                   # back into the single output row is
                                   # counted as an Exchange
    "ml_ks_2sample": 10,           # distinct-value agg appears under both
                                   # the ECDF scan and the totals branch —
                                   # a ReusedExchange at runtime; the
                                   # textual count double-counts it
    "text_bigram_logprob": 13,     # r08: checkpointed per-doc pair-count
                                   # table collapses the fork (8 shuffles
                                   # at sf0.01; +4 BroadcastExchange at
                                   # sf0.001's broadcast regime)
    "ml_lift_table": 11,           # distinct-score agg under both the
                                   # prefix scan and the totals branch
                                   # (ReusedExchange at runtime), + the
                                   # bucket re-aggregate
    "text_bpe_merges": 16,         # r06: 4 rounds x (pair-count agg +
                                   # 1-row winner agg) off per-round
                                   # CHECKPOINTED segment tables + the
                                   # final 4-branch rule union; corpus is
                                   # scanned once (words checkpoint)
    "scale10_bpe_merge": 13,       # r10: same 4-round shape with copy_id
                                   # in every key — 4 x (pair-count agg +
                                   # 10-row per-copy winner agg) + rule
                                   # union + the rank fold (measured 11)
    "dq_referential_integrity": 13,  # r08: 4 FK edges, one fused
                                   # left-join + conditional-count pass
                                   # each (8 shuffles at sf0.01, was 16
                                   # with anti-join + separate-total;
                                   # +4 BroadcastExchange at sf0.001)
    "ml_als_recommend": 12,        # r07: final scoring off checkpointed
                                   # factors — anti join + pool top-N +
                                   # rank window; earlier rounds live
                                   # behind the per-half-step checkpoints
    "ml_gbt_exact_stumps": 21,     # r07: 3 boosting rounds x (per-value
                                   # agg + fid-partitioned prefix window
                                   # + winner top-1 + post-round agg),
                                   # rounds separated by localCheckpoints
                                   # so nothing re-executes; the union of
                                   # the 3 model rows adds one exchange
                                   # per branch
    "ml_rf_exact_stumps": 40,      # r07: 5 independent trees x (sample
                                   # filter + per-value agg + prefix
                                   # window + top-1) + the forest vote
                                   # (one broadcast of 5 stump rows over
                                   # the base) + confusion fold — tree
                                   # count, not data volume, drives the
                                   # exchange count
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.json"

    from big_data_analysis_for_stock_market_data_spark import queries as registry
    from big_data_analysis_for_stock_market_data_spark.plans import inspect as P
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    spark = get_session(app_name="plan_audit")

    # Count driver-side actions (first/collect/toPandas) fired while an
    # entry BUILDS its DataFrame — a lineage that computes data into a
    # driver literal isn't a distributed plan. Documented control-plane
    # sites are whitelisted above.
    from pyspark.sql import DataFrame as _DF

    action_counts: list[int] = [0]
    _orig = {
        m: getattr(_DF, m)
        for m in ("first", "collect", "toPandas", "count")
    }

    def _counting(m):
        def wrapper(self, *a, **kw):
            action_counts[0] += 1
            return _orig[m](self, *a, **kw)
        return wrapper

    results: dict[str, dict] = {}
    violations: list[str] = []
    for name, fn in registry.queries().items():
        t0 = time.time()
        action_counts[0] = 0
        for m in _orig:
            setattr(_DF, m, _counting(m))
        try:
            df = fn(spark, sf_dir)
            plan = P.explain_str(df, "simple")
        except Exception:
            results[name] = {"error": traceback.format_exc(limit=1)}
            violations.append(f"{name}: build error")
            continue
        finally:
            for m, orig in _orig.items():
                setattr(_DF, m, orig)
        driver_actions = action_counts[0]
        pynodes = sorted({n for n in P.PYTHON_NODES if n in plan})
        rec = {
            "exchanges": plan.count("Exchange"),
            "scans": plan.count("FileScan"),
            "python_nodes": pynodes,
            "cartesian": "CartesianProduct" in plan,
            "bnlj": "BroadcastNestedLoopJoin" in plan,
            "driver_actions": driver_actions,
            "build_sec": round(time.time() - t0, 2),
        }
        results[name] = rec
        if (
            driver_actions
            and name not in DRIVER_ACTION_OK
            and not name.startswith(DRIVER_ACTION_OK_PREFIXES)
        ):
            violations.append(
                f"{name}: {driver_actions} driver action(s) "
                "(first/collect/toPandas/count) during plan construction"
            )
        if "BatchEvalPython" in pynodes:
            violations.append(f"{name}: row-at-a-time Python (BatchEvalPython)")
        if rec["cartesian"] and name not in CARTESIAN_OK:
            violations.append(
                f"{name}: CartesianProduct outside CARTESIAN_OK whitelist"
            )
        if rec["bnlj"] and name not in NESTED_LOOP_OK:
            violations.append(f"{name}: nested-loop join outside ANN whitelist")
        budget = EXCHANGE_BUDGET.get(name, MAX_EXCHANGES)
        if rec["exchanges"] > budget:
            violations.append(
                f"{name}: {rec['exchanges']} exchanges (budget {budget})"
            )

    # Completeness gate (VERDICT r07 task 4): the audit must cover the
    # FULL registry — in r07 one entry was registered after the audit
    # ran and shipped unaudited. The audit is the LAST end-of-round
    # gate; a count mismatch with the live registry fails it.
    n_registry = len(registry.queries())
    if len(results) != n_registry:
        violations.append(
            f"audit covered {len(results)} entries but the registry has "
            f"{n_registry} — re-run after the last registration"
        )

    payload = {
        "sf_dir": sf_dir,
        "n_entries": len(results),
        "n_registry": n_registry,
        "violations": violations,
        "entries": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"{len(results)} entries, {len(violations)} violations -> {out_path}")
    for v in violations:
        print(" !", v)


if __name__ == "__main__":
    main()
