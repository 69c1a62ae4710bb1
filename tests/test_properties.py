"""Property-based tests (hypothesis) for engine invariants (SURVEY.md §5):
label domain, row-order invariance of grouped aggregates, dedup
idempotence, salted-vs-direct aggregation equality, scalable-lag parity."""

import functools
import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd
from big_data_analysis_for_stock_market_data_spark.operators import windows as win_ops
from big_data_analysis_for_stock_market_data_spark.operators.skew import (
    salted_group_agg,
)

SETTINGS = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

values = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=2, max_size=40,
)


@given(vals=values)
@SETTINGS
def test_label_binary_and_lead_semantics(spark, vals):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t int, v double"
    )
    out = win_ops.label_buy_sell(
        df, value_col="v", order_by="t", partition_by=None, mode="lead"
    ).orderBy("t").collect()
    for i, row in enumerate(out):
        assert row.buy_or_sell in (0, 1)
        if i + 1 < len(vals):
            assert row.buy_or_sell == int(vals[i + 1] > vals[i])
        else:
            assert row.buy_or_sell == 0  # lead is null -> otherwise(0)


@given(vals=values, seed=st.integers(min_value=0, max_value=2**31 - 1))
@SETTINGS
def test_grouped_avg_invariant_under_row_order(spark, vals, seed):
    import random

    rows = [(i % 3, v) for i, v in enumerate(vals)]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    mk = lambda rs: (
        spark.createDataFrame(rs, "k int, v double")
        .groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(28,8)")).cast("double").alias("s"),
            F.count("v").alias("n"),
        )
        .orderBy("k")
        .collect()
    )
    assert mk(rows) == mk(shuffled)


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=12),
        min_size=1, max_size=15,
    )
)
@SETTINGS
def test_exact_dedup_idempotent_and_content_unique(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    once = dd.exact_dedup(df)
    twice = dd.exact_dedup(once)
    a = sorted(r.doc_id for r in once.collect())
    b = sorted(r.doc_id for r in twice.collect())
    assert a == b
    # post-dedup, content is unique and survivors are the min ids
    kept = {r.text: r.doc_id for r in once.collect()}
    assert len(kept) == once.count()
    for text, doc_id in kept.items():
        assert doc_id == min(i for i, t in enumerate(texts) if t == text)


@given(vals=values)
@SETTINGS
def test_salted_agg_equals_direct(spark, vals):
    df = spark.createDataFrame(
        [(i % 2, v) for i, v in enumerate(vals)], "k int, v double"
    )
    salted = {
        (r.k): (r.s, r.n, r.mn, r.mx)
        for r in salted_group_agg(
            df, "k",
            {"s": ("sum", "v"), "n": ("count", "v"),
             "mn": ("min", "v"), "mx": ("max", "v")},
            salt_buckets=4,
        ).collect()
    }
    direct = {
        (r.k): (r.s, r.n, r.mn, r.mx)
        for r in df.groupBy("k").agg(
            F.sum(F.col("v").cast("decimal(28,8)")).cast("double").alias("s"),
            F.count("v").alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        ).collect()
    }
    assert set(salted) == set(direct)
    for k in direct:
        for got, want in zip(salted[k], direct[k]):
            if isinstance(want, float):
                assert math.isclose(got, want, rel_tol=0, abs_tol=1e-7)
            else:
                assert got == want


#: order keys that sit at the edges of Spark's double order: NULL sorts
#: first, NaN after +inf; ±1e300 stretch the finite key range
EDGE_KEYS = (None, math.nan, math.inf, -math.inf, 1e300, -1e300)


@st.composite
def keyed_rows(draw):
    """(t, v) rows with unique double order keys t, edge keys included;
    empty and one-row frames come up as well."""
    keys = draw(
        st.lists(
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            max_size=30, unique=True,
        )
    )
    keys = [k for k in keys if abs(k) != 1e300]
    keys += draw(st.lists(st.sampled_from(EDGE_KEYS), unique=True))
    keys = draw(st.permutations(keys))
    vals = draw(
        st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            min_size=len(keys), max_size=len(keys),
        )
    )
    return list(zip(keys, vals))


def _canon(rows):
    """Rows as comparable tuples (NaN != NaN, so it becomes a marker)."""
    return [
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x
              for x in r)
        for r in rows
    ]


#: bucket counts: one bucket, a few, and more buckets than rows
BUCKETS = (1, 3, 64)


def _at_each_bucket_count(spark, spark_conf, want, build):
    """``want``'s rows, and ``build()``'s at every count in BUCKETS, keyed
    by the count (0 for ``want``). A scan fixes its bucket count when it
    is built, so each branch is built at its count and the union of all
    of them runs as one query at the session's partition count."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    frames = [want.withColumn("__n", F.lit(0))]
    for n in BUCKETS:
        spark_conf(key, n)
        got = build().select(*want.columns)
        frames.append(got.withColumn("__n", F.lit(n)))
    spark_conf(key, before)
    union = functools.reduce(DataFrame.unionByName, frames)
    out = {n: [] for n in (0, *BUCKETS)}
    for r in union.orderBy("__n", "t").collect():
        out[r["__n"]].append(r[:-1])
    return {n: _canon(rows) for n, rows in out.items()}


@given(rows=keyed_rows())
@example(rows=[])
@example(rows=[(math.nan, 1.0)])
@SETTINGS
def test_global_lag_matches_window(spark, spark_conf, rows):
    df = spark.createDataFrame(rows, "t double, v double")
    want = df.withColumn("lag_v", F.lag("v", 1).over(Window.orderBy("t")))
    got = _at_each_bucket_count(
        spark, spark_conf, want,
        lambda: win_ops.global_lag_lead(df, "v", order_by="t", kind="lag"),
    )
    for n in BUCKETS:
        assert got[n] == got[0], n


@given(rows=keyed_rows())
@example(rows=[])
@example(rows=[(None, 1.0)])
@SETTINGS
def test_prefix_sum_matches_window(spark, spark_conf, rows):
    df = spark.createDataFrame(rows, "t double, v double").withColumn(
        "w", F.lit(0.5) - F.col("v")
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)

    def running(c):
        return F.sum(F.col(c).cast("decimal(28,8)")).over(w).cast("double")

    want = df.select("t", running("v").alias("cv"), running("w").alias("cw"))
    builds = {
        "prefix_sum": lambda: win_ops.prefix_sum(
            win_ops.prefix_sum(df, "v", order_by="t", out_col="cv"),
            "w", order_by="t", out_col="cw",
        ),
        "prefix_sum_multi": lambda: win_ops.prefix_sum_multi(
            df, ["v", "w"], order_by="t", out_cols=["cv", "cw"]
        ),
    }
    for name, build in builds.items():
        got = _at_each_bucket_count(spark, spark_conf, want, build)
        for n in BUCKETS:
            assert got[n] == got[0], (name, n)


def test_hash_sampling_partition_invariant(spark):
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        F.col("id"),
        (F.when(F.col("id") % 10 < 7, "en").otherwise("zh")).alias("lang"),
    )
    picked = sp.stratified_hash_sample(
        df, "lang", {"en": 0.2, "zh": 0.9}, key_col="id", seed=7
    )
    ids = {r.id for r in picked.collect()}
    # identical selection on a differently-partitioned plan
    ids2 = {
        r.id
        for r in sp.stratified_hash_sample(
            df.repartition(7), "lang", {"en": 0.2, "zh": 0.9},
            key_col="id", seed=7,
        ).collect()
    }
    assert ids == ids2 and ids
    # per-stratum rates land near the requested fractions
    n_en = df.filter("lang = 'en'").count()
    k_en = picked.filter("lang = 'en'").count()
    assert abs(k_en / n_en - 0.2) < 0.05

    top = sp.topk_per_group(
        df, "lang", [F.col("id").desc()], k=3
    ).collect()
    assert len(top) == 6  # 3 per stratum
    assert "__rank" not in sp.topk_per_group(
        df, "lang", [F.col("id").desc()], k=3
    ).columns


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=700,
        ),
        min_size=1, max_size=6,
    ),
    chunk=st.integers(min_value=20, max_value=120),
    overlap=st.integers(min_value=0, max_value=19),
)
@SETTINGS
def test_chunking_reconstructs_text(spark, texts, chunk, overlap):
    """Lossless invariant: concatenating chunk 0 with every later chunk's
    non-overlapping suffix reproduces the document exactly — no byte is
    dropped or duplicated by the grid for ANY (chunk, overlap) choice."""
    from big_data_analysis_for_stock_market_data_spark.operators.text import chunk_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    rows = chunk_text(df, chunk_chars=chunk, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        if len(t) == 0:
            assert i not in by_doc
            continue
        parts = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        rebuilt = parts[0].chunk_text + "".join(
            p.chunk_text[overlap:] for p in parts[1:]
        )
        assert rebuilt == t
        # every chunk except the tail is full-size
        assert all(len(p.chunk_text) == chunk for p in parts[:-1])


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=5),   # ts (ties across keys ok)
            st.integers(min_value=0, max_value=99),  # version id
        ),
        min_size=1, max_size=30,
    )
)
@SETTINGS
def test_latest_by_key_equals_window_formulation(spark, rows):
    """The max_by(struct) hash-aggregate merge must pick exactly the row
    the row_number()-window formulation picks, for any key/ts/id mix
    (incl. ts ties broken by id)."""
    from pyspark.sql import Window
    from big_data_analysis_for_stock_market_data_spark.operators.aggregates import (
        latest_by_key,
    )

    # make (key, ts, id) unique so both formulations are deterministic
    uniq = list({(k, t, i) for k, t, i in rows})
    df = spark.createDataFrame(uniq, "k int, ts int, vid int")
    got = {
        r.k: (r.ts, r.vid)
        for r in latest_by_key(
            df, keys=["k"], order=["ts", "vid"], payload=["ts", "vid"]
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("ts").desc(), F.col("vid").desc())
    want = {
        r.k: (r.ts, r.vid)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").collect()
    }
    assert got == want


def test_weighted_sample_nesting_and_partition_invariance(spark):
    """Priority sampling invariants: top-k is a prefix of top-(k+m) (same
    priorities, same order), selection survives repartitioning, and weight
    monotonicity holds in expectation (the heavy half wins more slots than
    the light half over many seeds is probabilistic — instead we pin the
    deterministic contract: equal keys + equal weights => equal output)."""
    from big_data_analysis_for_stock_market_data_spark.operators.sampling import (
        weighted_hash_sample,
    )

    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 10 + 1).cast("double").alias("w")
    )
    top10 = [r.k for r in weighted_hash_sample(df, 10, "k", "w").collect()]
    top25 = [r.k for r in weighted_hash_sample(df, 25, "k", "w").collect()]
    assert top25[:10] == top10  # nested: a bigger draw extends, never reshuffles

    re4 = [r.k for r in weighted_hash_sample(df.repartition(4), 10, "k", "w").collect()]
    re1 = [r.k for r in weighted_hash_sample(df.coalesce(1), 10, "k", "w").collect()]
    assert re4 == top10 == re1  # pure function of (keys, weights, seed, k)

    other_seed = [r.k for r in weighted_hash_sample(df, 10, "k", "w", seed=7).collect()]
    assert other_seed != top10  # seed actually matters


def test_shuffle_shards_is_a_partition_invariant_permutation(spark):
    from big_data_analysis_for_stock_market_data_spark.operators.sampling import (
        shuffle_shards,
    )

    df = spark.range(300).select(F.col("id").alias("k"))
    out = shuffle_shards(df, "k", n_shards=5).collect()
    assert sorted(r.k for r in out) == list(range(300))  # every row exactly once
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(5))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense 1..n per shard

    again = shuffle_shards(df.repartition(7), "k", n_shards=5).collect()
    assert {(r.k, r.shard, r.pos) for r in again} == {
        (r.k, r.shard, r.pos) for r in out
    }


def test_salted_join_equals_plain_join_and_rejects_outer(spark):
    from big_data_analysis_for_stock_market_data_spark.operators.skew import (
        salted_join,
    )

    big = spark.range(2000).select(
        (F.when(F.col("id") % 10 < 8, 1).otherwise(F.col("id") % 50)).alias("k"),
        F.col("id").alias("payload"),
    )  # key 1 is hot (~80% of rows)
    small = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3.0).alias("dim")
    )
    got = sorted(map(tuple, salted_join(big, small, "k").collect()))
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want

    # left join preserves unmatched big rows exactly once
    big2 = big.withColumn("k", F.col("k") + 1000)  # nothing matches
    lgot = salted_join(big2, small, "k", how="left").collect()
    assert len(lgot) == 2000 and all(r.dim is None for r in lgot)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", how="full")

    # duplicate-heavy hot key: whole-row salt collapses to ONE bucket
    # (the documented limitation); salt_on a unique id restores scatter
    dup = spark.range(400).select(
        F.lit(1).alias("k"), F.lit(7.0).alias("payload"),
        F.col("id").alias("uid"),
    )
    sgot = sorted(
        map(tuple, salted_join(dup, small, "k", salt_on=["uid"])
            .drop("uid").collect())
    )
    swant = sorted(map(tuple, dup.join(small, "k").drop("uid").collect()))
    assert sgot == swant


@given(
    pts=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=64),
        min_size=1, max_size=12,
    ),
    ivs=st.lists(
        st.tuples(
            st.floats(min_value=-100, max_value=100, allow_nan=False,
                      width=64),
            st.floats(min_value=0.1, max_value=50, allow_nan=False,
                      width=64),
        ),
        min_size=1, max_size=8,
    ),
    bin_width=st.sampled_from([0.5, 3.0, 7.5, 40.0]),
)
@SETTINGS
def test_binned_range_join_matches_nested_loop(spark, pts, ivs, bin_width):
    """For ANY points, intervals, and bin width, the binned equi-join form
    equals the nested-loop range join exactly — multi-matches surface
    once, never twice (a point maps to one bin)."""
    from big_data_analysis_for_stock_market_data_spark.operators.joins import (
        binned_range_join,
        range_join,
    )

    pdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(pts)], "pid long, x double"
    )
    idf = spark.createDataFrame(
        [(i, lo, lo + ln) for i, (lo, ln) in enumerate(ivs)],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in binned_range_join(pdf, idf, "x", "lo", "hi",
                                   bin_width).collect()
    )
    want = sorted(
        (r.pid, r.iid)
        for r in range_join(pdf, idf, "x", "lo", "hi").collect()
    )
    assert got == want


def test_rebalance_equalize_matches_formula_and_is_partition_invariant(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import split_bucket
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    rows = [Row(k=i, g="big") for i in range(200)] + [
        Row(k=1000 + i, g="small") for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    out = sp.rebalance_hash_sample(df, "g", "k", None, seed=7)
    got = {r["k"] for r in out.collect()}
    # replay the contract: thr_g = floor(10000 * min_n / n_g)
    thr = {"big": 10_000 * 20 // 200, "small": 10_000 * 20 // 20}
    expected = {
        r["k"]
        for r in df.withColumn("b", split_bucket(F.col("k"), 7)).collect()
        if r["b"] < thr[r["g"]]
    }
    assert got == expected
    # selection is a pure function of the key: repartitioning changes nothing
    got_rep = {
        r["k"]
        for r in sp.rebalance_hash_sample(
            df.repartition(13), "g", "k", None, seed=7
        ).collect()
    }
    assert got_rep == got


def test_rebalance_explicit_shares_keeps_binding_group_whole(spark):
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    rows = [Row(k=i, g="a") for i in range(100)] + [
        Row(k=1000 + i, g="b") for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    # equal target shares: feasibility binds on 'b' (10/0.5 < 100/0.5),
    # so every 'b' row survives and 'a' is thinned toward 10 rows
    out = sp.rebalance_hash_sample(
        df, "g", "k", target_shares={"a": 0.5, "b": 0.5}, seed=7
    ).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], set()).add(r["k"])
    assert by_g["b"] == {1000 + i for i in range(10)}
    assert 0 < len(by_g.get("a", set())) < 100


def test_temperature_mix_formula_and_binding_group(spark):
    import math

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import split_bucket
    from big_data_analysis_for_stock_market_data_spark.operators import sampling as sp

    rows = [Row(k=i, g="big") for i in range(400)] + [
        Row(k=1000 + i, g="small") for i in range(25)
    ]
    df = spark.createDataFrame(rows)
    out = sp.temperature_mix(df, "g", "k", tau=0.5, seed=7)
    got = {r["k"] for r in out.collect()}
    # replay: w = round(sqrt(n)*1e6); thr_g = 10000*w_g*n_m // (w_m*n_g)
    w = {g: round(math.sqrt(n) * 1e6) for g, n in (("big", 400), ("small", 25))}
    thr = {
        g: 10_000 * w[g] * 25 // (w["small"] * n)
        for g, n in (("big", 400), ("small", 25))
    }
    assert thr["small"] == 10_000  # binding group kept whole
    assert 0 < thr["big"] < 10_000  # dominant group genuinely thinned
    expected = {
        r["k"]
        for r in df.withColumn("b", split_bucket(F.col("k"), 7)).collect()
        if r["b"] < thr[r["g"]]
    }
    assert got == expected
    # tau=1 keeps natural proportions: nothing is dropped
    assert sp.temperature_mix(df, "g", "k", tau=1.0, seed=7).count() == 425


# ---- pure-algebra guards for the closed forms used by r06 entries ----
# These validate the ALGEBRA both the Spark plan and the SQL oracle
# implement (queries.py a33_cusum_alarm, w_rolling_ols_slope,
# a37_weighted_median, a39_mannwhitney_u), independent of any engine.

ints = st.lists(
    st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
)


@given(xs=ints)
@settings(max_examples=200, deadline=None)
def test_cusum_closed_form_equals_recursive_fold(xs):
    # closed form: s_i = p_i - min(0, running_min(p))  (a33_cusum_alarm)
    s, naive = 0, []
    for x in xs:
        s = max(0, s + x)
        naive.append(s)
    p, rmin, closed = 0, 0, []
    for x in xs:
        p += x
        rmin = min(rmin, p)
        closed.append(p - min(0, rmin))
    assert closed == naive


@given(ys=st.lists(st.integers(-10**6, 10**6), min_size=7, max_size=40))
@settings(max_examples=200, deadline=None)
def test_rolling_ols_sxy_identity(ys):
    # Sxy over the frame == Sjy - frame_start*Sy  (w_rolling_ols_slope)
    for end in range(6, len(ys)):
        frame = ys[end - 6: end + 1]
        sxy = sum(j * y for j, y in enumerate(frame))
        rn = end + 1  # 1-based absolute row number
        sy = sum(frame)
        sjy = sum((end - 6 + k + 1) * y for k, y in enumerate(frame))
        assert sxy == sjy - (rn - 6) * sy
        # slope numerator 7*Sxy - 21*Sy over constant denominator 196
        n, sx, sxx = 7, 21, 91
        assert n * sxx - sx * sx == 196


@given(rows=st.lists(
    st.tuples(st.integers(-100, 100), st.integers(1, 9)),
    min_size=1, max_size=50,
))
@settings(max_examples=200, deadline=None)
def test_weighted_median_rule_matches_expansion(rows):
    # smallest v with 2*cumweight >= total == classic weighted median
    # (lower) on the weight-expanded multiset  (a37_weighted_median)
    ordered = sorted(
        [(v, i, w) for i, (v, w) in enumerate(rows)],
        key=lambda t: (t[0], t[1]),
    )
    total = sum(w for _, _, w in ordered)
    cum, rule = 0, None
    for v, _, w in ordered:
        cum += w
        if rule is None and 2 * cum >= total:
            rule = v
    expanded = sorted(v for v, _, w in ordered for _ in range(w))
    # lower weighted median = element at the first position where the
    # expanded cumulative count reaches half the total (ceil division)
    lower = expanded[(total - 1) // 2] if total % 2 else expanded[
        total // 2 - 1
    ]
    assert rule == lower


@given(
    a=st.lists(st.integers(-50, 50), min_size=1, max_size=40),
    b=st.lists(st.integers(-50, 50), min_size=1, max_size=40),
)
@settings(max_examples=200, deadline=None)
def test_mannwhitney_doubled_ranks_match_bruteforce(a, b):
    # U_A = #{(x, y): x > y} + 0.5 * #{x == y}; the doubled-rank
    # formulation must equal the doubled brute-force count
    # (a39_mannwhitney_u)
    from collections import Counter

    u2_brute = sum(
        2 * (x > y) + (x == y) for x in a for y in b
    )
    cnt = Counter(a + b)
    ca = Counter(a)
    less = 0
    r2 = 0
    for v in sorted(cnt):
        r2 += ca[v] * (2 * less + cnt[v] + 1)
        less += cnt[v]
    na = len(a)
    assert r2 - na * (na + 1) == u2_brute


@given(rows=st.lists(
    st.tuples(st.integers(0, 4), st.integers(1, 10**6)),
    min_size=1, max_size=60,
))
@settings(max_examples=200, deadline=None)
def test_largest_remainder_alloc_exactness(rows):
    # floor shares + largest remainders must land exactly on the budget
    # and never differ from a fair share by more than 1 unit
    # (a41_largest_remainder_alloc)
    budget = 1000000
    tw = sum(w for _, w in rows)
    base = [(w * budget) // tw for _, w in rows]
    rem = [(w * budget) % tw for _, w in rows]
    leftover = budget - sum(base)
    order = sorted(range(len(rows)), key=lambda i: (-rem[i], i))
    alloc = list(base)
    for i in order[:leftover]:
        alloc[i] += 1
    assert sum(alloc) == budget
    for i, (_, w) in enumerate(rows):
        fair = w * budget / tw
        assert fair - 1 < alloc[i] < fair + 1


@given(xs=st.lists(st.integers(-1000, 1000), min_size=3, max_size=40))
@settings(max_examples=200, deadline=None)
def test_median3_closed_form(xs):
    # sum - max - min == middle element of three (ind_median3_smooth)
    for i in range(1, len(xs) - 1):
        a, b, c = xs[i - 1], xs[i], xs[i + 1]
        assert a + b + c - max(a, b, c) - min(a, b, c) == sorted(
            [a, b, c]
        )[1]


@given(
    groups=st.lists(
        st.lists(st.integers(-20, 20), min_size=1, max_size=20),
        min_size=2, max_size=4,
    )
)
@settings(max_examples=200, deadline=None)
def test_doubled_midranks_sum_identity_and_values(groups):
    # pooled doubled midranks: per-value dr = 2*#less + ties + 1 must
    # equal 2x the textbook average rank, and group rank sums must
    # total n*(n+1) (a43_spearman_rho_stats / a44_kruskal_wallis_stats)
    from collections import Counter

    pooled = [v for g in groups for v in g]
    n = len(pooled)
    cnt = Counter(pooled)
    ranks = {}
    less = 0
    for v in sorted(cnt):
        ranks[v] = 2 * less + cnt[v] + 1
        less += cnt[v]
    # textbook midrank: average of the positions the ties occupy
    pos = 1
    for v in sorted(cnt):
        avg2 = 2 * sum(range(pos, pos + cnt[v])) // cnt[v]
        assert ranks[v] == avg2
        pos += cnt[v]
    total = sum(ranks[v] for g in groups for v in g)
    assert total == n * (n + 1)
