"""Dedup operator tests: exact, MinHash+LSH, SimHash (operators/dedup.py)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import dedup as D
from test_io_footer_schema import SF, _jobs_submitted, needs_sf

BASE = (
    "spark executes declarative dataframe plans with catalyst optimizing "
    "predicate pushdown column pruning and join selection across stages"
)
NEAR = BASE.replace("join selection", "join strategy")  # 1-token edit
FAR = (
    "completely different text about cooking pasta with tomatoes basil "
    "garlic olive oil and a pinch of salt simmered slowly"
)


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=BASE),
            Row(doc_id=2, text=BASE),            # exact dup of 1
            Row(doc_id=3, text=NEAR),            # near dup of 1
            Row(doc_id=4, text=FAR),
            Row(doc_id=5, text="  Spark   Executes declarative dataframe plans "
                               "with catalyst optimizing predicate pushdown "
                               "column pruning and join selection across stages"),
        ]
    )


def test_exact_dedup_keeps_lowest_id(spark):
    out = D.exact_dedup(_docs(spark))
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 removed; doc 5 differs in raw bytes


def test_exact_dedup_normalized_collapses_whitespace_case(spark):
    out = D.exact_dedup(_docs(spark), normalized=True)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4]  # doc 5 now collapses into doc 1 as well


def test_duplicate_groups_report(spark):
    rows = D.duplicate_groups(_docs(spark)).collect()
    assert len(rows) == 1
    assert rows[0].n_copies == 2 and rows[0].keep_id == 1


def test_minhash_finds_near_dup_not_far(spark):
    out = D.minhash_near_dups(_docs(spark), threshold=0.5).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert all(4 not in p for p in pairs)
    jac = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert jac[(1, 2)] == 1.0
    assert 0.5 <= jac[(1, 3)] < 1.0


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="one two")])
    sh = D.with_shingles(df, n=3).first().shingles
    assert sh == ["one two"]


def test_simhash_hamming_zero_for_same_tokens(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=BASE), Row(doc_id=2, text=BASE.upper())]
    )
    out = D.simhash_near_dups(df, max_hamming=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 0)]


def test_simhash_near_detects_small_edit(spark):
    out = D.simhash_near_dups(_docs(spark), max_hamming=12).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    assert pairs.get((1, 3), 99) <= 12   # 1-token edit → small hamming
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_simhash_banding_recall_at_radius_6(spark):
    """Pigeonhole guarantee at the SHIPPED radius: plant signature pairs at
    every Hamming distance 1..6 with the differing bits SPREAD ACROSS
    chunks (the adversarial case the old fixed 4x16-bit banding dropped
    for distances 4-6) and assert candidate generation finds them all."""
    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base)]
    expected = set()
    for d in range(1, 7):
        # flip d bits at positions 0, 11, 22, ... — one per ~11-bit stride,
        # so they land in d DIFFERENT chunks of any ≥6-chunk banding and
        # in 4 different chunks of the old 16-bit banding when d >= 4
        sig = base
        for j in range(d):
            sig ^= 1 << (j * 11)
        rows.append((d, sig))
        expected.add((0, d))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    cand = D.simhash_candidate_pairs(sigs, max_hamming=6)
    got = {(r.id_a, r.id_b) for r in cand.collect()}
    assert expected <= got
    # and the verified distances match the planted flips
    from pyspark.sql import functions as F

    out = cand.withColumn(
        "hamming", F.bit_count(cand.sig_a.bitwiseXOR(cand.sig_b))
    ).filter("hamming <= 6")
    got_d = {r.id_b: r.hamming for r in out.collect() if r.id_a == 0}
    assert got_d == {d: d for d in range(1, 7)}


def test_simhash_radius_zero_is_exact_equality(spark):
    sigs = spark.createDataFrame(
        [(1, 42), (2, 42), (3, 43)], "doc_id long, simhash long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in D.simhash_candidate_pairs(sigs, max_hamming=0).collect()
    }
    assert got == {(1, 2)}


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """1,000 byte-identical documents put every doc in the same bucket for
    every band: uncapped, that is a single-task 999,000-pair explosion.
    With the cap the hot buckets are dropped and the pipeline completes
    with zero candidate pairs (exact dedup is the right tool for that
    mass); a distinct near-dup pair in the same corpus is still found."""
    from pyspark.sql import functions as F

    clones = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(BASE).alias("text")
    )
    extras = spark.createDataFrame(
        [Row(doc_id=2001, text=NEAR), Row(doc_id=2002, text=NEAR + " tail")]
    )
    docs = clones.unionByName(extras)
    out = D.minhash_near_dups(docs, threshold=0.5, max_bucket_size=200)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (2001, 2002) in pairs
    assert all(a >= 2000 and b >= 2000 for a, b in pairs)
    # uncapped on the normal fixture: output unchanged by the cap
    small = _docs(spark)
    capped = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dups(small, threshold=0.5).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.minhash_near_dups(
            small, threshold=0.5, max_bucket_size=None
        ).collect()
    }
    assert capped == uncapped


def test_ngram_jaccard_superset_of_minhash(spark):
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd
    from big_data_analysis_for_stock_market_data_spark.queries import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    mh = {
        (r.id_a, r.id_b)
        for r in dd.minhash_near_dups(docs, threshold=0.5).collect()
    }
    ng = {
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_near_dups(docs, threshold=0.5).collect()
    }
    # exact inverted-index recall can only add pairs LSH banding missed
    assert mh <= ng
    # and every returned pair really clears the threshold
    for r in dd.ngram_jaccard_near_dups(docs, threshold=0.5).collect():
        assert r.jaccard >= 0.5


def test_connected_components_clusters(spark):
    from big_data_analysis_for_stock_market_data_spark.operators import dedup as dd

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.component
        for r in dd.connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


@needs_sf
def test_connected_components_build_jobs(spark):
    # Each round's labels carry their own changed flag, so the convergence
    # probe reads the checkpointed labels instead of joining them to the
    # previous round's: building g4 (11 rounds) submitted 129 jobs with
    # the join, 96 without.
    from big_data_analysis_for_stock_market_data_spark.queries import queries

    build = queries()["g4_connected_components"]
    df, jobs = _jobs_submitted(spark, lambda: build(spark, SF))
    assert len(jobs) <= 96
    assert df.count() == 1880


def test_cross_containment_detects_quoted_eval_doc(spark):
    """An eval document fully quoted inside a longer train document scores
    containment 1.0 (where Jaccard would dilute); unrelated docs are
    absent; the index-side doc-freq cap does not affect the verify math."""
    from big_data_analysis_for_stock_market_data_spark.operators.dedup import (
        cross_containment,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different content about spark aggregation plans"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (10, "quick brown fox jumps over the lazy dog"),  # quoted subset
            (11, "nothing in common with any training document at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.eval_id, r.train_id): r.containment
        for r in cross_containment(train, ev, threshold=0.5).collect()
    }
    assert set(got) == {(10, 1)}
    assert got[(10, 1)] == 1.0


def test_dedup_within_window_reappearance(spark):
    """A key dedups inside its tumbling window but legitimately reappears
    in a later window; earliest row survives deterministically."""
    from datetime import datetime as DT

    from big_data_analysis_for_stock_market_data_spark.operators.dedup import (
        dedup_within_window,
    )

    df = spark.createDataFrame(
        [
            (1, "k", DT(2024, 1, 1, 9, 5)),
            (2, "k", DT(2024, 1, 1, 9, 40)),   # same hour -> dropped
            (3, "k", DT(2024, 1, 1, 10, 1)),   # next hour -> survives
            (4, "j", DT(2024, 1, 1, 9, 50)),   # other key untouched
        ],
        "eid long, k string, ts timestamp",
    )
    out = dedup_within_window(
        df, keys=["k"], ts_col="ts", window="1 hour", order=["ts", "eid"]
    )
    # schema-preserving: no helper columns leak into the output
    assert out.columns == df.columns
    got = sorted(r.eid for r in out.collect())
    assert got == [1, 3, 4]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="__wstart"):
        dedup_within_window(
            df.withColumn("__wstart", F.lit(1)),
            keys=["k"], ts_col="ts",
        )


def test_exact_substring_pairs_crafted(spark):
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.dedup import exact_substring_pairs

    docs = spark.createDataFrame([
        Row(doc_id=0, text="ABCDEfgh"),          # normalized: abcdefgh
        Row(doc_id=1, text="  zzabcdezz "),      # shares 'abcde' with 0
        Row(doc_id=2, text="totally different"),
        Row(doc_id=3, text="tiny"),              # shorter than the window
    ])
    out = exact_substring_pairs(docs, window=5).collect()
    assert [(r["id_a"], r["id_b"], r["n_shared"]) for r in out] == [(0, 1, 1)]


def test_exact_substring_doc_freq_cap_drops_boilerplate(spark):
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.dedup import exact_substring_pairs

    # 'boilerplate' lives in 3 docs; with the cap at 2 the hot window is
    # dropped from the index and no pairs survive
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"{i} boilerplate {i}") for i in range(3)]
    )
    capped = exact_substring_pairs(docs, window=11, max_doc_freq=2)
    assert capped.count() == 0
    uncapped = exact_substring_pairs(docs, window=11, max_doc_freq=10)
    assert uncapped.count() == 3  # all three pairs share 'boilerplate'


def test_paragraph_dedup_removes_repeats_keeps_first(spark):
    # 10-word paragraphs; doc 1 para0 == doc 2 para0; doc 2 para1 unique
    p = " ".join(f"w{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(10))
    df = spark.createDataFrame(
        [Row(doc_id=1, text=p), Row(doc_id=2, text=p + " " + uniq)]
    )
    out = {r["doc_id"]: r for r in D.paragraph_dedup(df).collect()}
    assert out[1]["n_paras"] == 1 and out[1]["n_kept"] == 1
    assert out[1]["dedup_text"] == p
    # doc 2 loses the repeated opening paragraph, keeps the unique one
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["dedup_text"] == uniq


def test_paragraph_dedup_within_doc_and_spine(spark):
    p = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            Row(doc_id=7, text=p + " " + p),  # self-repeat inside one doc
            Row(doc_id=8, text="   "),        # whitespace-only doc
        ]
    )
    out = {r["doc_id"]: r for r in D.paragraph_dedup(df).collect()}
    assert out[7]["n_paras"] == 2 and out[7]["n_kept"] == 1
    assert out[7]["dedup_text"] == p
    assert out[8]["n_paras"] == 0 and out[8]["n_kept"] == 0
    assert out[8]["dedup_text"] == ""


def test_semantic_dedup_prunes_lower_id_neighbor(spark):
    # two near-identical vectors + two far ones; 1 cluster makes the
    # in-cell comparison exhaustive, so the pair MUST be found
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0, 0.0]),   # ~cos 0.9999 to 1
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    out = {r["vec_id"]: r for r in
           D.semantic_dedup(df, threshold=0.95, n_clusters=1, n_iters=1)
           .collect()}
    assert out[1]["is_kept"] and out[1]["dup_of"] is None
    assert not out[2]["is_kept"] and out[2]["dup_of"] == 1
    assert out[2]["cos_to_dup"] >= 0.95
    assert out[3]["is_kept"] and out[4]["is_kept"]

def test_semantic_dedup_cell_cap_bounds_pairs(spark):
    # One degenerate cell (n_clusters=1 forces every vector together):
    # with max_cell_size=10 the 60 members sub-split into 6 chunks, so
    # within-chunk pair cost is bounded (~ n*cap/2 not n^2/2) while
    # near-identical twins that land in the same chunk are still pruned.
    # The uncapped run (max_cell_size=None) must equal the default run on
    # a HEALTHY cell size (cap >> |cell| => chunking is a no-op).
    from pyspark.sql import functions as F

    rows = [
        Row(vec_id=i, embedding=[float(i % 7 + 1), float(i % 5), 1.0, 0.0])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    capped = D.semantic_dedup(
        df, threshold=0.999999, n_clusters=1, n_iters=1, max_cell_size=10
    )
    # sanity: runs, keeps the spine, and every pruned row names a
    # LOWER-id dup (the order-free rule survives chunking)
    got = capped.collect()
    assert len(got) == 60
    assert all(r["dup_of"] is None or r["dup_of"] < r["vec_id"] for r in got)
    # healthy-cell equivalence: cap larger than the cell == uncapped
    a = D.semantic_dedup(
        df, threshold=0.9, n_clusters=1, n_iters=1, max_cell_size=2000
    ).orderBy("vec_id").collect()
    b = D.semantic_dedup(
        df, threshold=0.9, n_clusters=1, n_iters=1, max_cell_size=None
    ).orderBy("vec_id").collect()
    assert a == b


def test_prefix_dedup_keeps_longest_variant(spark):
    rows = [
        # one prefix cluster: truncated / full / extended variants
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=2, text="Alpha  beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=3, text="alpha beta gamma delta epsilon zeta eta"),
        # same length as doc 3's cluster-mate? different prefix -> own cluster
        Row(doc_id=4, text="omega psi chi phi upsilon tau sigma"),
        # tie on length within a cluster -> lowest id survives
        Row(doc_id=5, text="one two three four five six AAA"),
        Row(doc_id=6, text="one two three four five six BBB"),
        # shorter than the prefix: clusters on its whole token string
        Row(doc_id=7, text="tiny doc"),
    ]
    out = D.prefix_dedup_keep_longest(
        spark.createDataFrame(rows), n_prefix_tokens=6
    )
    kept = sorted(r.doc_id for r in out.collect())
    # cluster {1,2,3}: doc 2 is longest (case/whitespace-normalized
    # prefix still matches); cluster {5,6}: equal length -> doc 5
    assert kept == [2, 4, 5, 7]
