"""Similarity search over embedding columns (north-star surface).

Two paths, mirroring what a 100 TB pipeline needs:

- **Brute-force cosine top-k** (the exactness baseline): broadcast the query
  set, compute cosine as JVM higher-order functions (``zip_with`` +
  ``aggregate`` in double), rank per query. Cost |corpus|·|queries| — right
  whenever the query set is small enough to broadcast, which is the common
  "find neighbors for these N items" shape.

- **LSH-bucketed ANN** (random hyperplane / signed random projection): a
  deterministic pseudo-random hyperplane family (seeded xxhash64 → ±1
  components) maps each vector to a sign-bit bucket key; candidates join
  within buckets only, then exact cosine re-ranks. Sub-linear candidate
  generation; recall tuned by (n_planes, n_tables). ``ann_join`` is the
  one sign-LSH top-k, for a query batch and for two corpora alike.

Everything is expression-level (no UDF): the dot product runs inside
whole-stage codegen. A Pandas-UDF variant is deliberately absent — at dim
≤ a few thousand, ``aggregate(zip_with(...))`` beats the Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.functions.scalar import md5_60
from big_data_analysis_for_stock_market_data_spark.operators import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double (inputs cast element-wise so float arrays don't
    accumulate in float32)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def with_normalized(df: DataFrame, col: str = "embedding",
                    out: str = "embedding_norm") -> DataFrame:
    """Pre-normalize once so downstream cosine = plain dot product — at
    scale, normalization is a write-once column, not a per-query cost."""
    n = l2_norm(F.col(col))
    return df.withColumn(
        out, F.transform(F.col(col), lambda x: F.try_divide(x.cast("double"), n))
    )


def _rank_topk(scored: DataFrame, key: str, score: str, k: int,
               ascending: bool = False) -> DataFrame:
    """The one top-k step of every search operator here: ``row_number``
    per ``key`` over (``score``, ``neighbor_id``) — best score first, ties
    to the lower neighbor id — keeping ranks 1..k, ordered by (key, rank).
    ``ascending`` for distances, where lower is better."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy(key).orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(key, "rank")
    )


def _cos_sim(a: Column, b: Column, round_to: int | None) -> Column:
    """Exact cosine as ``cos_sim``. ``round_to`` rounds it to that many
    decimals BEFORE any ranking: sub-ulp summation noise can otherwise
    flip the order of two near-tied neighbors between runs/engines;
    rounding makes the ranking — and therefore the whole result —
    reproducible and oracle-comparable."""
    sim = cosine(a, b)
    return (sim if round_to is None else F.round(sim, round_to)).alias(
        "cos_sim"
    )


def _distinct_scored(cand: DataFrame, *cols: Column) -> DataFrame:
    """One row per pair of a candidate set that can repeat a pair (an LSH
    pair sharing buckets in several tables): ``cols`` = (key id, neighbor
    id, score), scored FIRST, then ``distinct()``.

    The ids determine the vectors and the score is a pure function of
    them, so deduping (ids, score) keeps exactly the rows deduping (ids,
    vectors) would — but every aggregation key is fixed-width: the hash
    map stays compact, the dedup exchange carries ~24 bytes per row
    instead of two 64-float vectors, no per-row NaN/-0.0 array
    normalization runs, and the plan stays a HashAggregate
    (``dropDuplicates(ids)`` keeps ``first(array)`` buffers, which force
    a SortAggregate). Precondition: ids uniquely determine their vectors
    — true of any sane embedding table; duplicate ids with DIFFERENT
    vectors would give one row per distinct score, not per id pair."""
    return cand.select(*cols).distinct()


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector. ``queries`` must
    be broadcastable (the deliberate contract of the exact path). Ties break
    on neighbor id for determinism. Excludes self-matches when ids collide.
    ``round_to``: rank on (and emit) the cosine rounded to this many
    decimals (``_cos_sim``)."""
    q = queries.select(
        F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
    )
    scored = (
        ensure_parallelism(corpus)
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            _cos_sim(F.col(vec_col), F.col("__qvec"), round_to),
        )
    )
    return _rank_topk(scored, query_id_col, "cos_sim", k)


#: resolve_n_planes defaults: 8 planes saturate recall up to ~2000 corpus
#: rows (ANN_SCALE_PROBE.json); each corpus-size doubling past that adds
#: one plane, holding expected bucket occupancy — and therefore candidate
#: pairs per row — roughly constant instead of linear in corpus size.
AUTO_PLANES_BASE = 8
AUTO_PLANES_BASE_ROWS = 2000


def resolve_n_planes(
    n_planes: int | str,
    corpus: DataFrame | None = None,
    corpus_rows: int | None = None,
) -> int:
    """Bucket-width sizing for the sign-LSH family. ``n_planes='auto'``
    returns ``AUTO_PLANES_BASE + k`` where k is the smallest integer with
    ``AUTO_PLANES_BASE_ROWS * 2**k >= corpus_rows`` — the integer-exact
    form of ``8 + ceil(log2(corpus_rows / 2000))``, floored at 8 for small
    corpora.

    Why this exists: ANN_SCALE_PROBE.json measured that a FIXED plane
    count turns bucket-join cost quadratic in corpus size (candidates per
    left row grew 9.6x when the corpus grew 10x; the join 50x), while
    adding ceil(log2(scale)) planes held candidate growth to 2.7x at
    99.8% matched-row coverage. At 100 TB a caller taking the default
    must get the sized family, not the cliff.

    ``corpus_rows`` is an optional hint that avoids the one bounded
    driver action (a ``count()``) auto mode otherwise fires; an int
    ``n_planes`` passes through untouched (explicit override)."""
    if n_planes == "auto":
        rows = corpus_rows
        if rows is None:
            if corpus is None:
                raise ValueError(
                    "n_planes='auto' requires corpus or corpus_rows"
                )
            rows = corpus.count()
        k = 0
        while AUTO_PLANES_BASE_ROWS << k < rows:
            k += 1
        return AUTO_PLANES_BASE + k
    if isinstance(n_planes, bool) or not isinstance(n_planes, int):
        raise ValueError(f"n_planes must be an int or 'auto', got {n_planes!r}")
    return n_planes


def _hyperplane_dot(vec: Column, table: int, plane: int, dim: int) -> Column:
    """Σ_j vec[j] · s(table, plane, j) with ±1 components derived from
    seeded xxhash64 INSIDE the expression — no dim-sized literal arrays.
    (The literal-array form made the 32-plane plan tree so large that
    analysis+codegen dominated runtime: 7s for 500 vectors.)"""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    signed = F.zip_with(
        vec, idx,
        lambda x, j: x.cast("double")
        * (F.xxhash64(j, F.lit(table), F.lit(plane)) % 2 * 2 - 1).cast("double"),
    )
    return F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)


def _bucket_expr(
    vec: Column, table: int, n_planes: int, dim: int,
    plane_mode: str = "hash",
) -> Column:
    """Sign-random-projection bucket id for one hash table (bits packed
    into an int, offset by the table id so tables never collide).

    ``plane_mode='hash'``: ±1 hyperplane components derived from seeded
    xxhash64 (the production family). ``plane_mode='axis'``: plane p of
    table t is the coordinate axis ``(t·n_planes + p) mod dim`` — the bit
    is simply ``vec[axis] >= 0``. A legitimate sign-LSH family when
    components are near-iid (true of normalized embeddings), and — unlike
    the seeded-hash family — expressible verbatim in external SQL, which
    is what lets a DuckDB oracle replay candidates+verify exactly."""
    expr: Column = F.lit(table * (2 ** n_planes))
    for p in range(n_planes):
        if plane_mode == "hash":
            bit = _hyperplane_dot(vec, table, p, dim) >= 0
        elif plane_mode == "axis":
            axis = (table * n_planes + p) % dim
            bit = F.element_at(vec, axis + 1) >= 0
        else:
            raise ValueError(f"unknown plane_mode {plane_mode!r}")
        expr = expr + F.when(bit, 1).otherwise(0) * (2 ** p)
    return expr


def _bucket_explode(
    vec: Column, n_planes: int, n_tables: int, dim: int, plane_mode: str
) -> Column:
    """``__bucket``: the row's ``_bucket_expr`` id in each of ``n_tables``
    tables, exploded to one row per table — the candidate key both sides
    of a sign-LSH join select."""
    return F.explode(
        F.array(*[_bucket_expr(vec, t, n_planes, dim, plane_mode=plane_mode)
                  for t in range(n_tables)])
    ).alias("__bucket")


def ann_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    dim: int = 64,
    n_planes: int | str = "auto",
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_mode: str = "hash",
    round_to: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """The sign-LSH approximate top-k: for every left vector, its top-k
    approximate neighbors among the right vectors, as (left_id,
    neighbor_id, cos_sim, rank). Serves a query batch against a corpus
    (``simsearch_lsh_topk``) and corpus-to-corpus linking (eval→train
    near-dup attribution, cross-corpus retrieval augmentation) alike.

    Both sides bucket by sign-random-projection over ``n_tables``
    independent tables (union of candidates → recall boost) and meet in
    a bucket equi join; exact cosine re-ranks the candidates. Which side
    is broadcast is Spark's choice (``autoBroadcastJoinThreshold``): a
    query batch or a small corpus is broadcast, two large corpora meet in
    a bucket-keyed shuffle, with candidates bounded by bucket
    co-occupancy. ``round_to`` rounds before ranking for cross-engine tie
    stability; ``plane_mode='axis'`` makes the family SQL-replayable (see
    ``_bucket_expr``). A left vector with no shared bucket yields no row
    (ANN contract: recall is tunable via tables/planes). ``n_planes``
    defaults to ``'auto'``, sizing the bucket width from the RIGHT
    (retrieved) corpus cardinality via ``resolve_n_planes`` — the
    measured fix for the fixed-plane quadratic-candidates cliff; an int
    overrides; ``corpus_rows`` skips the sizing count. Ids must determine
    their vectors (``_distinct_scored``)."""
    n_planes = resolve_n_planes(n_planes, right, corpus_rows)
    bucket = _bucket_explode(F.col(vec_col), n_planes, n_tables, dim,
                             plane_mode)
    l_b = ensure_parallelism(left).select(
        F.col(id_col).alias("__lid"), F.col(vec_col).alias("__lvec"), bucket
    )
    r_b = ensure_parallelism(right).select(
        F.col(id_col).alias("__rid"), F.col(vec_col).alias("__rvec"), bucket
    )
    scored = _distinct_scored(
        l_b.join(r_b, "__bucket").filter(F.col("__lid") != F.col("__rid")),
        F.col("__lid").alias("left_id"),
        F.col("__rid").alias("neighbor_id"),
        _cos_sim(F.col("__lvec"), F.col("__rvec"), round_to),
    )
    return _rank_topk(scored, "left_id", "cos_sim", k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | str = "auto",
    n_tables: int = 4,
    dim: int = 64,
    plane_mode: str = "hash",
    corpus_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup's semantic variant):
    LSH-bucket the corpus against itself (``ann_join``'s bucketing),
    exact-cosine verify, keep pairs ≥ threshold. Returns (id_a, id_b,
    cos_sim), id_a < id_b. Spark applies the threshold before the
    candidate dedup, so only near-duplicate pairs reach its exchange.
    ``n_planes`` defaults to ``'auto'``, sizing buckets from the corpus
    cardinality (``resolve_n_planes``); an int overrides; ``corpus_rows``
    skips the sizing count. Ids must determine their vectors
    (``_distinct_scored``)."""
    n_planes = resolve_n_planes(n_planes, df, corpus_rows)
    bucketed = ensure_parallelism(df).select(
        id_col, vec_col,
        _bucket_explode(F.col(vec_col), n_planes, n_tables, dim, plane_mode),
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "__bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "__bucket"
    )
    return (
        _distinct_scored(
            a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b")),
            F.col("id_a"), F.col("id_b"),
            _cos_sim(F.col("__va"), F.col("__vb"), None),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _sq_dist(vec: Column, cent: Column) -> Column:
    """Σ_j (vec[j] - cent[j])² in double — a sequential fold, matching what
    an order-preserving SQL list_sum computes (same precedent as cosine)."""
    diffs = F.zip_with(
        vec, cent,
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _nearest_cells(
    df: DataFrame, cents: DataFrame, vec_col: str, n: int
) -> DataFrame:
    """The nearest-centroid kernel: ``df`` plus a ``cluster`` column, one
    row for each of the row's ``n`` nearest centroids in (squared
    distance, cluster id) order — the order a per-row window over the
    same keys gives, ties to the lower id. ``n = 1`` is the k-means and
    IVF assignment; ``n = n_probe`` gives a query's probe cells.

    The centroids (cluster, centroid) are aggregated into ONE array row,
    crossed into ``df`` as a broadcast, and each row sorts its own
    distances in place: a narrow pass, instead of shuffling |df|·|cents|
    rows into a per-row window."""
    table = cents.agg(
        F.collect_list(F.struct("cluster", "centroid")).alias("__cents")
    )
    ranked = F.array_sort(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                _sq_dist(F.col(vec_col), c.getField("centroid")).alias("d"),
                c.getField("cluster").alias("cluster"),
            ),
        )
    )
    cells = F.transform(F.slice(ranked, 1, n), lambda s: s.getField("cluster"))
    return (
        df.crossJoin(F.broadcast(table))
        .withColumn("cluster", F.explode(cells))
        .drop("__cents")
    )


def deterministic_kmeans(
    corpus: DataFrame,
    n_clusters: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Lloyd iterations made engine-deterministic — the one coarse
    quantizer behind IVF, IVF-PQ and ``dedup.semantic_dedup``. Every step
    is a pure data function, so an external SQL replay certifies the full
    iterative algorithm:

    - init: the ``n_clusters`` vectors with the smallest md5 bucket of
      their id (``ml.split_bucket``'s trick — a pure data function, not a
      partition-seeded sample); cluster ids 0..n-1 in (bucket, id) order;
    - assign: argmin squared distance, ties to the lowest cluster id
      (``_nearest_cells`` with n = 1);
    - update: per-dimension mean with DECIMAL(18,9)-exact sums (addition
      order cannot perturb the centroid), divided in double; empty
      clusters keep their previous centroid;
    - a FIXED ``n_iters`` (no convergence test): iteration count is part
      of the spec, so any engine replays the identical computation.

    Scale: assignment is a broadcast of n_clusters×dim doubles against the
    corpus (narrow, one pass); the update is one groupBy on (cluster, dim)
    — rows = |corpus|·dim, the same shuffle volume any distributed k-means
    pays. Returns (cluster int, centroid array<double>).
    """
    from big_data_analysis_for_stock_market_data_spark.ml.pipeline import split_bucket

    b = split_bucket(F.col(id_col), seed)
    w_init = Window.orderBy(b.asc(), F.col(id_col).asc())
    cents = (
        corpus.select(id_col, vec_col)
        .withColumn("__rn", F.row_number().over(w_init))
        .filter(F.col("__rn") <= n_clusters)
        .select(
            (F.col("__rn") - 1).alias("cluster"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "centroid"
            ),
        )
    )
    for _ in range(n_iters):
        assigned = _nearest_cells(
            corpus.select(id_col, vec_col), cents, vec_col, 1
        )
        dims = assigned.select(
            "cluster", F.posexplode(F.col(vec_col)).alias("dim", "val")
        )
        means = (
            dims.groupBy("cluster", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                    / F.count("val")
                ).alias("mean")
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "mean"))
                    ),
                    lambda s: s.getField("mean"),
                ).alias("new_centroid")
            )
        )
        cents = (
            cents.join(means, "cluster", "left")
            .select(
                "cluster",
                F.coalesce(F.col("new_centroid"), F.col("centroid")).alias(
                    "centroid"
                ),
            )
            # Truncate lineage each round (the exact_rank_narrow /
            # connected-components precedent): without this the
            # centroid plan nests the full corpus once per iteration,
            # and every downstream reference (corpus assign, query
            # probe, PQ encode) re-executes the WHOLE training lineage
            # — measured 16 parquet scans / 37 exchanges for
            # ivf_topk at 2 iterations. The checkpointed frame is
            # n_clusters rows; values are unchanged.
            .localCheckpoint(eager=True)
        )
    return cents


def _ivf_candidates(
    corpus: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    score: Column,
    n_probe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The IVF probe step shared by ``ivf_topk`` and ``ivfpq_det_topk``:
    assign every corpus vector to its nearest cell of ``cents`` (the
    caller's ``deterministic_kmeans``), pair each query with the vectors
    of its ``n_probe`` nearest cells (self-pairs excluded) and score each
    pair with ``score`` — over ``corpus``'s columns plus ``__qvec``.
    Returns (query_id_col, neighbor_id, score), deduplicated score first
    (why that is exact: ``_distinct_scored``), as the oracles' ``SELECT
    DISTINCT`` does. The scored pairs are
    hash-partitioned by query, the key both callers rank on, so the
    dedup and the ranking window (``_rank_topk``) share one exchange."""
    assigned = _nearest_cells(corpus, cents, vec_col, 1)
    probes = _nearest_cells(
        queries.select(
            F.col(query_id_col).alias("__qid"), F.col(vec_col).alias("__qvec")
        ),
        cents, "__qvec", n_probe,
    )
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col(id_col) != F.col("__qid"))
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            score,
        )
    )
    return scored.repartition(query_id_col).distinct()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    round_to: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: the deterministic k-means quantizer
    (``deterministic_kmeans``), each query probes its ``n_probe`` nearest
    cells, exact cosine re-ranks within the probed cells. ``n_probe ==
    n_clusters`` degrades to exact brute force (asserted in tests).
    Candidate cost ≈ |corpus|·n_probe/n_clusters per query versus |corpus|
    for brute force; at scale the assigned corpus is persisted
    partitioned by cell, so probes prune partitions. Candidates are
    scored before they are deduplicated, so the dedup hash-aggregates
    fixed-width (ids, score) rows. ``round_to`` rounds the cosine before
    ranking (same cross-engine tie-stability knob as
    ``brute_force_topk``). Every step is replayable in SQL."""
    cents = deterministic_kmeans(corpus, n_clusters, n_iters, id_col, vec_col, seed)
    cand = _ivf_candidates(
        corpus, cents, queries,
        _cos_sim(F.col(vec_col), F.col("__qvec"), round_to),
        n_probe, id_col, vec_col, query_id_col,
    )
    return _rank_topk(cand, query_id_col, "cos_sim", k)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression half of IVF-PQ, the
# canonical web-scale ANN layout. A d-dim vector becomes m sub-codes (one
# per d/m-dim subspace); approximate distances come from per-subspace
# lookup tables (ADC), so the corpus is scanned as m bytes/vector instead
# of d floats — at 100 TB that is the difference between RAM-resident and
# not. The codebook derives centroid components from md5-60 uniforms
# INSIDE the expression (no dim-sized literals, externally replayable in
# any SQL engine, so the oracle checks it); a trained codebook would plug
# into the same encode/ADC machinery.
# ---------------------------------------------------------------------------

def _pq_centroid(sub: Column, cent: Column, j: Column) -> Column:
    """Deterministic codebook component in [-1, 1]: md5-60 uniform of
    (sub, cent, j) — identical hex, hence identical double, in every
    engine."""
    h = md5_60(F.concat_ws(":", sub, cent, j, F.lit("pq")))
    return (h % 1000000007) / 1000000007.0 * 2.0 - 1.0


def _pq_subdist(vec: Column, sub: Column, cent: Column, d_sub: int) -> Column:
    """Σ_j (vec[sub·d_sub + j] − centroid(sub, cent, j))² — left-to-right
    fold, matching an external list_reduce replay."""
    idx = F.sequence(F.lit(0), F.lit(d_sub - 1))
    return F.aggregate(
        idx, F.lit(0.0),
        lambda acc, j: acc + F.pow(
            F.element_at(vec, (sub * d_sub + j + 1).cast("int")).cast("double")
            - _pq_centroid(sub, cent, j),
            F.lit(2.0),
        ),
    )


def _adc_sqdist(qvec: Column, m: int, d_sub: int) -> Column:
    """ADC approximate squared distance of ``qvec`` to a PQ-coded vector:
    Σ_s table[s][pq_code[s]] — m codebook lookups, no corpus floats."""
    return F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: _pq_subdist(qvec, s, c.cast("bigint"), d_sub),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    out: str = "pq_code",
) -> DataFrame:
    """Encode each vector as m sub-codes: per subspace, the argmin-distance
    centroid — the minimum of (distance, index) structs, so each
    sub-distance is computed once and exact ties go to the first index.
    Pure expressions — the k×d_sub loop lives in runtime
    ``transform``/``aggregate``, not in the plan tree, so codegen stays
    small at any (m, k)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    vec = F.col(col)
    code = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda c: F.struct(
                    _pq_subdist(vec, s, c, d_sub).alias("d"), c.alias("c")
                ),
            )
        ).getField("c"),
    )
    return df.withColumn(out, code)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_neighbors: int = 5,
    col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_col: str = "qvec",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k: corpus vectors are scanned by their PQ codes only; the
    query side computes the m×k distance table and each candidate's
    approximate distance is Σ_s table[s][code_s] — m lookups per vector.
    Scores round to 6 dp before ranking (near-ties order identically
    across engines); ties break on neighbor id. The query set broadcasts
    (same contract as brute_force_topk), and the corpus is widened to
    the session's parallelism (``ensure_parallelism``) before the
    encode, its heaviest step."""
    scored = (
        pq_encode(ensure_parallelism(corpus), col=col, m=m, k=k, dim=dim)
        .crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(_adc_sqdist(F.col(query_col), m, dim // m), 6).alias(
                "approx_sqdist"
            ),
        )
    )
    return _rank_topk(scored, query_id_col, "approx_sqdist", n_neighbors,
                      ascending=True)


def ivfpq_det_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 3,
    n_iters: int = 2,
    m: int = 8,
    pq_k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """IVF-PQ, the canonical web-scale ANN layout, end-to-end
    deterministic: the IVF coarse quantizer (``deterministic_kmeans``)
    prunes the scan to ``n_probe`` cells per query, and within candidates
    the PQ codes score by ADC lookups (``_adc_sqdist``, as ``pq_topk``)
    instead of exact distance — at 100 TB the probed cells are
    partition-pruned AND each candidate costs m code lookups, not dim
    float multiplies. Every stage (Lloyd iterations, cell assignment,
    codebook, encode, ADC) is replayable in external SQL, so the WHOLE
    composition is hash-verifiable. Shares its index-and-probe step and
    score-first dedup with ``ivf_topk`` (``_ivf_candidates``); only the
    score differs. The k-means trains on the corpus as scanned; the PQ
    encode, the heaviest step, runs on the corpus widened to the
    session's parallelism (``ensure_parallelism``, as ``pq_topk``)."""
    base = corpus.select(id_col, vec_col)
    cents = deterministic_kmeans(base, n_clusters, n_iters, id_col, vec_col, seed)
    encoded = pq_encode(
        ensure_parallelism(base), col=vec_col, m=m, k=pq_k, dim=dim
    )
    adc = F.round(_adc_sqdist(F.col("__qvec"), m, dim // m), round_to)
    cand = _ivf_candidates(
        encoded, cents, queries, adc.alias("approx_sqdist"), n_probe,
        id_col, vec_col, query_id_col,
    )
    return _rank_topk(cand, query_id_col, "approx_sqdist", k, ascending=True)


def int8_quantize(
    df: DataFrame,
    col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard vector-store
    compression step (4x over float32; 8x over float64): q_i =
    round(127 * x_i / max|x|), scale carried per vector for
    dequantization. Pure JVM array expressions, engine-exact: the only
    arithmetic is IEEE multiply/divide on doubles derived from the same
    float32 payload plus a double->integer rounding (portable, unlike
    decimal-place rounding). Zero vectors quantize to zeros with scale 0.

    Returns (id, scale_abs, q8): ``scale_abs`` = max|x| (dequantize as
    q * scale_abs / 127), ``q8`` the int array in [-127, 127]."""
    x = F.transform(F.col(col), lambda v: v.cast("double"))
    mx = F.array_max(F.transform(x, lambda v: F.abs(v)))
    q = F.when(
        mx == 0.0, F.transform(x, lambda v: F.lit(0))
    ).otherwise(
        F.transform(
            x, lambda v: F.round(v / mx * 127.0, 0).cast("int")
        )
    )
    return df.select(
        F.col(id_col), mx.alias("scale_abs"), q.alias("q8")
    )
