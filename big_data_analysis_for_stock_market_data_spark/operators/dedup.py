"""Deduplication operators (north-star surface): exact, MinHash+LSH,
SimHash, n-gram Jaccard — the large-scale training-data pipeline family.

Scale design notes
------------------
- Exact dedup is a hash-groupBy on the (normalized) content key: one shuffle
  keyed by a fingerprint, never by the full text (the md5 key keeps shuffle
  rows small even for MB-sized documents).
- MinHash+LSH is the classic shingle → k-minhash → band → bucket-join
  pipeline expressed entirely in DataFrame ops: one explode over shingles,
  one groupBy for signatures, one groupBy per-band bucketing, and a
  candidate self-join INSIDE buckets only — pair cost is Σ|bucket|², never
  |docs|². All hashing is seeded xxhash64 (deterministic, JVM-side).
- SimHash: 64-bit weighted-bit-vote signature; near-dup = small Hamming
  distance; candidates found by banding the signature into max_hamming+1
  chunks (pigeonhole: hamming ≤ h ⇒ at least one of h+1 chunks equal).
- Verification (exact Jaccard on shingle sets) only runs on candidate
  pairs, which LSH keeps tiny relative to the corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.functions.scalar import md5_60
from big_data_analysis_for_stock_market_data_spark.operators import ensure_parallelism
from big_data_analysis_for_stock_market_data_spark.operators.text import tokens_col


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    key_cols: Sequence[str] = ("text",),
    id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Keep the lowest-``id_col`` row per content key (deterministic
    survivor). ``normalized=True`` dedups on whitespace/case-normalized
    text instead of raw bytes."""
    if normalized:
        key = [F.md5(F.concat_ws(" ", tokens_col(F.col(c))).cast("binary"))
               for c in key_cols]
    else:
        key = [F.md5(F.col(c).cast("binary")) for c in key_cols]
    w = Window.partitionBy(*key).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(
    df: DataFrame, key_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate group report: content hash, group size, surviving id.
    Only groups with >1 member (the dedup 'what would be removed' view)."""
    return (
        df.groupBy(F.md5(F.col(key_col).cast("binary")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def prefix_dedup_keep_longest(
    df: DataFrame,
    n_prefix_tokens: int = 6,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Prefix-duplicate removal keeping the LONGEST variant: documents
    whose first ``n_prefix_tokens`` normalized tokens agree form a
    cluster (the truncation-duplicate shape — crawl snapshots, paywalled
    previews, re-posts cut mid-article — that full-content hashing can
    never link), and the survivor is the longest member (most content
    preserved), ties to the lowest ``id_col``. The "keep best, not keep
    first" curation rule; exact_dedup keeps lowest-id instead.

    Scale: the cluster key is an md5 of a BOUNDED token slice, so
    shuffle rows stay small no matter how large documents get; one
    window over that key (same single-shuffle shape as exact_dedup).
    Documents shorter than the prefix cluster on their whole token
    string — exact-normalized dedup is the special case n -> inf."""
    prefix = F.slice(tokens_col(F.col(col)), 1, n_prefix_tokens)
    key = F.md5(F.concat_ws(" ", prefix).cast("binary"))
    w = Window.partitionBy(key).orderBy(
        F.length(F.col(col)).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH
# ---------------------------------------------------------------------------

def with_shingles(
    df: DataFrame, n: int = 3, col: str = "text", out: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles per document (token-level shingling —
    robust to whitespace noise, the standard choice for near-dup of prose).
    Documents shorter than ``n`` tokens contribute their whole token string
    as a single shingle so they can still match exactly."""
    toks = tokens_col(F.col(col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return df.withColumn(out, F.array_distinct(grams))


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    shingle_col: str = "shingles",
    id_col: str = "doc_id",
    out: str = "signature",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash signature: sig[i] = min over shingles of
    perm_i(base(shingle)).

    Computed as a pure per-row fold — ``aggregate`` over the shingle array
    with a k-wide accumulator — so signatures need NO shuffle at all (the
    earlier explode+groupBy formulation shuffled |docs|x|shingles| rows).
    Each shingle string is hashed once; the k permutations rehash that
    value, not the string — same independence, ~length(shingle)x less
    hashing work.

    ``hash_mode='xxhash64'`` (default): base = xxhash64(shingle), perm_i =
    xxhash64(base, seed=i). ``hash_mode='md5_60'``: both levels are the
    md5-derived 60-bit value (md5 hex is engine-universal, so an external
    SQL oracle recomputes identical signatures — slower, parity-purposed).

    Returns (``id_col``, the input's other columns, ``out``): only the
    shingle column is dropped, so a key such as ``copy_id`` rides along."""
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    if hash_mode == "xxhash64":
        base = F.transform(F.col(shingle_col), lambda s: F.xxhash64(s))

        def perm(h, s):
            return F.xxhash64(h, s)
    elif hash_mode == "md5_60":
        base = F.transform(F.col(shingle_col), md5_60)

        def perm(h, s):
            return md5_60(
                F.concat_ws(":", h.cast("string"), s.cast("string"))
            )
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    init = F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes)
    sig = F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc, seeds, lambda a, s: F.least(a, perm(h, s))
        ),
    )
    rest = [c for c in df.columns if c not in (id_col, shingle_col)]
    return df.select(id_col, *rest, sig.alias(out))


def _ordered_pairs(ids: Column) -> Column:
    """Every (id_a, id_b) pair with id_a < id_b of a sorted, distinct id
    array, as structs: element i pairs with each element after it — no
    self-join and no filter. The pair count is quadratic in the array
    size; the callers' bucket and doc-freq caps bound it."""
    n = F.size(ids)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, n - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    id_col: str = "doc_id",
    sig_col: str = "signature",
    max_bucket_size: int = 200,
) -> DataFrame:
    """Band the signature into ``bands`` chunks, hash each chunk to a bucket,
    and emit candidate pairs that share ≥1 (band, bucket). Collision
    probability for Jaccard s is 1-(1-s^r)^b with r = k/bands.

    The pair join happens within buckets via groupBy(bucket) + pairwise
    explode of the (sorted, deduped) bucket membership, so cost is bounded
    by Σ|bucket|² — with honest hashing, |bucket| is tiny unless documents
    really are similar.

    Scale control: buckets larger than ``max_bucket_size`` are DROPPED
    (mirroring ``max_doc_freq`` in the inverted-index path). A degenerate
    hot bucket — empty documents, boilerplate — would otherwise explode
    |bucket|² pairs inside a single task and OOM the executor; with the cap
    the per-bucket pair cost is bounded by ``max_bucket_size``². Members of
    an oversized bucket are near-identical to hundreds of other documents;
    exact/normalized dedup is the right tool for that mass, and any pair
    that is genuinely near-dup still has ``bands - 1`` other chances to
    collide in a non-degenerate bucket. Pass ``None`` to disable."""
    k = bands  # band count; rows per band derived from signature length
    banded = signatures.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col(sig_col),
                                b * (F.size(F.col(sig_col)) / k).cast("int") + 1,
                                (F.size(F.col(sig_col)) / k).cast("int"),
                            ),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band_id", "bucket"),
    )
    if max_bucket_size is not None:
        # Filter oversized buckets BEFORE collect_set: the size check must
        # not itself materialize the |bucket|-element array it is guarding
        # against. COUNT is map-side partial-aggregatable, so the pre-pass
        # shuffles only (band, bucket, partial_count) rows.
        # The (id, band, bucket) frame is checkpointed first — it is
        # narrow (``bands`` longs per document) and feeds BOTH the count
        # pre-pass and the join-back; without the checkpoint each fork
        # re-executes the full 64-permutation signature fold (r08).
        banded = banded.localCheckpoint(eager=True)
        keep = (
            banded.groupBy("band_id", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket_size))
            .select("band_id", "bucket")
        )
        banded = banded.join(keep, ["band_id", "bucket"])
    buckets = banded.groupBy("band_id", "bucket").agg(
        F.array_sort(F.collect_set(id_col)).alias("members")
    ).filter(F.size("members") > 1)
    return (
        buckets.select(F.explode(_ordered_pairs(F.col("members"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingled: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs: |A∩B| / |A∪B| via
    array_intersect/array_union on the (distinct) shingle arrays. Runs only
    on LSH candidates, so the quadratic step never touches the full corpus."""
    a = shingled.select(
        F.col(id_col).alias("id_a"), F.col(shingle_col).alias("__sha")
    )
    b = shingled.select(
        F.col(id_col).alias("id_b"), F.col(shingle_col).alias("__shb")
    )
    j = (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.try_divide(
                F.size(F.array_intersect("__sha", "__shb")).cast("double"),
                F.size(F.array_union("__sha", "__shb")),
            ),
        )
        .drop("__sha", "__shb")
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_near_dups(
    df: DataFrame,
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int = 200,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → candidate
    pairs → exact-Jaccard verify. Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    Defaults are 64 hashes × 16 bands (r=4): candidate probability
    1-(1-s⁴)^16 ≈ 0.98 at s=0.7 — ample recall at the 0.7 threshold while
    keeping the candidate set sparse. An r=2 curve (32×16) was tried and
    reverted: 1-(1-s²)^16 ≈ 0.48 already at s=0.2, so the exact-verify
    stage drowned in low-similarity candidates (~4× slower at sf0.1, and
    the candidate volume grows toward quadratic with corpus size — the
    verify stage, not the fold, is what must stay sparse at 100 TB)."""
    df = ensure_parallelism(df)
    shingled = with_shingles(df, n_shingle, col).select(id_col, "shingles")
    sigs = minhash_signatures(
        shingled, num_hashes, "shingles", id_col, hash_mode=hash_mode
    )
    # candidate pairs are tiny (LSH-sparse by design) — checkpoint them,
    # then re-shingle ONLY the candidate documents for the exact verify:
    # jaccard_verify reads its shingle table twice (a/b sides), and each
    # side previously re-derived the FULL corpus shingle arrays (r08:
    # the pipeline tokenized the corpus three times, now twice — once
    # for signatures, once semi-join-reduced to candidates).
    pairs = lsh_candidate_pairs(
        sigs, bands, id_col, max_bucket_size=max_bucket_size
    ).localCheckpoint(eager=True)
    needed = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_needed = shingled.join(needed, id_col, "left_semi").localCheckpoint(
        eager=True
    )
    return jaccard_verify(pairs, sh_needed, threshold, id_col).orderBy(
        "id_a", "id_b"
    )


def ngram_jaccard_near_dups(
    df: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard near-dups WITHOUT minhash approximation, via an
    inverted shingle index: candidates = pairs sharing ≥1 shingle, then
    exact Jaccard verify. Deterministic recall for every pair with any
    shared shingle (MinHash can miss; this cannot, down to its
    ``max_doc_freq`` cap).

    Scale control: shingles occurring in more than ``max_doc_freq``
    documents are dropped from the INDEX (boilerplate n-grams would
    otherwise create |hot|² candidate blowup). A pair sharing ONLY
    ultra-common shingles is below any useful similarity threshold anyway —
    the verify step still computes Jaccard on the full shingle sets."""
    df = ensure_parallelism(df)
    shingled = with_shingles(df, n_shingle, col).select(id_col, "shingles")
    posting = shingled.select(
        id_col, F.explode("shingles").alias("__sh")
    )
    # Candidate generation in ONE pass over the posting list (the
    # exact_substring_pairs r08 shape): the doc-freq cap bounds each
    # surviving shingle's id list, so ordered pairs come from an
    # in-group array explode instead of a posting self-join — which
    # would otherwise re-execute the scan+shingle subtree three times
    # (Spark shares no subplan across self-join sides without caching).
    grouped = (
        posting.groupBy("__sh")
        .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
        .filter(
            (F.size("__ids") >= 2) & (F.size("__ids") <= max_doc_freq)
        )
    )
    pairs = (
        grouped.select(F.explode(_ordered_pairs(F.col("__ids"))).alias("__p"))
        .select(
            F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b")
        )
        .distinct()
    )
    return jaccard_verify(pairs, shingled, threshold, id_col).orderBy(
        "id_a", "id_b"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components by
    iterative min-label propagation (each node repeatedly adopts the
    smallest label among itself and its neighbors). Returns
    (doc_id, component) where component = min doc_id in the cluster — the
    canonical survivor every transitive duplicate maps to.

    Spark-shaped iteration: each round is one join + one aggregate on the
    edge list; rounds = graph diameter (near-dup clusters are shallow —
    a handful of rounds). Each round's labels carry a ``changed`` flag
    (a neighbor's label was smaller), so convergence is a 1-row probe of
    the checkpointed labels themselves, with no join to the previous
    round; lineage is truncated via localCheckpoint each round so the
    plan doesn't grow with iterations (the standard iterative-algorithm
    discipline on Spark)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("changed"),
            )
            .localCheckpoint()
        )
        if labels.filter("changed").limit(1).count() == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), "component")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: signature widths per bit source. ``md5_60`` exists for oracle parity:
#: Spark's xxhash64 has no DuckDB twin, but md5 hex is identical in both
#: engines, so a 60-bit value parsed from the first 15 hex chars gives a
#: bit pattern any SQL engine can reproduce (60 not 64: it must stay
#: positive in a signed BIGINT on both sides).
SIMHASH_BITS = {"xxhash64": 64, "md5_60": 60}


def _token_bits(source: str):
    if source == "xxhash64":
        return F.xxhash64("__t")
    if source == "md5_60":
        return md5_60("__t")
    raise ValueError(f"unknown bit_source {source!r}")


def simhash_signatures(
    df: DataFrame, col: str = "text", id_col: str = "doc_id",
    out: str = "simhash", bit_source: str = "xxhash64",
) -> DataFrame:
    """SimHash: per token, ``bit_source`` supplies the bit pattern; each bit
    votes +1/-1; the signature's bit i is 1 iff the vote sum is positive.
    Expressed as one explode + n_bits conditional sums in a single groupBy —
    JVM-side, one shuffle."""
    n_bits = SIMHASH_BITS[bit_source]
    toks = df.select(id_col, F.explode(tokens_col(F.col(col))).alias("__t"))
    h = _token_bits(bit_source)
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{i}")
            for i in range(n_bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        sig = sig + F.when(
            F.col(f"__b{i}") > 0, F.lit(2 ** i if i < 63 else -(2 ** 63)).cast("long")
        ).otherwise(0)
    return votes.select(id_col, sig.alias(out))


def simhash_candidate_pairs(
    sigs: DataFrame,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    n_bits: int = 64,
) -> DataFrame:
    """Candidate pairs from 64-bit signatures with GUARANTEED recall at
    radius ``max_hamming``: the signature is banded into ``max_hamming + 1``
    chunks, so a pair within Hamming ≤ ``max_hamming`` cannot differ in all
    chunks (pigeonhole) and must collide on at least one (chunk_id, value)
    key. Chunk widths are ⌈64/n⌉/⌊64/n⌋ (e.g. radius 6 → 7 chunks of
    10/9 bits). Radius 0 degenerates to a single 64-bit chunk — exact
    signature equality.

    The earlier fixed 4×16-bit banding guaranteed recall only to radius 3;
    shipping it with radius 6 silently dropped pairs whose 4-6 differing
    bits spread across all four chunks."""
    n_chunks = max_hamming + 1
    if not 1 <= n_chunks <= n_bits:
        raise ValueError(
            f"max_hamming must be in [0, {n_bits - 1}], got {max_hamming}"
        )
    base, rem = divmod(n_bits, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunk_arr = F.array(
        *[
            F.shiftrightunsigned(sig_col, off).bitwiseAND(
                # all-ones long for the degenerate 1-chunk (radius 0) case:
                # (1 << 64) - 1 overflows a signed long literal
                F.lit((1 << w) - 1 if w < 64 else -1).cast("long")
            )
            for off, w in zip(offsets, widths)
        ]
    )
    chunks = sigs.select(
        id_col, sig_col,
        F.posexplode(chunk_arr).alias("chunk_id", "chunk_val"),
    )
    left = chunks.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"),
        "chunk_id", "chunk_val",
    )
    right = chunks.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"),
        "chunk_id", "chunk_val",
    )
    return (
        left.join(right, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    col: str = "text",
    id_col: str = "doc_id",
    bit_source: str = "xxhash64",
) -> DataFrame:
    """Near-dups by SimHash Hamming distance ≤ ``max_hamming``. Candidates
    via (max_hamming+1)-chunk banding — guaranteed recall at the requested
    radius (see ``simhash_candidate_pairs``); verification via
    bit_count(xor). ``bit_source='md5_60'`` swaps the per-token hash for a
    md5-derived 60-bit value any SQL engine reproduces byte-identically —
    banding+verify are unchanged, so an external oracle certifies the whole
    pipeline (banding is recall-lossless, so output == brute-force pairs)."""
    df = ensure_parallelism(df)
    sigs = simhash_signatures(df, col, id_col, bit_source=bit_source)
    cand = simhash_candidate_pairs(
        sigs, max_hamming, id_col, n_bits=SIMHASH_BITS[bit_source]
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


def cross_containment(
    train: DataFrame,
    eval_df: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval contamination detection: (eval_id, train_id, containment)
    for every eval document whose shingles are >= ``threshold`` covered by
    some train document. Containment |E ∩ T| / |E| is the decontamination
    metric — an eval document quoted verbatim inside a longer train
    document scores 1.0 where Jaccard would be diluted by the train
    document's extra content.

    Same inverted-index discipline as ``ngram_jaccard_near_dups``: the
    index is built on the TRAIN side only (the big corpus), shingles in
    more than ``max_doc_freq`` train documents are dropped from the index
    (boilerplate n-grams would create |eval| x |hot| candidate blowup),
    and the exact verify runs only on candidates. Containment is a
    small-int ratio in double — engine-exact, no rounding."""
    train_sh = with_shingles(ensure_parallelism(train), n_shingle, col).select(
        F.col(id_col).alias("train_id"), F.col("shingles").alias("train_sh")
    )
    eval_sh = with_shingles(ensure_parallelism(eval_df), n_shingle, col).select(
        F.col(id_col).alias("eval_id"), F.col("shingles").alias("eval_sh")
    )
    tpost = train_sh.select("train_id", F.explode("train_sh").alias("__sh"))
    # one grouped pass builds the doc-freq-capped index (id list bounded
    # at max_doc_freq) — the separate count+join form executed the train
    # scan+shingle subtree twice (r08, exact_substring_pairs precedent)
    tindex = (
        tpost.groupBy("__sh")
        .agg(F.collect_list("train_id").alias("__tids"))
        .filter(F.size("__tids") <= max_doc_freq)
    )
    epost = eval_sh.select("eval_id", F.explode("eval_sh").alias("__sh"))
    cand = (
        epost.join(tindex, "__sh")
        .select("eval_id", F.explode("__tids").alias("train_id"))
        .distinct()
    )
    return (
        cand.join(eval_sh, "eval_id")
        .join(train_sh, "train_id")
        .withColumn(
            "containment",
            F.size(F.array_intersect("eval_sh", "train_sh")).cast("double")
            / F.size("eval_sh"),
        )
        .filter(F.col("containment") >= threshold)
        .select("eval_id", "train_id", "containment")
        .orderBy("eval_id", "train_id")
    )


def dedup_within_window(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    window: str = "1 hour",
    order: Sequence[str] | None = None,
) -> DataFrame:
    """Time-windowed deduplication — the BATCH twin of streaming
    ``dropDuplicatesWithinWatermark``: within each tumbling ``window`` a
    key survives once (its earliest row by ``order``, default (ts, keys)),
    and may legitimately reappear in a later window. The retention-bounded
    dedup contract a log-ingest pipeline actually wants: exact global
    dedup needs unbounded state; windowed dedup needs one window of state.

    One key+window-partitioned row_number — shuffle on (keys, bucket),
    deterministic survivor. Schema-preserving: both helper columns are
    dropped, and a pre-existing ``__wstart``/``__rn`` input column is
    rejected rather than silently clobbered."""
    for helper in ("__wstart", "__rn"):
        if helper in df.columns:
            raise ValueError(
                f"dedup_within_window reserves column name {helper!r}; "
                "rename the input column"
            )
    bucket = F.window(F.col(ts_col), window)["start"].alias("__wstart")
    ob = [F.col(c) for c in (order or (ts_col, *keys))]
    w = Window.partitionBy(*keys, "__wstart").orderBy(*ob)
    return (
        df.withColumn("__wstart", bucket)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__wstart")
    )


def exact_substring_pairs(
    df: DataFrame,
    window: int = 40,
    max_doc_freq: int = 64,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate detection: (id_a, id_b, n_shared) for
    every document pair sharing at least one exact ``window``-character
    substring, with n_shared = how many distinct such windows they share.
    The character-level exact-match dedup of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"), whose
    suffix-array formulation is replaced by the shape that distributes:
    slide a ``window``-char window over each normalized document, emit the
    DISTINCT windows as an inverted index, and join documents through
    shared windows. A window seen in more than ``max_doc_freq`` documents
    is boilerplate (licence headers, navigation chrome) and is dropped
    from the index — the same hot-posting cap as the shingle pipelines,
    which is what keeps the candidate count linear instead of quadratic
    at corpus scale.

    Text is trim+lowercase-normalized (whitespace kept: runs of spaces
    are real duplication signal at the character level). Documents
    shorter than ``window`` chars emit no windows and join nothing.

    Plan: one explode → distinct (map-side combine on (window, id)) →
    ONE shuffle grouping postings by window → in-group pair generation
    from the collected id array → pair count. The doc-freq cap is what
    makes the grouped form safe: a surviving window holds at most
    ``max_doc_freq`` ids, so the collected array is bounded (≤ 64 by
    default — boilerplate windows above the cap are dropped before any
    pair is formed) and the pair fan-out per window is ≤ cap²/2,
    exactly what the equivalent self-join would emit. Compared to the
    textbook inverted-index self-join this executes the expensive
    scan+explode subtree ONCE instead of four times (Spark shares no
    subplan across a self-join's sides without caching — measured 8
    scans / 0 reused exchanges in the join form) and shuffles the
    posting list once instead of three times. All shuffles are keyed
    by the window value; no global sort, no driver-side state."""
    if window < 2:
        raise ValueError(f"window must be >= 2 chars, got {window}")
    norm = F.trim(F.lower(F.col(col)))
    wins = F.when(
        F.length(norm) >= window,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - window + 1),
            lambda i: F.substring(norm, i, window),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posting = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.explode(F.array_distinct(wins)).alias("__w"))
    )
    # sort ids in-group so positional slicing yields id_a < id_b without
    # a filter; collect_list order is otherwise nondeterministic
    grouped = (
        posting.groupBy("__w")
        .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
        .filter(
            (F.size("__ids") >= 2) & (F.size("__ids") <= max_doc_freq)
        )
    )
    return (
        grouped.select(F.explode(_ordered_pairs(F.col("__ids"))).alias("__p"))
        .groupBy(
            F.col("__p.id_a").alias("id_a"),
            F.col("__p.id_b").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("id_a", "id_b")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_to: int = 6,
    max_cell_size: int | None = 2000,
) -> DataFrame:
    """Embedding-space semantic deduplication (the SemDeDup shape,
    Abbas et al. 2023): cluster the corpus with a k-means coarse
    quantizer, compare pairs ONLY within a cluster, and prune every
    vector that has a lower-id in-cluster neighbor with cosine ≥
    ``threshold``. Complements ``simsearch.cosine_near_dup_pairs`` (LSH
    buckets, recall bounded by the band curve): k-means cells give the
    paper's semantic partitioning, and the within-cell comparison is
    exhaustive, so recall inside a cell is exact.

    The survivor rule is ORDER-FREE by construction — "pruned iff some
    lower-id near neighbor exists" needs no sequential greedy scan, so
    any partitioning/engine replays it identically. (The greedy
    keep-against-survivors variant is inherently sequential and is the
    documented non-goal.)

    Scale: the quantizer is ``simsearch.deterministic_kmeans``, the same
    one IVF uses, and every assignment is the narrow nearest-centroid
    kernel (``simsearch._nearest_cells``: one broadcast centroid array,
    one corpus pass, no shuffle); pair cost is
    Σ|cell|² — n_clusters must grow ∝ corpus/target_cell_size, exactly
    the IVF sizing rule. Cosine is rounded to ``round_to`` before the
    threshold test so the accept set is identical on every engine.

    Degenerate-cell guard: a cell larger than ``max_cell_size`` (a mass
    of boilerplate / zero vectors collapsing into one centroid) would
    re-quadratize the within-cell comparison no matter how n_clusters was
    sized. Such cells are deterministically sub-split by id hash into
    chunks of ≤ ``max_cell_size`` and pairs are compared within a chunk
    only, bounding per-cell pair cost at |cell|·max_cell_size (linear in
    the cell). Recall trade (same as the LSH ``max_bucket_size`` cap):
    cross-chunk pairs inside a degenerate cell are not compared — members
    of such a cell are near-identical to thousands of others, and
    exact/normalized dedup is the right tool for that mass. Healthy cells
    (the sizing rule's target) are unaffected. ``None`` disables.

    Returns (id, cluster, dup_of, cos_to_dup, is_kept): ``dup_of`` is the
    LOWEST-id near neighbor for pruned rows (null for kept).
    """
    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        _nearest_cells,
        cosine,
        deterministic_kmeans,
    )

    cents = deterministic_kmeans(
        df, n_clusters, n_iters, id_col, vec_col, seed
    )
    assigned = _nearest_cells(df.select(id_col, vec_col), cents, vec_col, 1)
    # assigned feeds several consumers (cell sizes, both pair sides, the
    # final spine join); without the checkpoint the kmeans + assignment
    # lineage re-executes once per consumer (r06 plan audit: 111
    # exchanges). The frame is corpus-sized but narrow (id, vec, cluster).
    assigned = assigned.localCheckpoint(eager=True)
    if max_cell_size is not None:
        # Sub-split oversized cells: chunk id = hash(id) mod
        # ceil(|cell|/cap). Healthy cells get n_chunks=1 (chunk 0 for
        # every member — the pair join key degenerates to the cluster,
        # zero behavior change); only degenerate cells fan out. One
        # count aggregate per cell, broadcast back onto members.
        sizes = assigned.groupBy("cluster").agg(
            F.ceil(F.count(F.lit(1)) / max_cell_size).alias("__n_chunks")
        )
        assigned = assigned.join(F.broadcast(sizes), "cluster").withColumn(
            "__chunk",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__n_chunks")),
        )
    else:
        assigned = assigned.withColumn("__chunk", F.lit(0))
    a = assigned.select(
        F.col("cluster"), F.col("__chunk"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col("cluster"), F.col("__chunk"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
    )
    pairs = (
        a.join(b, ["cluster", "__chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim", F.round(cosine(F.col("__va"), F.col("__vb")), round_to)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_b", "id_a", "cos_sim")
    )
    dup_of = pairs.groupBy("id_b").agg(
        F.min("id_a").alias("dup_of"),
        F.min_by("cos_sim", "id_a").alias("cos_to_dup"),
    )
    return (
        assigned.join(
            dup_of, assigned[id_col] == dup_of["id_b"], "left"
        )
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.col("dup_of"),
            F.col("cos_to_dup"),
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    para_words: int = 10,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide PARAGRAPH-level deduplication with document
    reassembly — the sub-document dedup step of the MassiveText / CCNet
    pipelines: repeated boilerplate paragraphs are removed everywhere but
    their first occurrence while the surrounding unique prose survives
    (document-level dedup would keep or kill whole docs only).

    Paragraph = each consecutive run of ``para_words`` whitespace tokens
    (the fixtures carry no newline structure; a real corpus would split
    on blank lines — same plan, different splitter). First occurrence =
    the corpus-minimum (doc_id, para_idx) per distinct paragraph text,
    an order-free survivor rule.

    Plan: one explode to (doc, idx, para), one keep-first window keyed by
    the paragraph value (the dedup shuffle — keyed by content, exactly
    like exact_dedup), one groupBy(doc) to reassemble. Docs losing every
    paragraph keep a spine row with an empty rebuilt text.

    Returns (id, n_paras, n_kept, dedup_text).
    """
    toks = F.filter(
        F.split(F.trim(F.col(col)), r"\s+"), lambda t: t != ""
    )
    n_paras = F.ceil(F.size(toks) / F.lit(para_words)).cast("int")
    # guard: sequence(0, -1) would DESCEND, so empty docs get an empty
    # paragraph array instead
    para_arr = F.when(
        F.col("__np") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("__np") - 1),
            lambda i: F.array_join(
                F.slice(F.col("__t"), i * para_words + 1, para_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    paras = (
        ensure_parallelism(df)
        .select(F.col(id_col), toks.alias("__t"), n_paras.alias("__np"))
        .select(
            id_col, "__np",
            F.posexplode(para_arr).alias("para_idx", "ptext"),
        )
    )
    w = Window.partitionBy("ptext").orderBy(
        F.col(id_col).asc(), F.col("para_idx").asc()
    )
    kept = (
        paras.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("para_idx", "ptext"))),
                lambda s: s.getField("ptext"),
            ),
            " ",
        ).alias("dedup_text"),
    )
    spine = df.select(F.col(id_col), n_paras.alias("n_paras"))
    return (
        spine.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )
