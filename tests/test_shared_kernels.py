"""Every registry entry that runs one of the engine's shared kernels (the
co-purchase edge build, the ordered-triangle join, the BPE merge rounds,
the MinHash signature fold, the md5-60 value, the in-group pair
generator and the exact stump split search) hash-matches its DuckDB
oracle at sf0.01, so a fault in a shared kernel shows in each entry that
certifies it."""

import pytest

from oracle_compare import assert_matches_oracle
from test_io_footer_schema import needs_sf


@needs_sf
@pytest.mark.parametrize("name", [
    "g1_triangle_count",
    "g2_pagerank",
    "g3_bfs_hops",
    "g4_connected_components",
    "g5_degree_assortativity",
    "g6_common_neighbors",
    "g7_clustering_coeff_stats",
    "scale10_triangles",
    "scale10_components",
    "scale10_bpe_merge",
    "scale10_minhash_band",
    "text_bpe_merges",
    "text_bpe_tokenize",
    "dedup_minhash_md5",
    "dedup_ngram_jaccard",
    "dedup_exact_substring",
    "ml_gbt_exact_stumps",
    "ml_rf_exact_stumps",
    "simsearch_pq_topk",
])
def test_shared_kernel_entries_match_oracle(spark, name):
    assert_matches_oracle(spark, name)
