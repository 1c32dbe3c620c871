from archive_to_parquet_spark.operators.candidates import cap_hot_buckets
from archive_to_parquet_spark.operators.dedup import (
    bloom_filter_bits,
    bloom_probe,
    connected_components,
    dedup_against_index,
    dedup_exact,
    dedup_exact_deterministic,
    embedding_near_duplicates,
    hamming_near_duplicates,
    minhash_band_index,
    minhash_candidate_pairs,
    minhash_near_duplicates_confirmed,
    ngram_jaccard_pairs,
    remove_boilerplate_lines,
    simhash_near_duplicates,
    simhash_signature,
)
from archive_to_parquet_spark.operators.filters import (
    apply_include_filter,
    apply_size_filter,
)
from archive_to_parquet_spark.operators.graph import out_degrees, pagerank
from archive_to_parquet_spark.operators.similarity import (
    brute_force_top_k,
    fixed_hyperplanes,
    hard_negatives,
    hyperplane_bucket_literal,
    ivf_top_k_fixed_centroids,
    lsh_top_k,
)
from archive_to_parquet_spark.operators.profiling import (
    benford_first_digit,
    flesch_readability,
)
from archive_to_parquet_spark.operators.sketches import (
    frequent_item_candidates,
    heavy_hitters,
    misra_gries_partials,
)
from archive_to_parquet_spark.operators.tokenize import (
    bpe_merge_rounds,
    bpe_pair_counts,
    word_frequencies,
)

__all__ = [
    "apply_include_filter",
    "apply_size_filter",
    "bpe_merge_rounds",
    "bpe_pair_counts",
    "benford_first_digit",
    "bloom_filter_bits",
    "bloom_probe",
    "brute_force_top_k",
    "cap_hot_buckets",
    "connected_components",
    "dedup_against_index",
    "dedup_exact",
    "dedup_exact_deterministic",
    "embedding_near_duplicates",
    "fixed_hyperplanes",
    "flesch_readability",
    "frequent_item_candidates",
    "hamming_near_duplicates",
    "heavy_hitters",
    "misra_gries_partials",
    "hard_negatives",
    "hyperplane_bucket_literal",
    "ivf_top_k_fixed_centroids",
    "lsh_top_k",
    "minhash_band_index",
    "minhash_candidate_pairs",
    "minhash_near_duplicates_confirmed",
    "ngram_jaccard_pairs",
    "out_degrees",
    "pagerank",
    "remove_boilerplate_lines",
    "simhash_near_duplicates",
    "simhash_signature",
    "word_frequencies",
]
