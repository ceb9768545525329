"""Large-scale training-data pipeline operators (beyond the reference).

Designed shuffle-conscious for 100 TB: no driver-side collects, candidate
generation via LSH banding (bounded fan-out) instead of all-pairs,
map-side-combinable aggregations, broadcast for small query sets.
"""

from .dedup import (
    connected_components,
    dedup_keep_canonical,
    exact_dedup,
    minhash_signatures,
    minhash_lsh_candidates,
    ngram_jaccard_exact_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
    simhash_near_dups,
    simhash_hamming_pairs,
    simhash_near_dups_hamming,
)
from .similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
    lsh_bucketed_topk,
    lsh_near_dup_pairs,
    train_centroids,
)
from .dedup import passage_dedup, unit_dedup
from .recipe import prepare_training_data
from .split import split_column, stratified_split, take_split
from .decontaminate import contamination, decontaminate
from .dsir import dsir_score, dsir_select
from .mix import domain_mix, keep_column
from .pack import pack_sequences, pack_stats
from .text import (
    doc_fingerprint,
    dup_unit_char_fraction,
    dup_unit_fraction,
    language_id,
    pii_count,
    pii_scrub,
    quality_score,
    token_count,
    top_ngram_char_fraction,
)

__all__ = [
    "exact_dedup", "minhash_signatures", "minhash_lsh_candidates",
    "ngram_jaccard_exact_pairs", "ngram_jaccard_pairs", "simhash_signatures", "simhash_near_dups",
    "simhash_hamming_pairs", "simhash_near_dups_hamming",
    "connected_components", "dedup_keep_canonical",
    "passage_dedup", "unit_dedup", "prepare_training_data",
    "brute_force_topk", "lsh_bucketed_topk", "ivf_topk", "train_centroids",
    "cosine_near_dup_pairs", "lsh_near_dup_pairs",
    "doc_fingerprint", "language_id", "quality_score", "token_count",
    "pii_scrub", "pii_count", "dup_unit_fraction",
    "dup_unit_char_fraction", "top_ngram_char_fraction",
    "dsir_score", "dsir_select", "domain_mix", "keep_column",
    "pack_sequences", "pack_stats",
]
