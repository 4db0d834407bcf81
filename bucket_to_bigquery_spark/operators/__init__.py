"""Custom operators the reference surface / north star needs but Spark lacks
as single built-ins. All are compositions of DataFrame ops (shuffle-aware,
codegen-friendly); Python appears only as Arrow-vectorized batch UDFs
(multimodal byte features) — never row-at-a-time.
"""

from .asof_join import asof_join
from .dedup import (
    exact_dedup_groups,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    rolling_fingerprint,
    shingles,
    simhash_col,
    tokens,
)
from .multimodal import attach_payload, extract_byte_features
from .range_join import range_join_bucketed
from .similarity import ann_topk_lsh, cosine_topk_exact, dot_e12, norm_e12

__all__ = [
    "asof_join",
    "range_join_bucketed",
    "exact_dedup_groups",
    "ngram_jaccard_pairs",
    "minhash_candidate_pairs",
    "normalize_text",
    "tokens",
    "shingles",
    "simhash_col",
    "rolling_fingerprint",
    "cosine_topk_exact",
    "ann_topk_lsh",
    "dot_e12",
    "norm_e12",
    "attach_payload",
    "extract_byte_features",
]
