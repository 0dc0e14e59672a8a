from .dedup import (
    dedup_exact,
    dedup_keep_first,
    embedding_cosine_neardup,
    minhash_lsh_neardup,
    ngram_jaccard_pairs,
    shingle,
    simhash,
    simhash_neardup,
)
from .clustering import (
    centroids_df,
    kmeans_assign,
    kmeans_fit,
    kmeans_inertia,
)
from .knn import knn_join
from .packing import global_cumsum, pack_sequences
from .sampling import quota_sample
from .text_analysis import (
    fingerprint,
    lang_id,
    ngram_contamination,
    quality_score,
    repetition_stats,
    token_count,
)

__all__ = [
    "dedup_exact", "dedup_keep_first", "embedding_cosine_neardup",
    "minhash_lsh_neardup", "ngram_jaccard_pairs", "shingle",
    "simhash", "simhash_neardup",
    "centroids_df", "kmeans_assign", "kmeans_fit", "kmeans_inertia",
    "knn_join",
    "global_cumsum", "pack_sequences", "quota_sample",
    "fingerprint", "lang_id", "ngram_contamination",
    "quality_score", "repetition_stats", "token_count",
]
