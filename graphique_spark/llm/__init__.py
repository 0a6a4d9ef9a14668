"""Large-scale training-data pipeline operators.

Beyond the reference's surface (it has none of these): deduplication
(exact, MinHash-LSH, SimHash, n-gram Jaccard), embedding similarity search,
text analysis (language ID, quality, tokens, fingerprints), and multimodal
binary-column plumbing. Designed for 100 TB: every stage is a DataFrame
composition — signatures are computed map-side with higher-order functions
(no explode before the band join), candidate generation shuffles only
(band_key) pairs, and verification joins are semi-join-pruned.
"""

from graphique_spark.llm.dedup import (
    exact_duplicates,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprint,
)
from graphique_spark.llm.similarity import brute_force_topk, cosine_similarity, lsh_ann_topk
from graphique_spark.llm.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)

__all__ = [
    "brute_force_topk",
    "cosine_similarity",
    "doc_fingerprint",
    "exact_duplicates",
    "language_id",
    "lsh_ann_topk",
    "minhash_candidates",
    "ngram_jaccard_pairs",
    "quality_score",
    "simhash_fingerprint",
    "token_count",
]
