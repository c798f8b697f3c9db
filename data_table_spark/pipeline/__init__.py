"""LLM-training-data pipeline operators (extension beyond the reference).

The reference (`/root/reference`, data.table) has no dedup/similarity/text
surface beyond `duplicated`/`unique` (R/duplicated.R); these operators are
the 100 TB-scale extension mandated by BASELINE.json's north star:
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + LSH-bucketed ANN), text analysis
(lang-id, quality, token counts, fingerprints), and multimodal binary
columns.

Design rules (scale-first):
- Pair generation NEVER goes through a cross join on the big side: exact
  set-similarity joins block on shared shingles (explode + equi-join on
  the shingle — the shuffle key is the shingle, PPJoin-style), LSH blocks
  on (band, band-hash), SimHash blocks on band equality (pigeonhole
  guarantee for hamming <= k with k+1 bands).
- Everything stays in built-in Spark functions (whole-stage codegen),
  SimHash included. Python runs only where Arrow-batched numpy beats an
  interpreted array fold or the data is binary: the streaming near-dup
  screen's MinHash `pandas_udf`, the embedding operators' norm,
  hyperplane-projection, pair-cosine and centroid-assignment
  `pandas_udf`s, and the multimodal `mapInPandas` stages.
- Every operator that feeds the correctness gate computes a formula that
  is engine-portable (md5, integer arithmetic, single final division) so
  the DuckDB oracle reproduces it bit-for-bit.
"""

from .text import (
    tokens_col,
    word_shingles,
    char_shingles,
    lang_id,
    text_quality,
    token_counts,
    doc_fingerprint,
    heavy_hitters_cm,
)
from .dedup import (
    dedup_exact,
    dedup_exact_ids,
    dup_span_profile,
    dedup_spans_remove,
    ngram_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
    jaccard_prefix_pairs,
    dedup_clusters,
    cc_star_labels,
    line_dedup,
    lineify,
)
from .similarity import (
    cosine_topk,
    pq_ann_topk,
    pq_encode,
    cosine_pairs,
    lsh_ann_topk,
    ivf_ann_topk,
    ivfpq_ann_topk,
    kmeans_assign,
    kmeans_clusters,
    semdedup_prune,
)
from .curation import (
    decontaminate,
    keep_best,
    chunk_documents,
    repetition_metrics,
    dsir_select,
    decontaminate_bloom,
    gopher_quality_filter,
)

__all__ = [
    "tokens_col", "word_shingles", "char_shingles",
    "lang_id", "text_quality", "token_counts", "doc_fingerprint",
    "dedup_exact", "dedup_exact_ids", "dup_span_profile", "dedup_spans_remove", "ngram_jaccard_pairs", "minhash_lsh_pairs",
    "simhash_pairs", "jaccard_prefix_pairs", "dedup_clusters",
    "cc_star_labels",
    "cosine_topk", "cosine_pairs", "lsh_ann_topk", "ivf_ann_topk",
    "pq_ann_topk", "pq_encode", "ivfpq_ann_topk",
    "kmeans_assign", "kmeans_clusters", "semdedup_prune",
    "decontaminate", "keep_best", "chunk_documents", "repetition_metrics",
    "gopher_quality_filter", "line_dedup", "lineify",
    "dsir_select", "decontaminate_bloom", "heavy_hitters_cm",
]
