"""LLM-training-data pipeline operators (SURVEY.md §2.8, [beyond-ref]).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH-bucketed ANN), text
analysis (token counts, quality features, language-ID heuristic,
fingerprinting) and multimodal binary-column plumbing — every operator
a shuffle-bounded DataFrame composition designed for 100 TB:
no driver collects, no unblocked N² pairs, JVM-side hashing instead of
Python UDFs wherever possible. Hashes are md5, recomputable in any SQL
engine, except MinHash, whose ``hash_fn`` also offers xxhash64.
"""

from pyspark_pipeline_framework_spark.llm.text import (
    language_id,
    md5_fingerprint,
    normalize_text,
    quality_features,
    quality_filter,
    token_count_regex,
    token_count_ws,
)
from pyspark_pipeline_framework_spark.llm.dedup import (
    bloom_decontaminate,
    exact_text_dedup,
    incremental_candidate_pairs,
    minhash_bands,
    minhash_candidate_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from pyspark_pipeline_framework_spark.llm.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_dedup_pairs,
    semantic_dedup_pairs,
    ivf_add,
    ivf_index,
    ivf_search,
)
from pyspark_pipeline_framework_spark.llm.packing import (
    global_shuffle,
    pack_sequences,
    sample_to_token_budget,
    split_by_hash,
)
from pyspark_pipeline_framework_spark.llm.retrieval import (
    bm25_topk,
    doc_postings,
    tfidf_topk_terms,
)

__all__ = [
    "bm25_topk",
    "doc_postings",
    "tfidf_topk_terms",
    "semantic_dedup_pairs",
    "language_id",
    "md5_fingerprint",
    "normalize_text",
    "quality_features",
    "quality_filter",
    "token_count_regex",
    "token_count_ws",
    "exact_text_dedup",
    "bloom_decontaminate",
    "global_shuffle",
    "sample_to_token_budget",
    "incremental_candidate_pairs",
    "minhash_bands",
    "minhash_candidate_pairs",
    "minhash_signature",
    "ngram_jaccard_pairs",
    "simhash",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "embedding_dedup_pairs",
    "ivf_add",
    "ivf_index",
    "ivf_search",
    "pack_sequences",
    "split_by_hash",
]
