"""Large-scale training-data operations (SURVEY.md §2.13 north star).

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
similarity search (brute-force + LSH-bucketed ANN), text analysis
(tokenization, quality, language-ID, fingerprinting) and multimodal column
plumbing — all as lazy DataFrame programs designed for the 100 TB case:
candidate generation via bucketing (never all-pairs), JVM-side higher-order
functions in the hot path, pandas UDFs only at the sanctioned multimodal
decode boundary and in the two Arrow vector kernels (nearest-centroid
assignment, PQ encode).
"""

from ecommerce_etl_pipeline_spark.llmops import (  # noqa: F401
    clustering,
    dedup,
    multimodal,
    similarity,
    text,
)
