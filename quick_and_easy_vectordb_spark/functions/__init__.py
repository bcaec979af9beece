"""Scalar / array function library — all JVM-side expressions.

Nothing in this package crosses the Python-worker boundary: every
function returns a ``Column`` built from ``pyspark.sql.functions`` or
from the compiled vector kernels (VectorKernels.java, registered by
kernels.py at session start).
"""

from quick_and_easy_vectordb_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    parse_vector,
    squared_l2_distance,
    vector_literal,
    vector_to_csv,
)
from quick_and_easy_vectordb_spark.functions.text import (  # noqa: F401
    char_shingles,
    normalized_text,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from quick_and_easy_vectordb_spark.functions.numeric import (  # noqa: F401
    davg,
    dsum,
)
