"""Column-expression function library (all JVM-side built-ins — no Python
UDFs): vector math over array columns, text analytics primitives."""

from .text import (  # noqa: F401
    fingerprint_md5,
    language_scores,
    ngrams,
    normalize_text,
    quality_score,
    tokenize,
)
from .vectors import (  # noqa: F401
    cosine_similarity,
    cosine_to_const,
    l2_norm,
    to_double_array,
)
