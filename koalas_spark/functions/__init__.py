from koalas_spark.functions.textfn import (
    tokens,
    normalize_text,
    fingerprint_md5,
    token_count,
    stopword_count,
    punct_count,
    word_shingles,
)
from koalas_spark.functions.vectorfn import dot, norm_sq

__all__ = [
    "tokens",
    "normalize_text",
    "fingerprint_md5",
    "token_count",
    "stopword_count",
    "punct_count",
    "word_shingles",
    "dot",
    "norm_sq",
]
