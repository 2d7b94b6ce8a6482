from .vectors import cosine_sql, dot_product, l2_norm
from .text import tokenize, token_count_regex, stopword_ratio, fingerprint_prefix

__all__ = [
    "cosine_sql",
    "dot_product",
    "l2_norm",
    "tokenize",
    "token_count_regex",
    "stopword_ratio",
    "fingerprint_prefix",
]
