from .vector import cosine_similarity, dot_product, l2_distance
from .where_dsl import (
    compile_where,
    compile_where_document,
    where_document_to_sql,
    where_to_sql,
)
from .text import stopword_ratio, whitespace_tokens

__all__ = [
    "cosine_similarity",
    "dot_product",
    "l2_distance",
    "whitespace_tokens",
    "stopword_ratio",
    "compile_where",
    "compile_where_document",
    "where_to_sql",
    "where_document_to_sql",
]
