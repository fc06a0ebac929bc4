"""Native Catalyst distance expressions over array columns (``distances``)."""

from .distances import (
    cosine_distance,
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l2_norm,
    manhattan_distance,
    nearest_exemplar_index,
)

__all__ = [
    "cosine_distance",
    "cosine_similarity",
    "dot_product",
    "euclidean_distance",
    "l2_norm",
    "manhattan_distance",
    "nearest_exemplar_index",
]
