from .preprocess import balanced_stratified_repartition, drop_all_null_rows, min_max_normalize, min_max_stats
from .sampling import (
    bernoulli_sample,
    group_topk_random_sample,
    random_split,
    stratified_sample,
    stratified_split,
)

__all__ = [
    "balanced_stratified_repartition",
    "drop_all_null_rows",
    "min_max_normalize",
    "min_max_stats",
    "bernoulli_sample",
    "group_topk_random_sample",
    "random_split",
    "stratified_sample",
    "stratified_split",
]
