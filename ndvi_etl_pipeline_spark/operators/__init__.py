from .bands import pair_bands, validate_grids
from .curation import expect
from .focal import focal_map_tiled, focal_mean_3x3, sobel_magnitude
from .graph import bfs_distances, pagerank, triangle_counts
from .linear import logreg_gd_trajectory
from .recsys import basket_pairs, item_similarity, rank1_als, user_item_scores
from .stats import masked_mean, pareto_skyline_2d
from .timeseries import first_crossing, temporal_composite
from .trees import boosted_stumps, gini_splits, variance_splits

__all__ = [
    "pair_bands",
    "validate_grids",
    "expect",
    "focal_map_tiled",
    "focal_mean_3x3",
    "sobel_magnitude",
    "bfs_distances",
    "pagerank",
    "triangle_counts",
    "logreg_gd_trajectory",
    "basket_pairs",
    "item_similarity",
    "rank1_als",
    "user_item_scores",
    "masked_mean",
    "pareto_skyline_2d",
    "first_crossing",
    "temporal_composite",
    "boosted_stumps",
    "gini_splits",
    "variance_splits",
]
