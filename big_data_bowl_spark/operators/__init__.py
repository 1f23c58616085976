from .asof import asof_join
from .components import connected_components, release_local_checkpoint
from .kmeans import assign_cells, kmeans_fit, nearest_centroid
from .mode import grouped_mode
from .pivot import pivot_wide_multi
from .sample import deterministic_sample, deterministic_split

__all__ = [
    "asof_join",
    "connected_components",
    "release_local_checkpoint",
    "assign_cells",
    "nearest_centroid",
    "kmeans_fit",
    "grouped_mode",
    "pivot_wide_multi",
    "deterministic_sample",
    "deterministic_split",
]
