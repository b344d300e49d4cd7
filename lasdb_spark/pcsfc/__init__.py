"""Space-filling-curve core: Morton math, Column builders, SQL builders,
and the driver-side range decomposition planner."""

from .morton import (
    compact2d,
    compute_split_length,
    decode_morton_2d,
    encode_morton_2d,
    expand2d,
    merge_key,
    quantize,
    split_key,
)
from .range_search import (
    apply_key_ranges,
    decompose_bbox,
    key_ranges_to_head_ranges,
    planning_grid_bounds,
)

__all__ = [
    "apply_key_ranges",
    "compact2d",
    "compute_split_length",
    "decode_morton_2d",
    "decompose_bbox",
    "encode_morton_2d",
    "expand2d",
    "key_ranges_to_head_ranges",
    "merge_key",
    "planning_grid_bounds",
    "quantize",
    "split_key",
]
