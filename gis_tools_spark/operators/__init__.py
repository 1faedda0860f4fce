"""Distributed spatial operators (SURVEY.md §2.4–§2.6, §2.12–§2.14).

Convenience re-exports of the stable operator surface:
"""

from .sjoin import pip_join, sjoin  # noqa: F401
from .knn import nearest_feature  # noqa: F401
from .overlay import (  # noqa: F401
    attr_area,
    difference_join,
    dissolve,
    drop_duplicate_geometries,
    intersection_join,
    overlay,
    shared_area,
    union_join,
)
from .split import (  # noqa: F401
    cut_lines_fixed_length,
    cut_lines_recursive_midpoint,
    explode_multiparts,
    fishnet,
    image_tile_assignment,
    katana_split,
    linemerge,
    split_lines_at_points,
    split_lines_at_underlying_points,
    split_polygons,
)
from .proximity import (  # noqa: F401
    dwithin_join,
    hausdorff_pairs,
    pairwise_distance,
    snap_to_lines,
)
from .topo import dissolve_touching, has_overlap, overlapping_pairs  # noqa: F401
from .partition import partition_polygons  # noqa: F401
from .sampling import add_z_from_raster, sample_points_in_polygons  # noqa: F401
from .geocoding import all_addresses  # noqa: F401
from .topography import get_horizon  # noqa: F401
from .dedup import (  # noqa: F401
    hamming_dedup_clusters,
)
from .pyramid import tile_pyramid  # noqa: F401
from . import network  # noqa: F401
