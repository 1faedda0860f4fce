"""Distributed spatial operators (SURVEY.md §2.4–§2.6, §2.12–§2.14).

Convenience re-exports of the stable operator surface:
"""

from .sjoin import pip_join, sjoin  # noqa: F401
from .knn import nearest_feature  # noqa: F401
from .overlay import (  # noqa: F401
    difference_join,
    dissolve,
    intersection_join,
    overlay,
    shared_area,
)
from .split import (  # noqa: F401
    fishnet,
    image_tile_assignment,
    katana_split,
    split_polygons,
)
from .proximity import (  # noqa: F401
    dwithin_join,
)
from .topography import get_horizon  # noqa: F401
from .dedup import (  # noqa: F401
    hamming_dedup_clusters,
)
from .pyramid import tile_pyramid  # noqa: F401
from . import network  # noqa: F401
