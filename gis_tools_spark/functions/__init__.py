"""Column-level geometry/geodesy functions."""

from .geom_funcs import (  # noqa: F401
    buffer_geom,
    geom_area,
    geom_bounds_struct,
    geom_buffer,
    geom_is_valid,
    geom_make_valid,
    geom_centroid_xy,
    geom_convex_hull,
    geom_envelope,
    geom_force_2d,
    geom_length,
    geom_shape_factor,
    geom_type_of,
)
from .geodesy import (  # noqa: F401
    great_circle_meters,
)
