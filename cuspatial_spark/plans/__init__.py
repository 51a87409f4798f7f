from .tile_join import (  # noqa: F401
    assign_tiles,
    point_in_polygon_join,
    point_to_nearest_linestring_join,
    tiles_covering_bboxes,
)
from .knn_join import knn_join  # noqa: F401
from .shuffle_join import point_in_polygon_join_shuffle  # noqa: F401
from .spherical_join import geodesic_knn_join, haversine_radius_join  # noqa: F401
