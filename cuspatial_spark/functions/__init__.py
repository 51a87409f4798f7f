"""Pure Catalyst column expressions (see ``expressions``).

``morton_key_expr`` and ``inside_aoi`` take the x and y column NAMES,
not Columns: each is built as one SQL text over them.  The other
expressions take Columns."""

from .expressions import (  # noqa: F401
    haversine_expr,
    inside_aoi,
    morton_key_expr,
    sinusoidal_x_expr,
    sinusoidal_y_expr,
    spatial_window_predicate,
    tile_expr,
    with_hilbert_key,
    with_s2_cell,
)
