"""Geometry layer model.

Mirrors the reference's GeoArrow-flat buffers (offsets + interleaved or
deinterleaved coords) rather than its Arrow dense union: one container
per geometry type, matching the buffers every cuSpatial kernel actually
consumes (/root/reference/python/cuspatial/cuspatial/core/spatial/join.py:76-87,
geoseries.py:670-825 `from_points_xy` / `from_polygons_xy` /
`from_linestrings_xy`).

Two forms:

- driver-side ``*Arrays`` dataclasses (NumPy buffers) for geometry
  layers that are small enough to broadcast (polygon/linestring layers
  in a spatial join — the common case at web scale);
- Spark DataFrames with one feature per row for the big side (points),
  any payload columns riding along.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa


def _as_f(a) -> np.ndarray:
    a = np.asarray(a)
    if a.dtype not in (np.float32, np.float64):
        a = a.astype(np.float64)
    return a


def _bounds(x, y, offsets, r):
    """(minx, miny, maxx, maxy) grown by r, one row per feature, where
    feature i spans vertices offsets[i] .. offsets[i+1]-1 (ranges are
    contiguous, so one ``reduceat`` per bound covers the layer).  A
    feature with no vertex gets NaN, as GeoPandas' bounds of an empty
    geometry."""
    out = np.full((4, len(offsets) - 1), np.nan)
    has = np.flatnonzero(offsets[1:] > offsets[:-1])
    if len(has):
        xs, ys, s = x[: offsets[-1]], y[: offsets[-1]], offsets[has]
        out[:, has] = [
            np.minimum.reduceat(xs, s), np.minimum.reduceat(ys, s),
            np.maximum.reduceat(xs, s), np.maximum.reduceat(ys, s),
        ]
    return out[0] - r, out[1] - r, out[2] + r, out[3] + r


def _list_buffers(table, name):
    """A list column's offsets (rebased to 0) and flat values."""
    col = table.column(name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offs = col.offsets.to_numpy().astype(np.int64)
    return offs - offs[0], col.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]]


def require_single_part(layer, op_name: str):
    """Quadtree join kernels accept only single-part geometries — the
    same validation error as the reference (core/spatial/join.py:71-74
    'GeoSeries cannot contain multipolygons', join.py:317-320 for
    multilinestrings; quadtree_point_in_polygon.cuh:118-119)."""
    if isinstance(layer, (MultiLinestringArrays, MultiPolygonArrays)):
        raise ValueError(
            f"{op_name} does not support multi-part geometries; "
            "flatten to single parts first (reference restriction, "
            "core/spatial/join.py:71-74,317-320)"
        )


@dataclass
class PolygonArrays:
    """Flat polygon layer: polygon i spans rings
    ring_offsets[part_offsets[i]] .. ring_offsets[part_offsets[i+1]],
    ring r spans vertices ring_offsets[r] .. ring_offsets[r+1]-1."""

    part_offsets: np.ndarray  # len n_polys+1 -> ring space
    ring_offsets: np.ndarray  # len n_rings+1 -> vertex space
    x: np.ndarray
    y: np.ndarray
    ids: np.ndarray = field(default=None)  # optional user polygon ids

    def __post_init__(self):
        self.part_offsets = np.asarray(self.part_offsets, dtype=np.int64)
        self.ring_offsets = np.asarray(self.ring_offsets, dtype=np.int64)
        self.x = _as_f(self.x)
        self.y = _as_f(self.y)
        if self.ids is None:
            self.ids = np.arange(len(self), dtype=np.int64)
        else:
            self.ids = np.asarray(self.ids, dtype=np.int64)

    @classmethod
    def from_polygons_xy(cls, xy, ring_offsets, part_offsets, ids=None):
        """Same argument shape as GeoSeries.from_polygons_xy
        (geoseries.py:776): interleaved xy + ring/part offsets."""
        xy = _as_f(xy)
        return cls(part_offsets, ring_offsets, xy[::2].copy(), xy[1::2].copy(), ids)

    def to_arrow(self) -> pa.Table:
        """The layer as one row per polygon, ``(polygon_id long,
        ring_offsets array<int>, xy array<double>)``: the polygon's ring
        offsets counted from its first vertex (its ring count plus one
        entries) and its vertices interleaved x, y.  The inverse of
        ``from_arrow``."""
        po, ro = self.part_offsets, self.ring_offsets
        entries = np.diff(po) + 1
        list_offs = np.concatenate(([0], np.cumsum(entries)))
        ring = np.arange(list_offs[-1]) - np.repeat(list_offs[:-1] - po[:-1], entries)
        local = ro[ring] - np.repeat(ro[po[:-1]], entries)
        v0, v1 = ro[po[0]], ro[po[-1]]
        xy = np.empty(2 * (v1 - v0))
        xy[0::2], xy[1::2] = self.x[v0:v1], self.y[v0:v1]
        return pa.table({
            "polygon_id": self.ids,
            "ring_offsets": pa.ListArray.from_arrays(
                pa.array(list_offs, pa.int32()), pa.array(local, pa.int32())
            ),
            "xy": pa.ListArray.from_arrays(pa.array(2 * (ro[po] - v0), pa.int32()), xy),
        })

    @classmethod
    def from_arrow(cls, table, id_col="polygon_id", ring_offsets_col="ring_offsets",
                   xy_col="xy"):
        """The layer held in the ``to_arrow`` row format of a pyarrow
        Table or RecordBatch (any integer type for the ring offsets).
        A polygon whose list has k ring offsets has k - 1 rings; its
        last offset is taken to be its vertex count."""
        ro_offs, local = _list_buffers(table, ring_offsets_col)
        xy_offs, xy = _list_buffers(table, xy_col)
        rings = np.maximum(np.diff(ro_offs) - 1, 0)
        # a polygon's ring starts are all its offsets but the last,
        # moved to where its vertices start in the layer
        start = np.ones(len(local), dtype=bool)
        start[ro_offs[1:][ro_offs[1:] > ro_offs[:-1]] - 1] = False
        vbase = xy_offs // 2
        ring_offsets = np.append(local[start] + np.repeat(vbase[:-1], rings), vbase[-1])
        ids = table.column(id_col).to_numpy()
        return cls(np.concatenate(([0], np.cumsum(rings))), ring_offsets,
                   xy[0::2], xy[1::2], ids)

    def __len__(self):
        return len(self.part_offsets) - 1

    def vertex_ranges(self):
        """Per-polygon (start, end) into the vertex arrays."""
        return self.ring_offsets[self.part_offsets[:-1]], self.ring_offsets[self.part_offsets[1:]]

    def bounding_boxes(self, expansion_radius: float = 0.0):
        """(minx, miny, maxx, maxy) arrays, one row per polygon
        (reference core/spatial/bounding.py:19-80)."""
        offsets = self.ring_offsets[self.part_offsets]
        return _bounds(self.x, self.y, offsets, expansion_radius)


@dataclass
class MultipointArrays:
    """Flat multipoint layer: multipoint i spans points
    part_offsets[i] .. part_offsets[i+1]-1 (reference
    GeoSeries.from_multipoints_xy, geoseries.py:700-740)."""

    part_offsets: np.ndarray
    x: np.ndarray
    y: np.ndarray
    ids: np.ndarray = field(default=None)

    def __post_init__(self):
        self.part_offsets = np.asarray(self.part_offsets, dtype=np.int64)
        self.x = _as_f(self.x)
        self.y = _as_f(self.y)
        if self.ids is None:
            self.ids = np.arange(len(self), dtype=np.int64)
        else:
            self.ids = np.asarray(self.ids, dtype=np.int64)

    @classmethod
    def from_multipoints_xy(cls, xy, part_offsets, ids=None):
        """Same argument shape as GeoSeries.from_multipoints_xy:
        interleaved xy + geometry offsets."""
        xy = _as_f(xy)
        return cls(part_offsets, xy[::2].copy(), xy[1::2].copy(), ids)

    def __len__(self):
        return len(self.part_offsets) - 1

    def bounding_boxes(self, expansion_radius: float = 0.0):
        return _bounds(self.x, self.y, self.part_offsets, expansion_radius)


@dataclass
class MultiLinestringArrays:
    """Multi-part linestring layer: geometry i spans parts
    geometry_offsets[i] .. geometry_offsets[i+1]-1 of the underlying
    single-part layer (the reference's geometry_offset level,
    geoseries.py:729-746 from_linestrings_xy).  Parts of one geometry
    are contiguous, so a geometry's vertex range is contiguous too."""

    geometry_offsets: np.ndarray  # len n_geoms+1 -> part space
    parts: "LinestringArrays"
    ids: np.ndarray = field(default=None)

    def __post_init__(self):
        self.geometry_offsets = np.asarray(self.geometry_offsets, dtype=np.int64)
        if self.ids is None:
            self.ids = np.arange(len(self), dtype=np.int64)
        else:
            self.ids = np.asarray(self.ids, dtype=np.int64)

    @classmethod
    def from_linestrings_xy(cls, xy, part_offsets, geometry_offsets, ids=None):
        """Same argument shape as GeoSeries.from_linestrings_xy
        (geoseries.py:729-746): interleaved xy + part + geometry
        offsets."""
        return cls(geometry_offsets, LinestringArrays.from_linestrings_xy(xy, part_offsets), ids)

    def __len__(self):
        return len(self.geometry_offsets) - 1

    def part_table(self):
        """(geometry_index, part_index) flat arrays — the broadcast
        expansion table for part-level kernels."""
        counts = self.geometry_offsets[1:] - self.geometry_offsets[:-1]
        geom = np.repeat(np.arange(len(self), dtype=np.int64), counts)
        part = np.arange(self.geometry_offsets[-1], dtype=np.int64)
        return geom, part

    def vertex_ranges(self):
        po = self.parts.part_offsets
        return po[self.geometry_offsets[:-1]], po[self.geometry_offsets[1:]]

    def bounding_boxes(self, expansion_radius: float = 0.0):
        """One bbox per GEOMETRY, parts flattened (reference
        core/spatial/bounding.py:83-130 linestring_bounding_boxes
        accepts multilinestrings the same way)."""
        offsets = self.parts.part_offsets[self.geometry_offsets]
        return _bounds(self.parts.x, self.parts.y, offsets, expansion_radius)


@dataclass
class MultiPolygonArrays:
    """Multi-part polygon layer: geometry i spans polygons
    geometry_offsets[i] .. geometry_offsets[i+1]-1 of the underlying
    single-part layer (reference geometry_offset level,
    geoseries.py:776-825 from_polygons_xy)."""

    geometry_offsets: np.ndarray  # len n_geoms+1 -> polygon space
    parts: "PolygonArrays"
    ids: np.ndarray = field(default=None)

    def __post_init__(self):
        self.geometry_offsets = np.asarray(self.geometry_offsets, dtype=np.int64)
        if self.ids is None:
            self.ids = np.arange(len(self), dtype=np.int64)
        else:
            self.ids = np.asarray(self.ids, dtype=np.int64)

    @classmethod
    def from_polygons_xy(cls, xy, ring_offsets, part_offsets, geometry_offsets, ids=None):
        return cls(
            geometry_offsets,
            PolygonArrays.from_polygons_xy(xy, ring_offsets, part_offsets),
            ids,
        )

    def __len__(self):
        return len(self.geometry_offsets) - 1

    def part_table(self):
        counts = self.geometry_offsets[1:] - self.geometry_offsets[:-1]
        geom = np.repeat(np.arange(len(self), dtype=np.int64), counts)
        part = np.arange(self.geometry_offsets[-1], dtype=np.int64)
        return geom, part

    def vertex_ranges(self):
        ro, po = self.parts.ring_offsets, self.parts.part_offsets
        return ro[po[self.geometry_offsets[:-1]]], ro[po[self.geometry_offsets[1:]]]

    def bounding_boxes(self, expansion_radius: float = 0.0):
        """One bbox per GEOMETRY, parts flattened (reference
        core/spatial/bounding.py:19-80 flattens multipolygon parts)."""
        offsets = self.parts.ring_offsets[self.parts.part_offsets[self.geometry_offsets]]
        return _bounds(self.parts.x, self.parts.y, offsets, expansion_radius)


@dataclass
class LinestringArrays:
    """Flat (single-part) linestring layer: linestring i spans vertices
    part_offsets[i] .. part_offsets[i+1]-1."""

    part_offsets: np.ndarray
    x: np.ndarray
    y: np.ndarray
    ids: np.ndarray = field(default=None)

    def __post_init__(self):
        self.part_offsets = np.asarray(self.part_offsets, dtype=np.int64)
        self.x = _as_f(self.x)
        self.y = _as_f(self.y)
        if self.ids is None:
            self.ids = np.arange(len(self), dtype=np.int64)
        else:
            self.ids = np.asarray(self.ids, dtype=np.int64)

    @classmethod
    def from_linestrings_xy(cls, xy, part_offsets, ids=None):
        xy = _as_f(xy)
        return cls(part_offsets, xy[::2].copy(), xy[1::2].copy(), ids)

    def __len__(self):
        return len(self.part_offsets) - 1

    def bounding_boxes(self, expansion_radius: float = 0.0):
        return _bounds(self.x, self.y, self.part_offsets, expansion_radius)
