"""GeoSeries facade — the user-facing switch surface.

A reference user works through ``cuspatial.GeoSeries`` (constructed
via from_geopandas / WKT) and calls pairwise methods: ``.distance``,
the ten binary predicates, ``.sizes``, ``.iloc`` / ``.loc``
(reference core/geoseries.py).  This module offers the same call
shapes over the Spark engine: a GeoSeries wraps the driver-side
GeoLayers (broadcast geometry) plus a SparkSession, materializes the
aligned pairwise DataFrame lazily, and dispatches to
operators/dispatch.py (distance) and operators/binpred_dispatch.py
(predicates).

Reference kwargs parity (geoseries.py:1009-1476):

- every predicate takes ``align`` (default True except
  contains/contains_properly, default False) — when set, the two
  series are index-aligned first (sorted union of indexes; rows
  missing on either side become missing rows, which answer False for
  predicates and NaN for distance);
- ``contains``/``contains_properly`` take ``allpairs`` (the
  semi-join-shaped (point_indices, polygon_indices) output over ALL
  pairs, boundary points excluded — delegates to the distributed
  plans.point_in_polygon_join) and ``mode`` ("full" | "basic_none" |
  "basic_any" | "basic_all" | "basic_count": vertex-containment
  composition, contains_geometry_processor.py:160-240);
- ``distance`` takes ``align`` (default True,
  geoseries.py:1400-1476).

Mixed-kind series (the reference's GeoColumn union,
core/_column/geocolumn.py:30-66 + geometa.py:15-59) are supported by
per-kind sub-dispatch: pairwise ops partition the rows by their
(lhs_kind, rhs_kind) pair, run each homogeneous group through the
single-kind dispatcher, and reassemble by the original row ids (the
row map).  Row i of the result corresponds to row i of both inputs,
like the reference's aligned pairwise semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.geopandas import (
    LINESTRING,
    MULTIPOINT,
    NONE,
    POINT,
    POLYGON,
    GeoLayers,
    align as _align_ids,
    from_geopandas,
    from_wkt,
    to_geoms,
    to_wkt,
)

_KIND_NAMES = {
    POINT: "point",
    MULTIPOINT: "multipoint",
    LINESTRING: "linestring",
    POLYGON: "polygon",
}

# predicate name -> reference default for the align kwarg
# (geoseries.py: contains/contains_properly default False, the other
# eight default True)
_PREDICATES = {
    "intersects": True,
    "disjoint": True,
    "within": True,
    "contains": False,
    "contains_properly": False,
    "covers": True,
    "crosses": True,
    "touches": True,
    "overlaps": True,
    "geom_equals": True,
}

_MODES = ("full", "basic_none", "basic_any", "basic_all", "basic_count")


class _LocIndexer:
    """Label-based row selection (reference GeoSeriesLocIndexer,
    geoseries.py:147-221): scalar label, list of labels, or boolean
    mask over the index."""

    def __init__(self, series: "GeoSeries"):
        self._s = series

    def __getitem__(self, item) -> "GeoSeries":
        s = self._s
        idx = s.index
        if isinstance(item, (list, tuple, np.ndarray, pd.Index)):
            arr = np.asarray(item)
            if arr.dtype == bool:
                if len(arr) != len(s):
                    raise ValueError("boolean mask length mismatch")
                pos = np.flatnonzero(arr)
            else:
                # per-label check: a duplicated present label must not
                # mask an absent one (a length comparison would)
                missing = [lab for lab in arr if not (idx == lab).any()]
                if missing:
                    raise KeyError(f"labels not in index: {missing}")
                pos = np.concatenate(
                    [np.flatnonzero(idx == lab) for lab in arr]
                ) if len(arr) else np.empty(0, dtype=np.int64)
        else:
            pos = np.flatnonzero(idx == item)
            if len(pos) == 0:
                raise KeyError(item)
        return s.iloc(pos)


class _TypeAccessor:
    """Per-type coordinate accessor (reference GeoColumnAccessor
    family, geoseries.py:224-341): `.x` / `.y` / `.xy` expose the flat
    coordinate buffers of ONE geometry type, plus the nested offset
    arrays where the type has them, and `point_indices()` maps each
    vertex back to the owning row's index label."""

    def __init__(self, series: "GeoSeries", kind: int):
        self._s = series
        self._kind = kind
        self._rows = np.flatnonzero(
            np.asarray(series.layers.feature_types) == kind
        )

    def _buffers(self) -> tuple[np.ndarray, np.ndarray]:
        L = self._s.layers
        if self._kind == POINT:
            u = L.union_offsets[self._rows]
            return L.point_x[u], L.point_y[u]
        if self._kind == MULTIPOINT:
            return L.multipoints.x, L.multipoints.y
        if self._kind == LINESTRING:
            return L.linestrings.x, L.linestrings.y
        return L.polygons.x, L.polygons.y

    @property
    def x(self) -> np.ndarray:
        return self._buffers()[0]

    @property
    def y(self) -> np.ndarray:
        return self._buffers()[1]

    @property
    def xy(self) -> np.ndarray:
        """Interleaved [x0, y0, x1, y1, ...] (reference `.xy`)."""
        xs, ys = self._buffers()
        out = np.empty(2 * len(xs), dtype=np.float64)
        out[0::2], out[1::2] = xs, ys
        return out

    @property
    def geometry_offset(self) -> np.ndarray:
        L = self._s.layers
        if self._kind == MULTIPOINT:
            return np.asarray(L.multipoints.part_offsets)
        if self._kind == LINESTRING:
            go = L.ls_geom_offsets
            n = len(L.linestrings.part_offsets) - 1
            return np.arange(n + 1) if go is None else np.asarray(go)
        if self._kind == POLYGON:
            go = L.pg_geom_offsets
            n = len(L.polygons.part_offsets) - 1
            return np.arange(n + 1) if go is None else np.asarray(go)
        raise AttributeError("points accessor has no geometry_offset")

    @property
    def part_offset(self) -> np.ndarray:
        L = self._s.layers
        if self._kind == LINESTRING:
            return np.asarray(L.linestrings.part_offsets)
        if self._kind == POLYGON:
            return np.asarray(L.polygons.part_offsets)
        raise AttributeError("part_offset exists for lines/polygons only")

    @property
    def ring_offset(self) -> np.ndarray:
        if self._kind == POLYGON:
            return np.asarray(self._s.layers.polygons.ring_offsets)
        raise AttributeError("ring_offset exists for polygons only")

    def point_indices(self) -> np.ndarray:
        """Owning row's index label per vertex of THIS type's rows."""
        sizes = self._s.layers.sizes()[self._rows]
        return np.repeat(self._s.index[self._rows], sizes)


class GeoSeries:
    """Driver-side geometry series with Spark-dispatched pairwise ops."""

    _MIXED = -2

    def __init__(self, spark: SparkSession, layers: GeoLayers, index=None):
        self.spark = spark
        self.layers = layers
        self.index = (
            np.arange(len(layers)) if index is None else np.asarray(index)
        )
        if len(self.index) != len(layers):
            raise ValueError(
                f"index length {len(self.index)} != series length {len(layers)}"
            )
        kinds = {int(k) for k in layers.feature_types if k != NONE}
        if len(kinds) > 1:
            self._kind_code = self._MIXED
        else:
            self._kind_code = kinds.pop() if kinds else NONE

    # ------------------------------------------------------ constructors

    @classmethod
    def from_wkt(cls, spark: SparkSession, wkts, index=None) -> "GeoSeries":
        return cls(spark, from_geopandas(from_wkt(wkts)), index=index)

    @classmethod
    def from_geopandas(cls, spark: SparkSession, geoms, index=None) -> "GeoSeries":
        if index is None and hasattr(geoms, "index"):
            index = np.asarray(geoms.index)
        return cls(spark, from_geopandas(geoms), index=index)

    @classmethod
    def from_arrow(cls, spark: SparkSession, union, index=None) -> "GeoSeries":
        """From a GeoArrow dense-union array (io/geopandas.from_arrow)."""
        from .io.geopandas import from_arrow as _fa

        return cls(spark, _fa(union), index=index)

    # --------------------------- flat-buffer constructors (reference
    # geoseries.py:670-825 argument shapes, series-level)

    @staticmethod
    def _empty_layers():
        from .geometry import (
            LinestringArrays,
            MultipointArrays,
            PolygonArrays,
        )

        return (
            MultipointArrays([0], [], []),
            LinestringArrays([0], [], []),
            PolygonArrays([0], [0], [], []),
        )

    @classmethod
    def from_points_xy(cls, spark: SparkSession, points_xy, index=None) -> "GeoSeries":
        """POINT series from interleaved xy (reference :670-688)."""
        xy = np.asarray(points_xy, dtype=np.float64)
        n = len(xy) // 2
        mp, ls, pg = cls._empty_layers()
        layers = GeoLayers(
            feature_types=np.full(n, POINT, dtype=np.int8),
            union_offsets=np.arange(n),
            point_x=xy[0::2].copy(),
            point_y=xy[1::2].copy(),
            multipoints=mp, linestrings=ls, polygons=pg,
        )
        return cls(spark, layers, index=index)

    @classmethod
    def from_multipoints_xy(
        cls, spark: SparkSession, multipoints_xy, geometry_offset, index=None
    ) -> "GeoSeries":
        """MULTIPOINT series from interleaved xy + per-geometry point
        offsets (reference :691-727)."""
        from .geometry import MultipointArrays

        xy = np.asarray(multipoints_xy, dtype=np.float64)
        _, ls, pg = cls._empty_layers()
        n = len(geometry_offset) - 1
        layers = GeoLayers(
            feature_types=np.full(n, MULTIPOINT, dtype=np.int8),
            union_offsets=np.arange(n),
            point_x=np.empty(0), point_y=np.empty(0),
            multipoints=MultipointArrays(
                geometry_offset, xy[0::2].copy(), xy[1::2].copy()
            ),
            linestrings=ls, polygons=pg,
        )
        return cls(spark, layers, index=index)

    @classmethod
    def from_linestrings_xy(
        cls, spark: SparkSession, linestrings_xy, part_offset, geometry_offset,
        index=None,
    ) -> "GeoSeries":
        """(MULTI)LINESTRING series from interleaved xy + part/geometry
        offsets (reference :729-774)."""
        from .geometry import LinestringArrays

        xy = np.asarray(linestrings_xy, dtype=np.float64)
        mp, _, pg = cls._empty_layers()
        n = len(geometry_offset) - 1
        layers = GeoLayers(
            feature_types=np.full(n, LINESTRING, dtype=np.int8),
            union_offsets=np.arange(n),
            point_x=np.empty(0), point_y=np.empty(0),
            multipoints=mp,
            linestrings=LinestringArrays(
                part_offset, xy[0::2].copy(), xy[1::2].copy()
            ),
            polygons=pg,
            ls_geom_offsets=np.asarray(geometry_offset, dtype=np.int64),
        )
        return cls(spark, layers, index=index)

    @classmethod
    def from_polygons_xy(
        cls, spark: SparkSession, polygons_xy, ring_offset, part_offset,
        geometry_offset, index=None,
    ) -> "GeoSeries":
        """(MULTI)POLYGON series from interleaved xy + ring/part/
        geometry offsets (reference :776-825)."""
        from .geometry import PolygonArrays

        xy = np.asarray(polygons_xy, dtype=np.float64)
        mp, ls, _ = cls._empty_layers()
        n = len(geometry_offset) - 1
        layers = GeoLayers(
            feature_types=np.full(n, POLYGON, dtype=np.int8),
            union_offsets=np.arange(n),
            point_x=np.empty(0), point_y=np.empty(0),
            multipoints=mp, linestrings=ls,
            polygons=PolygonArrays(
                part_offset, ring_offset, xy[0::2].copy(), xy[1::2].copy()
            ),
            pg_geom_offsets=np.asarray(geometry_offset, dtype=np.int64),
        )
        return cls(spark, layers, index=index)

    # ---------------------------------------------------------- basics

    def __len__(self):
        return len(self.layers)

    @property
    def kind(self) -> str:
        if self._kind_code == self._MIXED:
            return "mixed"
        return _KIND_NAMES.get(self._kind_code, "none")

    @property
    def sizes(self) -> np.ndarray:
        return self.layers.sizes()

    @property
    def point_indices(self) -> np.ndarray:
        """Row index label owning each coordinate vertex (reference
        geoseries.py:148-163: the index repeated by per-row vertex
        count; homogeneous series only, TypeError on mixed)."""
        if self._kind_code == self._MIXED:
            raise TypeError(
                "GeoSeries must contain only Points, MultiPoints, Lines, "
                "or Polygons to return point indices."
            )
        return np.repeat(self.index, self.layers.sizes())

    @property
    def feature_types(self) -> np.ndarray:
        """Per-row Feature_Enum codes (reference geoseries.py:113-115)."""
        return np.asarray(self.layers.feature_types)

    @property
    def type(self):
        """Per-row type-name strings (reference geoseries.py:117-128;
        same spellings, incl. 'Linestring')."""
        names = {
            NONE: "None", POINT: "Point", MULTIPOINT: "MultiPoint",
            LINESTRING: "Linestring", POLYGON: "Polygon",
        }
        return pd.Series(
            [names[int(t)] for t in self.layers.feature_types],
            index=self.index,
        )

    @property
    def column_type(self) -> str:
        """Single-kind tag or 'mixed' (reference ColumnType enum,
        geoseries.py:130-145 via contains_only_*)."""
        return self.kind

    def reset_index(self, drop: bool = False):
        """Reference geoseries.py:933-1007: with drop=True returns a
        GeoSeries reindexed 0..n-1; with drop=False the old index
        becomes an 'index' payload column of a GeoDataFrame."""
        fresh = GeoSeries(self.spark, self.layers)
        if drop:
            return fresh
        from .geodataframe import GeoDataFrame

        return GeoDataFrame(
            self.spark, {"index": list(self.index), "geometry": fresh}
        )

    def to_pandas(self) -> pd.Series:
        """pandas Series of (shapely-protocol) geometry objects,
        carrying the index (reference geoseries.py:465)."""
        return pd.Series(self.to_geoms(), index=self.index)

    def to_shapely(self) -> pd.Series:
        """pandas Series of REAL shapely geometries (requires shapely;
        reference geoseries.py:509)."""
        from shapely import wkt as _wkt

        return pd.Series(
            [None if w is None else _wkt.loads(w) for w in to_wkt(self.layers)],
            index=self.index,
        )

    def isna(self) -> np.ndarray:
        """Per-row missing-geometry mask (reference geoseries.py:
        1385-1390: input_types == NONE)."""
        return np.asarray(self.layers.feature_types) == NONE

    def notna(self) -> np.ndarray:
        """Per-row non-missing mask (reference geoseries.py:1392-1398)."""
        return ~self.isna()

    @property
    def points(self) -> _TypeAccessor:
        """Coordinate accessor for the POINT rows (reference `.points`)."""
        return _TypeAccessor(self, POINT)

    @property
    def multipoints(self) -> _TypeAccessor:
        return _TypeAccessor(self, MULTIPOINT)

    @property
    def lines(self) -> _TypeAccessor:
        return _TypeAccessor(self, LINESTRING)

    @property
    def polygons(self) -> _TypeAccessor:
        return _TypeAccessor(self, POLYGON)

    def iloc(self, indices) -> "GeoSeries":
        pos = np.asarray(indices)
        return GeoSeries(self.spark, self.layers.iloc(pos), index=self.index[pos])

    @property
    def loc(self) -> _LocIndexer:
        return _LocIndexer(self)

    def to_wkt(self) -> list:
        return to_wkt(self.layers)

    def to_geoms(self):
        return to_geoms(self.layers)

    def to_geopandas(self):
        from .io.geopandas import to_geopandas

        return to_geopandas(self.layers)

    def to_arrow(self):
        """GeoArrow dense-union export (reference GeoColumn.to_arrow,
        geocolumn.py:68-78)."""
        from .io.geopandas import to_arrow as _ta

        return _ta(self.layers)

    # ----------------------------------------------------------- align

    def _coerce_other(self, other) -> "GeoSeries":
        """Scalar broadcast (reference geoseries.py:1461-1476: a bare
        geometry object broadcasts to self's length and index).  Also
        accepts a WKT string scalar."""
        if isinstance(other, GeoSeries):
            return other
        if isinstance(other, str):
            return GeoSeries.from_wkt(
                self.spark, [other] * len(self), index=self.index
            )
        if hasattr(other, "geom_type"):
            return GeoSeries(
                self.spark,
                from_geopandas([other] * len(self)),
                index=self.index,
            )
        raise TypeError(
            f"expected GeoSeries, WKT string, or geometry object, "
            f"got {type(other).__name__}"
        )

    def align(self, other: "GeoSeries") -> tuple["GeoSeries", "GeoSeries"]:
        """Index-align two series (reference align semantics): both are
        reindexed to the sorted union of their indexes; labels absent
        on a side become missing rows there (predicates answer False,
        distance answers NaN for those rows).

        Duplicate labels are rejected: the positional map is
        one-slot-per-label, so a duplicated label would silently drop
        rows (pandas raises on duplicate-axis reindex the same way).

        The reindex round-trips through driver-side geometry objects
        (to_geoms + from_geopandas) — acceptable because GeoSeries
        layers are the broadcast-small side of every join by contract;
        the distributed side never passes through here."""
        for side, idx in (("left", self.index), ("right", other.index)):
            if len(np.unique(idx)) != len(idx):
                raise ValueError(
                    f"cannot align: {side} index has duplicate labels "
                    "(the positional map would silently drop rows)"
                )
        union, pos_a, pos_b = _align_ids(self.index, other.index)

        def take(series: "GeoSeries", pos) -> "GeoSeries":
            geoms = series.to_geoms()
            return GeoSeries(
                series.spark,
                from_geopandas(
                    [geoms[int(p)] if p >= 0 else None for p in pos]
                ),
                index=union,
            )

        return take(self, pos_a), take(other, pos_b)

    def _maybe_align(self, other: "GeoSeries", align: bool):
        if align and not (
            len(self) == len(other) and np.array_equal(self.index, other.index)
        ):
            return self.align(other)
        return self, other

    # ------------------------------------------------- pairwise plumbing

    def _pair_df(self, other: "GeoSeries", row_ids=None) -> tuple[DataFrame, dict]:
        """Aligned pairwise DataFrame (row i = lhs i vs rhs i) with the
        column conventions of the dispatchers, plus the kwargs that
        name the index columns for this kind pair."""
        if len(self) != len(other):
            raise ValueError(
                f"length mismatch: {len(self)} vs {len(other)} "
                "(align the series first)"
            )
        n = len(self)
        cols: dict = {"row_id": np.arange(n) if row_ids is None else np.asarray(row_ids)}
        kw: dict = {}

        idx_names = {
            MULTIPOINT: "multipoint_index",
            LINESTRING: "linestring_index",
            POLYGON: "polygon_index",
        }

        def side(series, is_lhs: bool, other_kind: int):
            u = series.layers.union_offsets
            k = series._kind_code
            if k == POINT:
                xs = series.layers.point_x[u]
                ys = series.layers.point_y[u]
                # dispatcher convention: x2/y2 only when BOTH sides
                # are points; otherwise the point side is always x/y
                if is_lhs or other_kind != POINT:
                    cols["x"], cols["y"] = xs, ys
                else:
                    cols["x2"], cols["y2"] = xs, ys
            elif k in idx_names:
                # same-kind pairs use lhs_index/rhs_index; mixed pairs
                # use the kind-specific column name
                if k == other_kind:
                    cols["lhs_index" if is_lhs else "rhs_index"] = u
                else:
                    cols[idx_names[k]] = u
            else:
                raise ValueError("empty GeoSeries side")

        side(self, True, other._kind_code)
        side(other, False, self._kind_code)
        return self.spark.createDataFrame(pd.DataFrame(cols)), kw

    def _layer_of(self, for_predicate: bool = False):
        """Geometry-level layer container.  Multi-part rows: the
        distance family accepts Multi* containers directly (min over
        parts); predicates use the flattened even-odd polygon view for
        multipolygons, and multilinestrings answer intersects/disjoint
        via the dispatcher's distance closure."""
        k = self._kind_code
        if k == MULTIPOINT:
            return self.layers.multipoints
        if k == LINESTRING:
            # multi-part rows pass the Multi container through; the
            # binpred dispatcher answers intersects/disjoint via the
            # distance closure and raises for the rest
            return self.layers.linestring_layer()
        if k == POLYGON:
            if for_predicate:
                return self.layers.polygon_flat_layer()
            return self.layers.polygon_layer()
        return None

    # --------------------------------------------- mixed-kind sub-dispatch

    def _kind_groups(self, other: "GeoSeries", rows=None):
        """Partition aligned rows by their (lhs_kind, rhs_kind) pair —
        the per-kind sub-dispatch of the reference's GeoColumn union
        (geocolumn.py:30-66): each homogeneous group runs through the
        single-kind dispatcher, results reassemble on row_id.  ``rows``
        restricts to a subset of row positions (the non-missing ones)."""
        if len(self) != len(other):
            raise ValueError(
                f"length mismatch: {len(self)} vs {len(other)} "
                "(align the series first)"
            )
        lt = np.asarray(self.layers.feature_types)
        rt = np.asarray(other.layers.feature_types)
        rows = np.arange(len(self)) if rows is None else np.asarray(rows)
        keys = lt[rows].astype(np.int64) * 16 + rt[rows]
        groups = []
        for key in np.unique(keys):
            idx = rows[np.flatnonzero(keys == key)]
            lk, rk = int(key) // 16, int(key) % 16
            if lk == NONE or rk == NONE:
                raise ValueError("pairwise op over missing (None) geometry rows")
            groups.append((idx, self.iloc(idx), other.iloc(idx)))
        return groups

    def _dispatch_pairwise(
        self, other: "GeoSeries", run, out_col: str, none_value=None
    ) -> DataFrame:
        """Route aligned pairs through ``run`` per homogeneous kind
        group; rows where either side is missing (NONE) short-circuit
        to ``none_value`` (False for predicates, NaN for distance —
        GeoPandas missing-geometry semantics)."""
        lt = np.asarray(self.layers.feature_types)
        rt = np.asarray(other.layers.feature_types)
        if len(lt) != len(rt):
            raise ValueError(
                f"length mismatch: {len(self)} vs {len(other)} "
                "(align the series first, or pass align=True)"
            )
        none_mask = (lt == NONE) | (rt == NONE)
        if len(none_mask) == 0:
            # empty series: empty typed result, not an IndexError
            typ = "double" if isinstance(none_value, float) else "boolean"
            return self.spark.createDataFrame(
                [], schema=f"row_id long, {out_col} {typ}"
            )
        parts = []
        if none_mask.any():
            none_idx = np.flatnonzero(none_mask)
            pdf = pd.DataFrame({"row_id": none_idx})
            pdf[out_col] = none_value
            parts.append(self.spark.createDataFrame(pdf))
        if not none_mask.all():
            if (
                not none_mask.any()
                and self._kind_code != self._MIXED
                and other._kind_code != self._MIXED
            ):
                df, kw = self._pair_df(other)
                parts.append(run(df, kw, self, other).select("row_id", out_col))
            else:
                valid = np.flatnonzero(~none_mask)
                for idx, sub_l, sub_r in self._kind_groups(other, rows=valid):
                    df, kw = sub_l._pair_df(sub_r, row_ids=idx)
                    parts.append(run(df, kw, sub_l, sub_r).select("row_id", out_col))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------ pairwise ops

    def distance(self, other: "GeoSeries", align: bool = True) -> DataFrame:
        """Row i: distance(self[i], other[i]) — (row_id, distance).
        With ``align=True`` (the reference default,
        geoseries.py:1400-1476) the series are index-aligned first;
        rows missing on either side answer NaN."""
        from .operators.dispatch import distance as _distance

        other = self._coerce_other(other)
        lhs, rhs = self._maybe_align(other, align)

        def run(df, kw, sl, sr):
            return _distance(
                df, sl.kind, sr.kind, sl._layer_of(), sr._layer_of(), **kw
            )

        return lhs._dispatch_pairwise(rhs, run, "distance", none_value=float("nan"))

    # ------------------------------------------------ contains extras

    def _contains_allpairs(self, other: "GeoSeries") -> DataFrame:
        """contains(other, allpairs=True) (reference geoseries.py:1009):
        (point_indices, polygon_indices) over ALL (lhs polygon, rhs
        point) pairs, boundary points excluded — the distributed
        filter+refine spatial join (plans.point_in_polygon_join with
        edge_exact for the reference's deterministic edge exclusion)."""
        from .plans import point_in_polygon_join

        # rows missing on either side (e.g. introduced by align) simply
        # produce no pairs; indices refer to row positions of the
        # frames THIS function receives — the caller's original
        # positions with align=False, the sorted-union aligned
        # positions when align=True reindexed first
        lhs_valid = np.flatnonzero(
            np.asarray(self.layers.feature_types) == POLYGON
        )
        rhs_valid = np.flatnonzero(
            np.asarray(other.layers.feature_types) == POINT
        )
        if self._kind_code not in (POLYGON, NONE) or other._kind_code not in (
            POINT,
            NONE,
        ):
            raise NotImplementedError(
                "allpairs=True requires a polygon lhs and a point rhs "
                "(the reference's quadtree PIP shape)"
            )
        if len(lhs_valid) == 0 or len(rhs_valid) == 0:
            # no valid pairs (empty side, or all rows missing after
            # align): empty result with the contract schema instead of
            # a min()-of-empty crash
            return self.spark.createDataFrame(
                [], "point_indices long, polygon_indices long"
            )
        lhs = self if len(lhs_valid) == len(self) else self.iloc(lhs_valid)
        flat = lhs.layers.polygon_flat_layer()
        # kernel-path output ids carry through PolygonArrays.ids: remap
        # subset positions back to original row positions.  Build a
        # FRESH layer — polygon_flat_layer may return the series'
        # underlying layer itself, and assigning ids into that would
        # mutate shared state.
        from .geometry import PolygonArrays

        polys = PolygonArrays(
            flat.part_offsets, flat.ring_offsets, flat.x, flat.y, ids=lhs_valid
        )
        u = other.layers.union_offsets[rhs_valid]
        xs = other.layers.point_x[u]
        ys = other.layers.point_y[u]
        pts = self.spark.createDataFrame(
            pd.DataFrame({"point_indices": rhs_valid, "x": xs, "y": ys})
        )
        pad = 1e-9
        x_lo = float(min(xs.min(), polys.x.min())) - pad
        x_hi = float(max(xs.max(), polys.x.max())) + pad
        y_lo = float(min(ys.min(), polys.y.min())) - pad
        y_hi = float(max(ys.max(), polys.y.max())) + pad
        out = point_in_polygon_join(
            pts, polys,
            x="x", y="y",
            x_min=x_lo, x_max=x_hi, y_min=y_lo, y_max=y_hi,
            keep_columns=["point_indices"], edge_exact=True,
        )
        return out.select(
            "point_indices", F.col("polygon_id").alias("polygon_indices")
        )

    def _contains_mode(self, other: "GeoSeries", mode: str, out_col: str) -> DataFrame:
        """The basic_* contains variants: vertex-containment counts of
        rhs vertices strictly inside the lhs polygon
        (contains_geometry_processor.py:160-240)."""
        from .operators.binpreds import polygon_contains_properly_count

        lt = np.asarray(self.layers.feature_types)
        if not np.all((lt == POLYGON) | (lt == NONE)):
            raise NotImplementedError(
                f"mode={mode!r} requires a polygon lhs (reference "
                "basic predicates are PIP-count based)"
            )
        polys = self.layers.polygon_flat_layer()
        n = len(self)
        rt = np.asarray(other.layers.feature_types)
        valid = np.flatnonzero((lt == POLYGON) & (rt != NONE))
        sizes = other.layers.sizes()
        pdf = pd.DataFrame(
            {
                "row_id": valid,
                "polygon_index": self.layers.union_offsets[valid],
                "rhs_row": valid,
                "rhs_size": sizes[valid],
            }
        )
        rhs_layers = other.layers
        counted = polygon_contains_properly_count(
            self.spark.createDataFrame(
                pdf,
                schema="row_id: long, polygon_index: long, rhs_row: long, rhs_size: long",
            ),
            polys,
            rhs_layers.row_vertices,
            polygon_idx="polygon_index",
            rhs_idx="rhs_row",
            result="__count",
        )
        if mode == "basic_count":
            expr = F.col("__count").cast("int")
        elif mode == "basic_any":
            expr = F.col("__count") > 0
        elif mode == "basic_none":
            expr = F.col("__count") == 0
        else:  # basic_all
            expr = F.col("__count") == F.col("rhs_size")
        out = counted.select("row_id", expr.alias(out_col))
        missing = np.setdiff1d(np.arange(n), valid)
        if len(missing):
            mpdf = pd.DataFrame({"row_id": missing})
            # missing rows answer False for EVERY boolean mode (the
            # module-wide missing-geometry semantics, same as the
            # full-mode path's none_value=False) and 0 for basic_count
            mpdf[out_col] = 0 if mode == "basic_count" else False
            out = out.unionByName(self.spark.createDataFrame(mpdf))
        return out

    def _predicate(
        self,
        name: str,
        other: "GeoSeries",
        align: bool,
        allpairs: bool = False,
        mode: str = "full",
    ) -> DataFrame:
        from .operators.binpred_dispatch import binpred

        if mode not in _MODES:
            raise ValueError(f"mode must be one of {_MODES}, got {mode!r}")
        other = self._coerce_other(other)
        if allpairs:
            # allpairs output is over ALL pairs, so alignment only
            # matters for which rows exist: apply it first like the
            # reference root predicate does
            lhs, rhs = self._maybe_align(other, align)
            return lhs._contains_allpairs(rhs)
        lhs, rhs = self._maybe_align(other, align)
        if mode != "full":
            return lhs._contains_mode(rhs, mode, name)

        def run(df, kw, sl, sr):
            return binpred(
                df, name, sl.kind, sr.kind,
                sl._layer_of(for_predicate=True),
                sr._layer_of(for_predicate=True),
                result=name, **kw,
            )

        return lhs._dispatch_pairwise(rhs, run, name, none_value=False)


def _install_predicates():
    for _p, _align_default in _PREDICATES.items():
        if _p in ("contains", "contains_properly"):

            def method(self, other, align=_align_default, allpairs=False,
                       mode="full", _p=_p):
                return self._predicate(
                    _p, other, align=align, allpairs=allpairs, mode=mode
                )
        else:

            def method(self, other, align=_align_default, _p=_p):
                return self._predicate(_p, other, align=align)

        method.__name__ = _p
        method.__doc__ = (
            f"Row i: {_p}(self[i], other[i]) -> (row_id, {_p}) via "
            "operators/binpred_dispatch.binpred.  align="
            f"{_align_default} (reference default) index-aligns first."
        )
        setattr(GeoSeries, _p, method)


_install_predicates()
