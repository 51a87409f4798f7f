"""Spherical (haversine) radius join: 3D chord-grid filter + exact
refine, pure built-ins.

The geodesic analogue of the planar kNN/radius tile join
(plans/knn_join.py): joining geotagged web pages to a POI/polygon
layer "within d km" cannot use a lon/lat grid (cells degenerate at the
poles and wrap at the date line).  Instead both sides are embedded on
the unit sphere — two points are within haversine distance ``d`` iff
their 3D chord distance is within ``c = 2 sin(d / 2R)`` — and bucketed
on an axis-aligned 3D grid of spacing ``c``.  A candidate pair can
then only live in the same or an adjacent cell per axis, so the
27-neighbor offset explode turns the problem into ONE equi-join on
(cell_x, cell_y, cell_z), refined by the exact haversine predicate.

Scale shape (100 TB): the pages side streams through one codegen
projection (unit vector + cell id), the POI side is typically small
enough to broadcast (27x row fan-out happens on the broadcast copy,
not the corpus); with two big sides it is still a uniform-key hash
join — cell occupancy is bounded by crawl density per (d km)^3 voxel,
and AQE's skew split handles hot cities.  No crossJoin anywhere.

``geodesic_knn_join`` builds exact great-circle kNN on it.  A data
side of at most ``dense_threshold`` rows is collected once and the
queries stream through one Arrow crossing; a larger one runs radius-
doubling rounds of the radius join, each checkpointed once, so the
result writes without re-running a join or a window.

Reference: cuspatial has no geodesic join; this extends its
quadtree-join family (cpp/src/join/quadtree_point_in_polygon.cu) the
same way spherical_pip extends point_in_polygon.
"""

from __future__ import annotations

from functools import reduce
from itertools import product

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.expressions import (
    EARTH_RADIUS_KM,
    _sql_double,
    haversine_expr,
    sql_name,
)

import math


def _cells_sql(lon: str, lat: str, chord: float) -> list[str]:
    """SQL text of the chord-grid cell, per axis, of the unit vector of
    the degree ``lon``/``lat`` columns: FLOOR(axis / chord)."""
    lam, phi = f"radians({sql_name(lon)})", f"radians({sql_name(lat)})"
    unit = (f"cos({phi}) * cos({lam})", f"cos({phi}) * sin({lam})", f"sin({phi})")
    return [f"CAST(FLOOR(({u}) / {_sql_double(chord)}) AS BIGINT)" for u in unit]


def haversine_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lon: str = "lon",
    lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
    keep_left: tuple[str, ...] = (),
    keep_right: tuple[str, ...] = (),
    earth_radius_km: float = EARTH_RADIUS_KM,
    broadcast_right: bool = True,
) -> DataFrame:
    """All (left, right) pairs within ``radius_km`` great-circle km,
    with the exact haversine distance as ``distance_km``.

    ``keep_left`` / ``keep_right`` name the payload columns carried
    through (right-side names colliding with left names come back
    prefixed ``r_``).  ``broadcast_right=True`` (default) marks the
    right side — the POI/landmark layer, 27x-exploded — as the
    broadcast build side; set False to let AQE choose for two big
    sides."""
    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    ang = min(radius_km / earth_radius_km, math.pi)
    chord = 2.0 * math.sin(ang / 2.0)

    lkeep = list(keep_left)
    rkeep = list(keep_right)
    rmap = {c: (f"r_{c}" if c in lkeep else c) for c in rkeep}

    # each side is one select of SQL text: a Column tree of the same
    # cells paid a Py4J round trip per node, and each withColumn a
    # re-analysis of the plan
    lx, ly, lz = _cells_sql(lon, lat, chord)
    lhs = left.selectExpr(
        *map(sql_name, lkeep), sql_name(lon), sql_name(lat),
        f"{lx} AS __lcx", f"{ly} AS __lcy", f"{lz} AS __lcz",
    )
    rx, ry, rz = _cells_sql(right_lon, right_lat, chord)
    # 27-neighbor fan-out on the (small) right side: a pair within the
    # chord differs by at most one cell per axis
    offsets = ", ".join(
        f"named_struct('__rcx', __cx + {dx}, '__rcy', __cy + {dy}, '__rcz', __cz + {dz})"
        for dx, dy, dz in product((-1, 0, 1), repeat=3)
    )
    rkept = ["`" + rmap[c].replace("`", "``") + "`" for c in rkeep]
    rhs = right.selectExpr(
        *[f"{sql_name(c)} AS {k}" for c, k in zip(rkeep, rkept)],
        f"{sql_name(right_lon)} AS __rlon", f"{sql_name(right_lat)} AS __rlat",
        f"{rx} AS __cx", f"{ry} AS __cy", f"{rz} AS __cz",
    ).selectExpr(*rkept, "__rlon", "__rlat", f"inline(array({offsets}))")
    if broadcast_right:
        rhs = F.broadcast(rhs)

    cond = F.expr("__lcx = __rcx AND __lcy = __rcy AND __lcz = __rcz")
    dist = haversine_expr(
        F.col(lon), F.col(lat), F.col("__rlon"), F.col("__rlat"), earth_radius_km
    )
    return (
        lhs.join(rhs, cond)
        .withColumn("distance_km", dist)
        .where(F.col("distance_km") <= F.lit(radius_km))
        .select(*lkeep, *[rmap[c] for c in rkeep], "distance_km")
    )


def _dense_knn_arrow(
    pois,
    queries: DataFrame,
    k: int,
    lon: str,
    lat: str,
    id_field,
    query_id_col: str,
    earth_radius_km: float,
) -> DataFrame:
    """Exact kNN against a small data side already on the driver: the
    ``pois`` pandas frame (id, lon, lat) rides in the closure, and each
    query batch computes all its haversines, the stable (distance, id)
    order and the top-k slice in ONE Arrow crossing.  No shuffle, no
    window, no join.

    Same result as the progressive rounds: the same haversine formula
    (NumPy's libm, so a distance may differ from the JVM's in the last
    ulp), the same (distance_km, id) tie order, self-exclusion, and
    starved queries getting ranks 1..m; ``neighbor_id`` keeps the data
    id column's type (``id_field``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    P = pois.sort_values(id_field.name, kind="stable")
    pid = P[id_field.name].to_numpy()
    plon = np.radians(P[lon].to_numpy(dtype=np.float64))
    plat = np.radians(P[lat].to_numpy(dtype=np.float64))
    pcos = np.cos(plat)
    R2 = 2.0 * earth_radius_km
    schema = StructType(
        [
            queries.schema[query_id_col],
            StructField("neighbor_id", id_field.dataType, True),
            StructField("distance_km", DoubleType(), True),
            StructField("rank", IntegerType(), False),
        ]
    )

    # queries per block: each (queries x data) array stays near 8 MB,
    # whatever the Arrow batch size and the data side
    step = max(1, (1 << 20) // max(len(pid), 1))

    def topk(pdf):
        qlon = np.radians(pdf[lon].to_numpy(dtype=np.float64))[:, None]
        qlat = np.radians(pdf[lat].to_numpy(dtype=np.float64))[:, None]
        x = (qlon - plon[None, :]) / 2
        y = (qlat - plat[None, :]) / 2
        d = R2 * np.arcsin(
            np.sqrt(np.sin(y) ** 2 + np.sin(x) ** 2 * (pcos[None, :] * np.cos(qlat)))
        )
        qid = pdf[query_id_col].to_numpy()
        # self exclusion + null coords -> non-finite -> dropped
        d[qid[:, None] == pid[None, :]] = np.inf
        order = np.argsort(d, axis=1, kind="stable")[:, :k]
        dd = np.take_along_axis(d, order, axis=1)
        m = dd.shape[1]
        out = pd.DataFrame(
            {
                query_id_col: np.repeat(qid, m),
                "neighbor_id": pid[order].ravel(),
                "distance_km": dd.ravel(),
                "rank": np.tile(np.arange(1, m + 1, dtype=np.int32), len(pdf)),
            }
        )
        return out[np.isfinite(out["distance_km"])]

    def fn(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                yield topk(pdf.iloc[lo:lo + step])

    return queries.select(query_id_col, lon, lat).mapInPandas(fn, schema=schema)


def geodesic_knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lon: str = "lon",
    lat: str = "lat",
    id_col: str = "point_id",
    query_id_col: str = "query_id",
    initial_radius_km: float | str = 100.0,
    max_rounds: int = 8,
    earth_radius_km: float = EARTH_RADIUS_KM,
    dense_threshold: int = 1024,
) -> DataFrame:
    """(query_id, neighbor_id, distance_km, rank) for the k nearest
    data points to each query on the sphere: exact great-circle kNN,
    ties ordered by (distance_km, id), a query never its own neighbor
    (equal ids), a query with fewer than k data points on Earth ranked
    over what exists.  Null ids and null coordinates join nothing.

    Two paths, picked by the data side's size alone:

    - **dense** (at most ``dense_threshold`` data rows): one Arrow
      crossing over the queries against the data side collected to the
      driver (:func:`_dense_knn_arrow`).
    - **progressive** (above it): rounds of the chord-grid radius
      join, whose cost follows the candidates near each query instead
      of the whole data side.

    Measured on a 4-core VM (``local[4]``, 100k queries, k=5, "auto"
    radius, noop write): dense 2.3 s vs progressive 7.7 s at 300 data
    rows and 4.7 s vs 10.6 s at 1024, but 17.8 s vs 10.4 s at 4096,
    so the default gate of 1024 sits below the crossover.

    Progressive round r joins the still-unresolved queries at
    ``initial_radius_km * 2**r``.  A query resolves in the round where
    it has >= k candidates: its true k nearest all lie within the kth
    candidate's distance <= r, so the top-k within r IS the global
    top-k.  The last round (``max_rounds``, or half the circumference,
    which sees every pair) takes what the rest have.

    Each round is one eager ``localCheckpoint`` of at most k rows per
    unresolved query: its top-k candidates with their count ``__n``,
    plus, below k, one candidate-less row that carries the query into
    the next round.  The round's finished rows, the next round's
    queries and, through an ``Observation`` on that same job, whether
    any query is left all read that checkpoint, so a round pays no
    extra driver-synced count and the returned frame is a union of
    checkpointed batches: writing it runs no join and no window."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if id_col == query_id_col:
        raise ValueError("id_col and query_id_col must differ (self-exclusion)")
    if isinstance(initial_radius_km, str) and initial_radius_km != "auto":
        raise ValueError(
            f"initial_radius_km must be a number or 'auto': {initial_radius_km!r}"
        )
    queries = queries.where(F.col(query_id_col).isNotNull())
    if dense_threshold > 0:
        # one limited read is both the gate and, when the data side is
        # small, the dense path's table: it stops at dense_threshold + 1
        pois = (
            data.where(F.col(id_col).isNotNull())
            .select(id_col, lon, lat)
            .limit(dense_threshold + 1)
            .toPandas()
        )
        if len(pois) <= dense_threshold:
            return _dense_knn_arrow(
                pois, queries, k, lon, lat, data.schema[id_col], query_id_col,
                earth_radius_km,
            )
    if initial_radius_km == "auto":
        # density heuristic: n uniform points on the sphere -> the
        # expected kth-NN angular radius satisfies
        # n * (1 - cos t) / 2 ~= k, i.e. t = arccos(1 - 2k/n).  Start
        # ~1.5x past it so the typical query resolves in round ONE and
        # only sparse regions pay a second round; each extra round is a
        # full join pass, so overshooting slightly is far cheaper than
        # undershooting.  The one full count() job on the data side
        # runs only here (at scale: table statistics give this for
        # free).
        n_data = max(data.count(), 1)
        frac = min(2.0 * k / n_data, 2.0)
        t = math.acos(max(1.0 - frac, -1.0))
        initial_radius_km = max(1.5 * t * earth_radius_km, 1.0)
    no_id = F.lit(None).cast(data.schema[id_col].dataType).alias("neighbor_id")
    no_coord = F.lit(None).cast("double")
    unresolved = queries.select(
        F.col(query_id_col),
        F.col(lon).cast("double").alias("__qlon"),
        F.col(lat).cast("double").alias("__qlat"),
    )
    by_query = Window.partitionBy(query_id_col)
    batches = []
    half_circ = math.pi * earth_radius_km
    radius = float(initial_radius_km)
    for rnd in range(max_rounds):
        last = radius >= half_circ or rnd == max_rounds - 1
        pairs = haversine_radius_join(
            data,
            unresolved.withColumnRenamed("__qlon", lon).withColumnRenamed(
                "__qlat", lat
            ),
            min(radius, half_circ),
            lon=lon, lat=lat,
            keep_left=(id_col,), keep_right=(query_id_col,),
            earth_radius_km=earth_radius_km,
        ).where(F.col(id_col) != F.col(query_id_col))
        # each unresolved query also sends one row with no candidate:
        # ranked after its real candidates (null distance last), it
        # survives the top-k cut exactly when the query has < k
        # candidates, and it carries the query's coordinates onward
        rows = pairs.select(
            query_id_col, F.col(id_col).alias("neighbor_id"), "distance_km",
            no_coord.alias("__qlon"), no_coord.alias("__qlat"),
        ).unionByName(
            unresolved.select(
                query_id_col, no_id, no_coord.alias("distance_km"), "__qlon", "__qlat",
            )
        )
        left = Observation()
        top = (
            rows.withColumn(
                "rank",
                F.row_number().over(
                    by_query.orderBy(F.col("distance_km").asc_nulls_last(), "neighbor_id")
                ),
            )
            .withColumn("__n", F.count("distance_km").over(by_query))
            .where(F.col("rank") <= k)
            .observe(left, F.count_if(F.col("neighbor_id").isNull()).alias("n"))
            .localCheckpoint()
        )
        done = top.where(F.col("neighbor_id").isNotNull())
        if not last:
            done = done.where(F.col("__n") >= k)
        batches.append(done.select(query_id_col, "neighbor_id", "distance_km", "rank"))
        if last or left.get["n"] == 0:
            break
        unresolved = top.where(F.col("neighbor_id").isNull()).select(
            query_id_col, "__qlon", "__qlat"
        )
        radius *= 2.0
    return reduce(lambda a, b: a.unionByName(b), batches)
