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

Reference: cuspatial has no geodesic join; this extends its
quadtree-join family (cpp/src/join/quadtree_point_in_polygon.cu) the
same way spherical_pip extends point_in_polygon.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import EARTH_RADIUS_KM, haversine_expr

import math


def _with_unit_vector(df: DataFrame, lon: str, lat: str, prefix: str) -> DataFrame:
    lam, phi = F.radians(F.col(lon)), F.radians(F.col(lat))
    return (
        df.withColumn(f"{prefix}x", F.cos(phi) * F.cos(lam))
        .withColumn(f"{prefix}y", F.cos(phi) * F.sin(lam))
        .withColumn(f"{prefix}z", F.sin(phi))
    )


def _cell(c: Column, size: float) -> Column:
    return F.floor(c / F.lit(size)).cast("long")


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

    lhs = _with_unit_vector(left.select(*lkeep, lon, lat), lon, lat, "__l")
    for ax in ("x", "y", "z"):
        lhs = lhs.withColumn(f"__lc{ax}", _cell(F.col(f"__l{ax}"), chord))

    rhs = _with_unit_vector(
        right.select(*rkeep, right_lon, right_lat), right_lon, right_lat, "__r"
    )
    # 27-neighbor fan-out on the (small) right side: a pair within the
    # chord differs by at most one cell per axis
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dz).alias("dz"))
            for dx, dy, dz in product((-1, 0, 1), repeat=3)
        ]
    )
    rhs = rhs.withColumn("__off", F.explode(offsets))
    for ax, d in (("x", "dx"), ("y", "dy"), ("z", "dz")):
        rhs = rhs.withColumn(
            f"__rc{ax}", _cell(F.col(f"__r{ax}"), chord) + F.col("__off")[d]
        )
    rhs = rhs.select(
        *[F.col(c).alias(rmap[c]) for c in rkeep],
        F.col(right_lon).alias("__rlon"), F.col(right_lat).alias("__rlat"),
        "__rcx", "__rcy", "__rcz",
    )
    if broadcast_right:
        rhs = F.broadcast(rhs)

    cond = (
        (F.col("__lcx") == F.col("__rcx"))
        & (F.col("__lcy") == F.col("__rcy"))
        & (F.col("__lcz") == F.col("__rcz"))
    )
    dist = haversine_expr(
        F.col(lon), F.col(lat), F.col("__rlon"), F.col("__rlat"), earth_radius_km
    )
    return (
        lhs.join(rhs, cond)
        .withColumn("distance_km", dist)
        .where(F.col("distance_km") <= F.lit(radius_km))
        .select(*lkeep, *[rmap[c] for c in rkeep], "distance_km")
    )


def _dense_knn(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    lon: str,
    lat: str,
    id_col: str,
    query_id_col: str,
    earth_radius_km: float,
) -> DataFrame:
    """Exact kNN for a small data side: the data layer is aggregated
    into ONE array-of-structs row, broadcast, and each query row
    sorts its (distance, id) candidates locally.  Identical output to
    the progressive rounds: same haversine expression, same
    (distance_km, id) tie ordering, same self-exclusion, same
    starved-query behavior (fewer than k neighbors -> ranks 1..m)."""
    # per-POI trig is precomputed INSIDE the aggregate (by the same
    # Spark expressions the per-candidate formula would run, so values
    # are bit-identical), and per-query trig is hoisted to row columns:
    # each of the n_data candidate evaluations then costs 2 sin + 1
    # asin instead of 4 radians + 2 sin + 2 cos + 1 asin
    pois = data.groupBy().agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("id"),
                F.radians(F.col(lon).cast("double")).alias("rlon"),
                F.radians(F.col(lat).cast("double")).alias("rlat"),
                F.cos(F.radians(F.col(lat).cast("double"))).alias("coslat"),
            )
        ).alias("__pois")
    )
    cand = F.filter(
        F.col("__pois"), lambda p: p["id"] != F.col(query_id_col)
    )

    def _dist(p):
        # identical op order to functions.expressions.haversine_expr
        # with ax/ay = POI radians, bx/by = query radians
        x = (F.col("__qrlon") - p["rlon"]) / 2
        y = (F.col("__qrlat") - p["rlat"]) / 2
        sinysqrd = F.sin(y) * F.sin(y)
        sinxsqrd = F.sin(x) * F.sin(x)
        scale = p["coslat"] * F.col("__qcoslat")
        return F.lit(2.0 * earth_radius_km) * F.asin(
            F.sqrt(sinysqrd + sinxsqrd * scale)
        )

    scored = F.transform(
        cand,
        lambda p: F.struct(
            _dist(p).alias("distance_km"),
            p["id"].alias("neighbor_id"),
        ),
    )
    # drop null distances (null coords on the data side never join in
    # the progressive path's radius filter either); struct order
    # (distance_km, neighbor_id) makes array_sort reproduce the
    # row_number orderBy("distance_km", id_col) tie-break exactly
    topk = F.slice(
        F.array_sort(F.filter(scored, lambda s: s["distance_km"].isNotNull())),
        1,
        k,
    )
    qlat = F.col(lat).cast("double")
    return (
        queries.select(
            F.col(query_id_col),
            F.radians(F.col(lon).cast("double")).alias("__qrlon"),
            F.radians(qlat).alias("__qrlat"),
            F.cos(F.radians(qlat)).alias("__qcoslat"),
        )
        .join(F.broadcast(pois))
        .select(query_id_col, F.posexplode(topk).alias("__pos", "__s"))
        .select(
            query_id_col,
            F.col("__s.neighbor_id").alias("neighbor_id"),
            F.col("__s.distance_km").alias("distance_km"),
            (F.col("__pos") + 1).alias("rank"),
        )
    )


def _dense_knn_arrow(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    lon: str,
    lat: str,
    id_col: str,
    query_id_col: str,
    earth_radius_km: float,
) -> DataFrame:
    """Vectorized NumPy variant of :func:`_dense_knn` — the data side
    (already counted <= dense_threshold) is collected to the driver
    and each query batch computes all candidate haversines, the
    stable (distance, id) ordering, and the top-k slice in one Arrow
    crossing.  ~2x over the JVM expression form, whose per-candidate
    higher-order lambda evaluation is interpreted.

    Caveat (why this is opt-in): distances come from NumPy's libm
    rather than the JVM's, so raw doubles can differ from _dense_knn
    in the last ulp (rank order and 4-decimal-rounded distances were
    verified identical across every test SF).  Use the default 'jvm'
    backend when bit-parity with the progressive path matters."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    P = (
        data.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(lon).cast("double").alias(lon),
            F.col(lat).cast("double").alias(lat),
        )
        .toPandas()
        .sort_values(id_col, kind="stable")
    )
    pid = P[id_col].to_numpy()
    plon = np.radians(P[lon].to_numpy())
    plat = np.radians(P[lat].to_numpy())
    pcos = np.cos(plat)
    R2 = 2.0 * earth_radius_km
    qid_field = queries.schema[query_id_col]
    schema = StructType(
        [
            qid_field,
            StructField("neighbor_id", LongType(), True),
            StructField("distance_km", DoubleType(), True),
            StructField("rank", IntegerType(), False),
        ]
    )

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            qlon = np.radians(pdf[lon].to_numpy(dtype=np.float64))[:, None]
            qlat = np.radians(pdf[lat].to_numpy(dtype=np.float64))[:, None]
            x = (qlon - plon[None, :]) / 2
            y = (qlat - plat[None, :]) / 2
            d = R2 * np.arcsin(
                np.sqrt(
                    np.sin(y) ** 2
                    + np.sin(x) ** 2 * (pcos[None, :] * np.cos(qlat))
                )
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
                    "rank": np.tile(np.arange(1, m + 1, dtype=np.int32), n),
                }
            )
            yield out[np.isfinite(out["distance_km"])]

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
    dense_backend: str = "jvm",
) -> DataFrame:
    """(query_id, neighbor_id, distance_km, rank) for the k nearest
    data points to each query on the sphere — exact great-circle kNN
    via progressive radius doubling over the chord-grid join.

    Round r runs haversine_radius_join at ``initial_radius_km * 2**r``
    for the still-unresolved queries only.  A query resolves in the
    round where it has >= k candidates: its true k nearest are all
    within the kth candidate's distance <= r, so the top-k among
    within-r candidates IS the global top-k (same invariant as the
    planar progressive widening in plans/tile_join.py).  The final
    round at half the sphere's circumference sees every pair, so
    starved queries (fewer than k data points on Earth) resolve with
    what exists.

    Scale shape: the corpus side streams through each round's single
    equi-join (unresolved queries broadcast); per-query candidate
    counts — one row per query — are the only driver-side state.
    Rounds are bounded by max_rounds and by the half-circumference
    cap, and each round resolves the dense queries, so sparse-region
    queries alone pay the later, wider rounds."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if id_col == query_id_col:
        raise ValueError("id_col and query_id_col must differ (self-exclusion)")
    if isinstance(initial_radius_km, str) and initial_radius_km != "auto":
        raise ValueError(
            f"initial_radius_km must be a number or 'auto': {initial_radius_km!r}"
        )
    # the dense/progressive choice needs only "more than the threshold
    # or not": a limited count stops reading the data side there
    if dense_threshold > 0 and data.limit(dense_threshold + 1).count() <= dense_threshold:
        # small data side -> dense path: ZERO shuffles, no rounds.  The
        # whole data layer collapses to one collect_list row that
        # broadcasts into a nested-loop join with exactly one build row,
        # and each query computes its top-k row-locally (array_sort over
        # (distance, id) structs == the progressive path's
        # row_number ordering).  The progressive path instead pays, per
        # round, a 27x fan-out broadcast, a full candidate-pair shuffle
        # through two window functions, a localCheckpoint and a
        # driver-synced count — all to produce the same exact kNN.
        if dense_backend == "arrow":
            return _dense_knn_arrow(
                data, queries, k, lon, lat, id_col, query_id_col, earth_radius_km,
            )
        return _dense_knn(
            data, queries, k, lon, lat, id_col, query_id_col, earth_radius_km,
        )
    if initial_radius_km == "auto":
        # density heuristic: n uniform points on the sphere -> the
        # expected kth-NN angular radius satisfies
        # n * (1 - cos t) / 2 ~= k, i.e. t = arccos(1 - 2k/n).  Start
        # ~1.5x past it so the typical query resolves in round ONE and
        # only sparse regions pay a second round; each extra round is a
        # full driver-synced join pass, so overshooting slightly is far
        # cheaper than undershooting.  The one full count() job on the
        # data side runs only here (at scale: table statistics give
        # this for free).
        n_data = max(data.count(), 1)
        frac = min(2.0 * k / n_data, 2.0)
        t = math.acos(max(1.0 - frac, -1.0))
        initial_radius_km = max(1.5 * t * earth_radius_km, 1.0)
    qcols = queries.select(
        F.col(query_id_col), F.col(lon).alias("__qlon"), F.col(lat).alias("__qlat")
    )
    unresolved = qcols
    out = None
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
        w = Window.partitionBy(query_id_col).orderBy("distance_km", id_col)
        ranked = (
            pairs.withColumn("rank", F.row_number().over(w))
            .withColumn(
                "__n", F.count("*").over(Window.partitionBy(query_id_col))
            )
        )
        done = ranked.where((F.col("__n") >= k) | F.lit(last)).where(
            F.col("rank") <= k
        )
        batch = done.select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            "distance_km",
            "rank",
        )
        out = batch if out is None else out.unionByName(batch)
        if last:
            break
        resolved_ids = ranked.where(F.col("__n") >= k).select(query_id_col)
        unresolved = unresolved.join(
            resolved_ids.distinct(), query_id_col, "left_anti"
        ).localCheckpoint()
        if unresolved.limit(1).count() == 0:
            break
        radius *= 2.0
    return out
