"""Pure Catalyst column expressions for the hot-path spatial math.

Everything here compiles to JVM whole-stage-codegen — no Python UDFs —
so filters and keys push down into scans and stay off the Python worker
entirely.  Formula provenance:

- haversine: /root/reference/cpp/include/cuspatial/detail/distance/haversine.cuh:39-57
  (inputs are lon/lat DEGREES, radius default 6371.0 km)
- sinusoidal: /root/reference/cpp/include/cuspatial/detail/projection/
  sinusoidal_projection.cuh:35-61 (40000/360 km per degree)
- morton key: /root/reference/cpp/include/cuspatial/detail/utility/z_order.cuh:69-94
  re-expressed with a 256-entry byte dilation table
- spatial window: strict inequalities with bound normalization
  (/root/reference/cpp/include/cuspatial/detail/points_in_range.cuh:44-47,
  core/spatial/filtering.py:11-63)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.zorder import check_max_depth

EARTH_RADIUS_KM = 6371.0
KM_PER_DEGREE = 40000.0 / 360.0


def haversine_expr(lon1, lat1, lon2, lat2, radius: float = EARTH_RADIUS_KM) -> Column:
    """Great-circle distance in km between degree lon/lat columns."""
    ax, ay = F.radians(lon1), F.radians(lat1)
    bx, by = F.radians(lon2), F.radians(lat2)
    x = (bx - ax) / 2
    y = (by - ay) / 2
    sinysqrd = F.sin(y) * F.sin(y)
    sinxsqrd = F.sin(x) * F.sin(x)
    scale = F.cos(ay) * F.cos(by)
    return F.lit(2.0 * radius) * F.asin(F.sqrt(sinysqrd + sinxsqrd * scale))


def sinusoidal_x_expr(lon, lat, origin_lon: float, origin_lat: float) -> Column:
    """Sinusoidal projection x (km): (origin_lon - lon) scaled by
    cos(midpoint latitude)."""
    mid_lat = (F.lit(float(origin_lat)) + lat) / 2
    return (
        (F.lit(float(origin_lon)) - lon)
        * F.lit(KM_PER_DEGREE)
        * F.cos(F.radians(mid_lat))
    )


def sinusoidal_y_expr(lat, origin_lat: float) -> Column:
    return (F.lit(float(origin_lat)) - lat) * F.lit(KM_PER_DEGREE)


def spatial_window_predicate(x, y, x_min, x_max, y_min, y_max) -> Column:
    """Strict rectangular window (boundary excluded); reversed bounds
    are swapped like the reference wrapper."""
    lo_x, hi_x = min(x_min, x_max), max(x_min, x_max)
    lo_y, hi_y = min(y_min, y_max), max(y_min, y_max)
    return (x > lo_x) & (x < hi_x) & (y > lo_y) & (y < hi_y)


def sql_name(name: str) -> str:
    """A column name as SQL text that resolves like ``F.col(name)``:
    each dot-separated part backquoted, so a dot still reaches a
    nested field."""
    return ".".join(f"`{part}`" for part in name.split("."))


def _sql_double(v: float) -> str:
    """A double literal as SQL text that parses to exactly ``v``."""
    return f"{float(v)!r}D"


def _inside_aoi_sql(x: str, y: str, x_min, x_max, y_min, y_max) -> str:
    return (
        f"{x} >= {_sql_double(x_min)} AND {x} <= {_sql_double(x_max)} "
        f"AND {y} >= {_sql_double(y_min)} AND {y} <= {_sql_double(y_max)}"
    )


def inside_aoi(x: str, y: str, x_min, x_max, y_min, y_max) -> Column:
    """The inclusive AOI test of the columns named ``x`` and ``y``: the
    points ``morton_key_expr`` keys without the sentinel.  It is false
    for NaN and infinite coordinates (Spark orders NaN above +inf) and
    null, not false, for a null coordinate (unless the other one is
    outside); a filter drops both.  The tile joins filter points with
    it before keying them, so no point reaches a join with the
    sentinel key."""
    return F.expr(_inside_aoi_sql(sql_name(x), sql_name(y), x_min, x_max, y_min, y_max))


# bit i of a byte moved to bit 2i, for each byte value
_DILATE_TABLE = "array(" + ", ".join(
    f"{sum(((v >> i) & 1) << (2 * i) for i in range(8))}L" for v in range(256)
) + ")"


def _dilate2_sql(c: str) -> str:
    """SQL text that moves bit i of the 16-bit value ``c`` to bit 2i:
    one 256-entry table lookup per byte, so ``c`` appears twice.  The
    shift-and-mask dilation repeated it 16 times, and Spark's analysis
    of the key grew with it."""
    c = f"CAST({c} AS INT)"
    return (
        f"(element_at({_DILATE_TABLE}, ({c} & 255) + 1) "
        f"| shiftleft(element_at({_DILATE_TABLE}, shiftright({c}, 8) + 1), 16))"
    )


def morton_key_expr(
    x: str, y: str, x_min: float, x_max: float, y_min: float, y_max: float,
    scale: float, max_depth: int,
) -> Column:
    """Full-depth Morton key (bigint column) of the point in columns
    named ``x`` and ``y``; out-of-AOI points get the sentinel max key,
    matching detail/index/construction/phase_1.cuh:60-95, and so do
    points with a null coordinate.

    Unlike the reference kernel, in-AOI cell coordinates are clamped to
    the 2^max_depth grid: the reference's minimum-scale rule
    (range/((1<<depth)+2)) lets boundary cells overflow the grid, which
    is harmless for its BFS but would strand boundary points in tiles
    no bbox cover enumerates.  The clamp keeps every in-AOI point in a
    coverable tile.  ``max_depth`` must be in 1..16 (16 bits per
    coordinate); anything else raises ``ValueError``.

    The key is built as ONE SQL text, parsed by the JVM in one call;
    the same tree assembled from Column calls paid a Py4J round trip
    per node (about 0.1 s per key against under 1 ms, 4-core VM)."""
    if not (isinstance(x, str) and isinstance(y, str)):
        raise TypeError("morton_key_expr takes the x and y column NAMES")
    check_max_depth(max_depth)
    x, y = sql_name(x), sql_name(y)

    def cell(v: str, origin: float) -> str:
        return (
            f"least(CAST(FLOOR(({v} - {_sql_double(origin)}) / {_sql_double(scale)}) "
            f"AS BIGINT), {(1 << max_depth) - 1})"
        )

    # a null AOI test (a null coordinate) falls to ELSE: the sentinel
    inside = _inside_aoi_sql(x, y, x_min, x_max, y_min, y_max)
    return F.expr(
        f"CASE WHEN {inside} THEN "
        f"(shiftleft({_dilate2_sql(cell(y, y_min))}, 1) | {_dilate2_sql(cell(x, x_min))}) "
        f"ELSE {(1 << (2 * max_depth)) - 1} END"
    )


def tile_expr(morton_key: Column, max_depth: int, tile_level: int) -> Column:
    """Coarse tile id = top 2*tile_level bits of the full-depth Morton
    key — the H3/S2-style cell used for partitioning and the equi-join
    filter phase."""
    shift = 2 * (max_depth - tile_level)
    if shift <= 0:
        return morton_key
    return F.shiftright(morton_key, shift)


def with_hilbert_key(
    df,
    x_col: str,
    y_col: str,
    order: int,
    key_col: str = "hilbert_key",
):
    """Adds ``key_col`` = Hilbert index of integer cell coords
    (``x_col``, ``y_col``) on a 2^order-per-side grid — the S2-style
    locality-preserving alternative to the Morton key.

    Pure Catalyst: one chained projection per curve level implementing
    the rotate-and-accumulate transform of kernels/hilbert.py.  The
    per-level intermediates are referenced multiple times by the next
    level, so CollapseProject keeps the levels as separate codegen'd
    projections instead of inlining them exponentially; plan size is
    O(order).  No shuffle, no Python.
    """
    hx, hy, rx, ry = "__hx", "__hy", "__rx", "__ry"
    out = df.withColumn(hx, F.col(x_col).cast("long")) \
            .withColumn(hy, F.col(y_col).cast("long")) \
            .withColumn(key_col, F.lit(0).cast("long"))
    s = 1 << (order - 1)
    while s > 0:
        out = out.withColumn(
            rx, F.when(F.col(hx).bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ).withColumn(
            ry, F.when(F.col(hy).bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        )
        quadrant = (
            F.when((F.col(rx) == 0) & (F.col(ry) == 0), 0)
            .when((F.col(rx) == 0) & (F.col(ry) == 1), 1)
            .when((F.col(rx) == 1) & (F.col(ry) == 1), 2)
            .otherwise(3)
        )
        out = out.withColumn(key_col, F.col(key_col) + F.lit(s * s) * quadrant)
        # rotate quadrant where ry == 0 (swap, flipping when rx == 1)
        new_x = (
            F.when((F.col(ry) == 0) & (F.col(rx) == 1), F.lit(s - 1) - F.col(hy))
            .when(F.col(ry) == 0, F.col(hy))
            .otherwise(F.col(hx))
        )
        new_y = (
            F.when((F.col(ry) == 0) & (F.col(rx) == 1), F.lit(s - 1) - F.col(hx))
            .when(F.col(ry) == 0, F.col(hx))
            .otherwise(F.col(hy))
        )
        out = out.withColumn("__nx", new_x).withColumn("__ny", new_y) \
                 .withColumn(hx, F.col("__nx")).withColumn(hy, F.col("__ny"))
        s >>= 1
    return out.drop(hx, hy, rx, ry, "__nx", "__ny")


def with_s2_cell(
    df, lon_col: str, lat_col: str, level: int, out: str = "s2_cell"
):
    """Adds the S2-style cell id column for (lon, lat) degrees — the
    spherical partitioning key for globe-spanning corpora, pure
    Catalyst codegen, no Python.

    The standard S2 construction (s2geometry s2coords.h): project the
    unit-sphere point onto the enclosing cube (face 0..5 = +x +y +z
    -x -y -z), apply the quadratic uv->st area-equalizing transform
    (st = sqrt(1+3u)/2 for u >= 0, 1 - sqrt(1-3u)/2 otherwise), and
    quantize st onto the 2^level-per-side in-face grid.  The in-face
    ordering here is Morton (bit interleave, j in the odd bits) rather
    than true-S2 Hilbert — as a *partitioning / equi-join key* only
    locality matters, not curve continuity, and Morton keeps the
    expression one dilation chain (see ``with_hilbert_key`` for the
    Hilbert variant when range-scan ordering is wanted).

    Unlike the planar Morton key (``morton_key_expr``), this cell id
    has no singular tiles at the poles and no date-line split: the
    cube-face projection is what lets a geo-tagged web corpus
    partition evenly at 100 TB when crawl density spans the globe.
    The column is ``face * 4^level + morton(i, j)`` as bigint;
    ``level`` is capped at 15 so the in-face coordinates fit the
    16-bit dilation.

    Built as a chain of small projections over named intermediates
    (unit vector, face, uv, ij, dilation steps): as one nested
    expression the face CASE is re-inlined under every reference and
    the plan text grows exponentially (~300 KB at level 12); here each
    intermediate is referenced more than once so CollapseProject keeps
    the stages separate and the plan stays O(1) small.  Still zero
    shuffles, zero Python."""
    if not 0 <= level <= 15:
        raise ValueError(f"level must be in [0, 15], got {level}")
    lam, phi = F.radians(F.col(lon_col)), F.radians(F.col(lat_col))
    d = (
        df.withColumn("__sx", F.cos(phi) * F.cos(lam))
        .withColumn("__sy", F.cos(phi) * F.sin(lam))
        .withColumn("__sz", F.sin(phi))
    )
    x, y, z = F.col("__sx"), F.col("__sy"), F.col("__sz")
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)
    d = d.withColumn(
        "__sface",
        F.when((az >= ax) & (az >= ay), F.when(z > 0, 2).otherwise(5))
        .when(ay >= ax, F.when(y > 0, 1).otherwise(4))
        .otherwise(F.when(x > 0, 0).otherwise(3)),
    )
    face = F.col("__sface")
    d = d.withColumn(
        "__su",
        F.when(face == 0, y / x)
        .when(face == 1, -x / y)
        .when(face == 2, -x / z)
        .when(face == 3, z / x)
        .when(face == 4, z / y)
        .otherwise(-y / z),
    ).withColumn(
        "__sv",
        F.when(face == 0, z / x)
        .when(face == 1, z / y)
        .when(face == 2, -y / z)
        .when(face == 3, y / x)
        .when(face == 4, -x / y)
        .otherwise(-x / z),
    )

    def st(w: Column) -> Column:
        return F.when(w >= 0, F.sqrt(1.0 + 3.0 * w) * 0.5).otherwise(
            1.0 - F.sqrt(1.0 - 3.0 * w) * 0.5
        )

    n = 1 << level
    cmax = F.lit(n - 1)
    d = d.withColumn(
        "__si",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.floor(st(F.col("__su")) * float(n)).cast("bigint"), cmax),
        ),
    ).withColumn(
        "__sj",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.floor(st(F.col("__sv")) * float(n)).cast("bigint"), cmax),
        ),
    )
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        for c in ("__si", "__sj"):
            w = F.col(c)
            d = d.withColumn(c, w.bitwiseOR(F.shiftleft(w, shift)).bitwiseAND(F.lit(mask)))
    d = d.withColumn(
        out,
        face.cast("bigint") * F.lit(1 << (2 * level))
        + F.shiftleft(F.col("__sj"), 1).bitwiseOR(F.col("__si")),
    )
    return d.drop("__sx", "__sy", "__sz", "__sface", "__su", "__sv", "__si", "__sj")
