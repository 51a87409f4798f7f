"""Plan-shape regression tests — pin the physical-plan invariants the
100-TB design depends on, so a future edit that silently introduces a
shuffle, a Python stage, or a non-broadcast join in a hot path fails
CI instead of failing at scale.

These assert on `executedPlan` strings: crude but effective — the
invariants are categorical (operator present/absent), not cosmetic.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cuspatial_spark.geometry import LinestringArrays, PolygonArrays


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _tree(node):
    """A physical plan node as ``(name, output column names, children)``,
    with the adaptive wrapper replaced by the plan it holds."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    out, kids = node.output(), node.children()
    return (
        node.nodeName(),
        [out.apply(i).name() for i in range(out.size())],
        [_tree(kids.apply(i)) for i in range(kids.size())],
    )


def _nodes(tree):
    yield tree
    for child in tree[2]:
        yield from _nodes(child)


def _is_python(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


@pytest.fixture()
def pts(spark):
    rng = np.random.default_rng(7)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "page_id": np.arange(20000),
                "x": rng.uniform(0, 8, 20000),
                "y": rng.uniform(0, 8, 20000),
            }
        )
    )


@pytest.fixture()
def polys():
    from tests.golden_fixtures import (
        SMALL_POLY_OFFSETS,
        SMALL_POLY_XS,
        SMALL_POLY_YS,
        SMALL_RING_OFFSETS,
    )

    from cuspatial_spark.geometry import PolygonArrays

    return PolygonArrays(
        SMALL_POLY_OFFSETS, SMALL_RING_OFFSETS, SMALL_POLY_XS, SMALL_POLY_YS
    )


class TestFlagshipJoinPlan:
    def test_jvm_refine_no_point_shuffle_no_python(self, spark, pts, polys):
        """The flagship broadcast tile join: scan -> codegen project ->
        BroadcastHashJoin -> JVM refine.  NO Exchange of the point
        side, NO Python stage anywhere — the broadcast tables are local
        relations, not scans of a Python RDD."""
        from cuspatial_spark.plans import point_in_polygon_join

        out = point_in_polygon_join(
            pts, polys, x_min=0, x_max=8, y_min=0, y_max=8,
            max_depth=12, tile_level=4,
        )
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "MapInPandas" not in plan and "Python" not in plan
        assert "ExistingRDD" not in plan

    def test_nearest_linestring_single_arrow_crossing(self, spark):
        """The nearest-linestring join is scan -> Filter -> exactly one
        MapInPandas, whatever the radius: no Exchange, no Window, no
        join, no scan of a Python RDD."""
        from cuspatial_spark.plans import point_to_nearest_linestring_join

        # a generated scan: the AOI filter is not folded into local data
        pts = spark.range(20000).select(
            F.col("id").alias("page_id"), (F.rand(1) * 8).alias("x"), (F.rand(2) * 8).alias("y")
        )
        lines = LinestringArrays([0, 2, 4], [1.0, 2.0, 5.0, 6.0], [1.0, 2.0, 5.0, 6.0])
        for radius in (0.1, 100.0):  # below one tile / AOI-wide
            plan = _plan(point_to_nearest_linestring_join(
                pts, lines, radius, x_min=0, x_max=8, y_min=0, y_max=8,
                max_depth=12, tile_level=4, keep_columns=["page_id"],
            ))
            assert plan.count("MapInPandas") == 1, plan
            assert "Filter" in plan
            for op in ("Exchange", "Window", "Join", "ExistingRDD", "Union"):
                assert op not in plan, (op, plan)

    def test_broadcast_tables_are_local_relations_without_arrow_conf(
        self, spark, pts, polys
    ):
        """The broadcast table is built from Arrow whatever the
        session's Arrow setting: it plans as a LocalRelation, and the
        join scans no Python RDD."""
        from cuspatial_spark.plans import point_in_polygon_join

        key = "spark.sql.execution.arrow.pyspark.enabled"
        before = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            out = point_in_polygon_join(
                pts, polys, x_min=0, x_max=8, y_min=0, y_max=8,
                max_depth=12, tile_level=4,
            )
            optimized = out._jdf.queryExecution().optimizedPlan().toString()
            assert "LocalRelation [tile#" in optimized, optimized
            assert "LogicalRDD" not in optimized
            plan = _plan(out)
            assert "ExistingRDD" not in plan and "LocalTableScan" in plan
        finally:
            spark.conf.set(key, before)

    @pytest.mark.parametrize("salt", [0, 4])
    def test_shuffle_join_python_only_over_polygon_rows(self, spark, pts, polys, salt):
        """The shuffle join's one Python node is the MapInArrow that
        turns the polygon rows into (tile, polygon_id, __segs); the
        point side and everything above the join (the JVM ray cast)
        stay in the JVM.  The exchange type is not pinned: on inputs
        this small Catalyst and AQE may broadcast either side."""
        from cuspatial_spark.plans import point_in_polygon_join_shuffle

        poly_df = spark.createDataFrame(polys.to_arrow())
        out = point_in_polygon_join_shuffle(
            pts, poly_df, x_min=0, x_max=8, y_min=0, y_max=8,
            max_depth=12, tile_level=4, salt=salt,
        )
        tree = _tree(out._jdf.queryExecution().executedPlan())
        python = [n for n in _nodes(tree) if _is_python(n[0])]
        assert [n[0] for n in python] == ["MapInArrow"], python
        joins = [n for n in _nodes(tree) if "Join" in n[0]]
        assert len(joins) == 1 and any(n is python[0] for n in _nodes(joins[0]))
        below = list(_nodes(python[0]))[1:]
        assert not any("Join" in n[0] for n in below)
        assert [n[1] for n in below if not n[2]] == [poly_df.columns]

    def test_kernel_refine_single_arrow_stage(self, spark, pts, polys):
        """The exact-edge path is the default plan plus one filter: the
        broadcast side is the default's (tile, polygon_id, __inside,
        __edge, __segs) table, and exactly one Arrow (MapInPandas)
        stage sits above the join and its JVM ray cast; no second
        (tile, __poly_idx) cover, still no point shuffle."""
        from cuspatial_spark.plans import point_in_polygon_join

        out = point_in_polygon_join(
            pts, polys, x_min=0, x_max=8, y_min=0, y_max=8,
            max_depth=12, tile_level=4, edge_exact=True,
        )
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation [tile#" in optimized and "__inside" in optimized, optimized
        plan = _plan(out)
        assert plan.count("MapInPandas") == 1
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "__poly_idx" not in plan and "__poly_idx" not in optimized
        lines = plan.splitlines()
        top = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
        below = "\n".join(lines[top + 1:])
        assert "BroadcastHashJoin" in below and "aggregate(" in below, plan

    def test_assign_tiles_pure_codegen(self, spark, pts):
        """Morton/tile keys are Catalyst bit expressions: a single
        Project over the source — no shuffle, no Python, no join."""
        from cuspatial_spark.plans import assign_tiles

        out = assign_tiles(pts, "x", "y", 0, 8, 0, 8,
                           scale=8 / (1 << 12), max_depth=12, tile_level=4)
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan
        assert "Join" not in plan


class TestPipelineOpPlans:
    def test_spatial_window_is_raw_filter(self, spark, pts):
        """points_in_spatial_window must stay a bare Catalyst filter
        (pushdown-compatible) — no shuffle, no Python."""
        from cuspatial_spark.operators import points_in_spatial_window

        out = points_in_spatial_window(pts, 1.0, 7.0, 1.0, 7.0)
        plan = _plan(out)
        assert "Exchange" not in plan and "Python" not in plan

    def test_text_analysis_zero_shuffle(self, spark):
        """language_id / quality / token_count / fingerprint are one
        codegen scan — zero shuffles, zero Python."""
        from cuspatial_spark.textops.analysis import (
            document_fingerprint,
            language_id,
            quality_score,
            token_count,
        )

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["the a of", "le la et"]})
        )
        for fn in (language_id, quality_score, token_count, document_fingerprint):
            plan = _plan(fn(docs))
            assert "Exchange" not in plan, fn.__name__
            assert "Python" not in plan and "MapInPandas" not in plan, fn.__name__

    def test_minhash_zero_shuffle_when_prepartitioned(self, spark):
        """MinHash signatures: the r6 explode + codegen-md5 + groupBy
        shape reuses an id-hash partitioning (no Exchange beyond the
        caller's own repartition); unpartitioned input pays exactly
        one narrow (id, hash) exchange.  No Python either way."""
        from cuspatial_spark.textops.dedup import minhash_signatures

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d e f", "b c d e f g"]})
        )
        plan = _plan(minhash_signatures(docs.repartition(4, "doc_id")))
        # the only exchange is the caller's explicit repartition — the
        # groupBy itself adds none (no ENSURE_REQUIREMENTS exchange)
        assert plan.count("Exchange") == 1
        assert "ENSURE_REQUIREMENTS" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan
        plan2 = _plan(minhash_signatures(docs))
        assert plan2.count("Exchange") == 1
        assert "Python" not in plan2 and "MapInPandas" not in plan2

    def test_ivf_topk_single_required_shuffle(self, spark):
        """IVF ANN: broadcast bucket join + WindowGroupLimit pre-prune;
        the only hash shuffle is the per-query window."""
        from cuspatial_spark.similarity.ann import ivf_topk

        rng = np.random.default_rng(3)
        emb = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": np.arange(50),
                    "embedding": [rng.normal(size=8).tolist() for _ in range(50)],
                }
            )
        )
        cts = rng.normal(size=(4, 8))
        out = ivf_topk(emb, emb.where(F.col("vec_id") < 3), cts, k=3, nprobe=2)
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
        assert "WindowGroupLimit" in plan
        # exactly one hash-partition exchange: the per-query window
        assert plan.count("Exchange hashpartitioning") == 1

    def test_asof_join_single_key_shuffle_no_python(self, spark):
        """As-of join: the union-and-carry plan pays exactly one
        hash-partition exchange (the key window) — no range-join
        cartesian/nested-loop, no Python stage."""
        from cuspatial_spark.operators import asof_join

        l = spark.createDataFrame(
            pd.DataFrame({"k": [1, 2], "t": [5.0, 6.0], "ev": ["a", "b"]})
        )
        r = spark.createDataFrame(
            pd.DataFrame({"k": [1, 2], "t": [4.0, 9.0], "v": [1.0, 2.0]})
        )
        plan = _plan(asof_join(l, r, on="k", left_time="t", right_time="t"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_decontam_broadcast_semi_join_no_corpus_shuffle(self, spark):
        """Decontamination: the corpus side reaches the broadcast
        semi-join without an Exchange; the only hash shuffles are the
        hit-count groupBy and the totals join."""
        from cuspatial_spark.textops.decontam import decontaminate

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d", "c d e f"]})
        )
        ev = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": ["c d e"]}))
        plan = _plan(decontaminate(docs, ev, n=2))
        assert "BroadcastHashJoin" in plan
        assert "Python" not in plan and "MapInPandas" not in plan
        assert "CartesianProduct" not in plan


def _band_table_loop(polys, x_min, y_min, scale, max_depth, tile_level):
    """The polygon table by plain loops, one cover row at a time: for
    each tile a polygon's bbox covers, the ring segments (closed rings,
    zero-length segments dropped) whose y-range [min, max) meets the
    tile row's band, i.e. its grid cells widened by one cell, open
    below the bottom row and above the top row (NaN is ordered above
    +inf, as in Spark), and the sub-cell masks of ``_mask_loop``.  A
    row with no band segment, or with no inside and no edge sub-cell,
    is left out; a row with no edge sub-cell has an empty list."""
    from cuspatial_spark.kernels.zorder import z_order

    n, m = 1 << tile_level, 1 << (max_depth - tile_level)
    tile_size = scale * m
    po, ro = polys.part_offsets, polys.ring_offsets
    px, py = polys.x, polys.y
    up = lambda v: np.inf if np.isnan(v) else v
    rows = []
    for p in range(len(polys)):
        v0, v1 = int(ro[po[p]]), int(ro[po[p + 1]])
        if v0 == v1:
            continue
        box = [min(px[v0:v1]), min(py[v0:v1]), max(px[v0:v1]), max(py[v0:v1])]
        if not all(np.isfinite(box)):
            continue
        cells = [min(max(int(np.floor((v - o) / tile_size)), 0), n - 1)
                 for v, o in zip(box, [x_min, y_min, x_min, y_min])]
        segs = []
        for r in range(po[p], po[p + 1]):
            s, e = int(ro[r]), int(ro[r + 1])
            for i in range(s, e):
                prev = e - 1 if i == s else i - 1
                if px[i] != px[prev] or py[i] != py[prev]:
                    segs.append((float(px[i]), float(py[i]), float(px[prev]), float(py[prev])))
        for cy in range(cells[1], cells[3] + 1):
            lo = -np.inf if cy == 0 else y_min + (cy * m - 1) * scale
            hi = np.inf if cy == n - 1 else y_min + ((cy + 1) * m + 1) * scale
            band = [
                sg for sg in segs
                if min(up(sg[1]), up(sg[3])) < max(up(sg[1]), up(sg[3]))
                and min(up(sg[1]), up(sg[3])) <= hi and max(up(sg[1]), up(sg[3])) > lo
            ]
            for cx in range(cells[0], cells[2] + 1):
                inside, edge = _mask_loop(segs, cx, cy, x_min, y_min, scale, max_depth,
                                          tile_level)
                if band and (inside or edge):
                    tile = int(z_order(np.array([cx], np.uint16), np.array([cy], np.uint16))[0])
                    rows.append((tile, int(polys.ids[p]), inside, edge, band if edge else []))
    return sorted(rows)


def _mask_loop(segs, cx, cy, x_min, y_min, scale, max_depth, tile_level):
    """``(inside, edge)`` masks of tile (cx, cy) for a polygon's
    segments, one sub-cell and one segment at a time, as signed 64-bit
    ints.  A sub-cell is edge when a segment meets its rectangle
    widened by one grid cell (open at the grid's ends), tested on the
    segment's part over the rectangle's x-range with the builder's
    ``_MASK_EPS`` slack, or when the polygon has a non-finite or too
    large coordinate; inside when not edge and the ray cast at its
    centre, over every segment, has odd parity."""
    from cuspatial_spark.kernels.zorder import z_order
    from cuspatial_spark.plans.tile_join import _MASK_EPS

    k = min(3, max_depth - tile_level)
    side, cells = 1 << k, 1 << (max_depth - tile_level - k)
    last = (side << tile_level) - 1
    coords = [v for sg in segs for v in sg]
    end = (1 << max_depth) * scale
    mag = max([abs(x_min), abs(y_min), abs(x_min + end), abs(y_min + end)]
              + [abs(v) for v in coords])
    safe = all(np.isfinite(coords)) and mag * _MASK_EPS < scale

    def rect(g, origin):
        lo = -np.inf if g == 0 else origin + (g * cells - 1) * scale
        hi = np.inf if g == last else origin + ((g + 1) * cells + 1) * scale
        return lo, hi

    def meets(sg, xlo, xhi, ylo, yhi):
        ax, ay, bx, by = sg
        ex0, ex1, ey0, ey1 = min(ax, bx), max(ax, bx), min(ay, by), max(ay, by)
        if ex1 < xlo or ex0 > xhi:
            return False
        if ax == bx:
            lo, hi = ey0, ey1
        else:
            ya = ay + (max(xlo, ex0) - ax) / (bx - ax) * (by - ay)
            yb = ay + (min(xhi, ex1) - ax) / (bx - ax) * (by - ay)
            tol = _MASK_EPS * max(abs(ax), abs(ay), abs(bx), abs(by))
            lo, hi = max(min(ya, yb) - tol, ey0), min(max(ya, yb) + tol, ey1)
        return lo <= yhi and hi >= ylo

    inside = edge = 0
    for sy in range(side):
        for sx in range(side):
            gx, gy = cx * side + sx, cy * side + sy
            bit = 1 << int(z_order(np.array([sx], np.uint16), np.array([sy], np.uint16))[0])
            if not safe or any(meets(sg, *rect(gx, x_min), *rect(gy, y_min)) for sg in segs):
                edge |= bit
                continue
            x = x_min + (gx + 0.5) * cells * scale
            y = y_min + (gy + 0.5) * cells * scale
            crossings = sum(
                ((ay > y) != (by > y)) and (((x - ax) * (by - ay) < (bx - ax) * (y - ay))
                                            != (ay > y))
                for ax, ay, bx, by in segs
            )
            inside |= bit * (crossings % 2)
    signed = lambda v: v - (1 << 64) if v >= 1 << 63 else v
    return signed(inside), signed(edge)


def _band_table_rows(polys, *grid):
    from cuspatial_spark.plans.tile_join import _polygon_tiles

    table = _polygon_tiles(polys, *grid).to_pylist()
    return sorted(
        (r["tile"], r["polygon_id"], r["__inside"], r["__edge"],
         [tuple(s.values()) for s in r["__segs"]])
        for r in table
    )


class TestSegmentTableVectorization:
    """The NumPy/Arrow-built polygon table must emit exactly the rows of
    a per-cover-row Python loop (VERDICT r5 item 7 for the segment
    lists; the band clip and the sub-cell masks on top of them): the
    edge rows' lists are the loop's band lists, and the masks are a
    per-sub-cell brute force."""

    def test_polygon_segments_match_loop(self, spark):
        from cuspatial_spark.geometry import PolygonArrays

        # a triangle with an explicit ring-closing dup vertex
        # (degenerate segment must be dropped), a square with a
        # horizontal edge on a band boundary and a 40-gon spanning
        # every tile row, past the AOI
        ang = np.linspace(0, 2 * np.pi, 40, endpoint=False)
        polys = PolygonArrays(
            [0, 1, 2, 3],
            [0, 4, 8, 48],
            np.r_[[0.0, 2.0, 1.0, 0.0, 5.0, 7.0, 7.0, 5.0], 4 + 5 * np.cos(ang)],
            np.r_[[0.0, 0.0, 2.0, 0.0, 5.0, 5.0, 7.0, 7.0], 4 + 5 * np.sin(ang)],
        )
        # 8 x 8, 4 x 4 and 1 x 1 sub-cells per tile
        for grid in [(0.0, 0.0, 8 / 258, 8, 3), (0.0, 0.0, 8 / 66, 6, 4),
                     (0.0, 0.0, 8 / 10, 3, 3)]:
            got = _band_table_rows(polys, *grid)
            assert got == _band_table_loop(polys, *grid)
            assert len({r[1] for r in got}) == 3
            assert min(len(r[4]) for r in got if r[1] == 2 and r[3]) < 40  # clipped
            if grid[3] > grid[4]:
                assert any(r[2] for r in got) and any(not r[3] for r in got)

    @pytest.mark.parametrize("polys", [
        # a ring of only duplicate vertices has no segment at all
        pytest.param(PolygonArrays([0, 1, 2], [0, 3, 7],
                                   [1.0, 1.0, 1.0, 0.0, 2.0, 2.0, 0.0],
                                   [1.0, 1.0, 1.0, 0.0, 0.0, 2.0, 2.0]),
                     id="duplicate-vertex-ring"),
        pytest.param(PolygonArrays([0, 2], [0, 5, 5],
                                   [0.0, 4.0, 4.0, 0.0, 0.0], [0.0, 0.0, 4.0, 4.0, 0.0],
                                   ids=[7]),
                     id="trailing-empty-ring"),
        pytest.param(PolygonArrays([0], [0], [], []), id="empty-layer"),
        # rounding at 1e15 dwarfs a grid cell: every sub-cell is edge
        pytest.param(PolygonArrays([0, 1], [0, 3], [1.0, 1e15, 1.0], [1.0, 2.0, 3.0]),
                     id="vertex-at-1e15"),
    ])
    def test_degenerate_polygon_segments_match_loop(self, spark, polys):
        grid = (0.0, 0.0, 8 / 258, 8, 3)
        assert _band_table_rows(polys, *grid) == _band_table_loop(polys, *grid)
