"""Tests for the training-data pipeline layer: dedup, similarity,
text analysis, multimodal plumbing, streaming, checkpoint/resume."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",  # exact dup of 0
                "the quick brown fox jumps over a lazy dog",  # near dup
                "el perro de la casa es muy grande y la gata",
                "der hund und die katze sind in der wohnung",
                "completely different content about spark engines",
            ],
        }
    )
    return spark.createDataFrame(pdf).cache()


class TestDedup:
    def test_exact_duplicates(self, spark, docs):
        from cuspatial_spark.textops import exact_duplicates

        got = exact_duplicates(docs).orderBy("doc_id").toPandas()
        assert list(got["canonical_id"]) == [0, 0, 2, 3, 4, 5]

    def test_minhash_identical_docs_same_signature(self, spark, docs):
        from cuspatial_spark.textops import minhash_signatures

        sig = minhash_signatures(docs, num_hashes=4).orderBy("doc_id").toPandas()
        assert (sig.iloc[0, 1:] == sig.iloc[1, 1:]).all()
        assert not (sig.iloc[0, 1:] == sig.iloc[5, 1:]).all()

    def test_lsh_finds_near_dups(self, spark, docs):
        from cuspatial_spark.textops import lsh_candidate_pairs

        pairs = lsh_candidate_pairs(docs, num_hashes=4, band_size=2).toPandas()
        got = set(zip(pairs["id_a"], pairs["id_b"]))
        assert (0, 1) in got  # exact dups always collide
        assert (0, 2) in got or (1, 2) in got  # near dup should band-collide
        assert (0, 5) not in got

    def test_ngram_jaccard(self, spark, docs):
        from cuspatial_spark.textops import ngram_jaccard_pairs

        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": [0, 0], "id_b": [1, 5]})
        )
        got = ngram_jaccard_pairs(docs, pairs).orderBy("id_b").toPandas()
        assert got["jaccard"].iloc[0] == 1.0  # identical text
        assert got["jaccard"].iloc[1] < 0.1

    def test_lsh_canonical_mode_bounds_hot_buckets(self, spark):
        """A boilerplate cluster of m near-identical docs must emit
        O(m) pairs in canonical mode (vs m^2 allpairs), with the same
        connected components."""
        from cuspatial_spark.textops import lsh_candidate_pairs

        m = 200
        pdf = pd.DataFrame(
            {
                "doc_id": range(m + 2),
                "text": ["identical boilerplate page content here"] * m
                + ["totally unrelated document about engines", "another singleton"],
            }
        )
        df = spark.createDataFrame(pdf)
        canon = lsh_candidate_pairs(
            df, num_hashes=4, band_size=2, mode="canonical"
        ).toPandas()
        # star per bucket: every cluster member pairs only with doc 0
        assert len(canon) == m - 1
        assert set(canon["id_a"]) == {0}
        assert set(canon["id_b"]) == set(range(1, m))

    def test_simhash_hamming(self, spark, docs):
        from cuspatial_spark.textops import simhash

        got = simhash(docs).orderBy("doc_id").toPandas()
        h = got["simhash"].to_numpy(dtype=np.int64)
        assert h[0] == h[1]  # identical docs
        d_near = bin(int(h[0]) ^ int(h[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
        d_far = bin(int(h[0]) ^ int(h[5]) & 0xFFFFFFFFFFFFFFFF).count("1")
        assert d_near < d_far


class TestSimilarity:
    def test_brute_force_topk_matches_numpy(self, spark):
        from cuspatial_spark.similarity import brute_force_topk

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(50, 16)).astype(np.float32)
        pdf = pd.DataFrame(
            {"vec_id": range(50), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        got = (
            brute_force_topk(df, df.where(F.col("vec_id") < 3), k=4)
            .orderBy("query_id", "rank")
            .toPandas()
        )
        # numpy oracle
        v = vecs.astype(np.float64)
        sims = (v @ v.T) / (
            np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
        )
        for q in range(3):
            s = sims[q].copy()
            s[q] = -np.inf
            top = np.argsort(-s, kind="stable")[:4]
            got_q = got[got["query_id"] == q]["neighbor_id"].to_numpy()
            np.testing.assert_array_equal(got_q, top)

    def test_cosine_near_dup_brute_and_ivf(self, spark):
        from cuspatial_spark.similarity import (
            cosine_near_dup_pairs,
            train_centroids,
        )

        rng = np.random.default_rng(7)
        base = rng.normal(size=(30, 16)).astype(np.float32)
        # 10 engineered near-dups: tiny perturbations of the first 10
        dups = base[:10] + rng.normal(size=(10, 16)).astype(np.float32) * 0.01
        vecs = np.concatenate([base, dups])
        pdf = pd.DataFrame(
            {"vec_id": range(40), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        brute = cosine_near_dup_pairs(df, threshold=0.99).toPandas()
        want = {(i, 30 + i) for i in range(10)}
        assert set(zip(brute.id_a, brute.id_b)) == want
        # IVF-bucketed path finds the same pairs (near-dups share buckets)
        cts = train_centroids(df, 8, sample_rows=40)
        ivf = cosine_near_dup_pairs(df, threshold=0.99, centroids=cts, nprobe=2).toPandas()
        got = set(zip(ivf.id_a, ivf.id_b))
        assert got <= want and len(got) >= 9  # recall >= 0.9, no false pairs

    def test_ivf_topk_recall(self, spark):
        from cuspatial_spark.similarity import brute_force_topk, ivf_topk

        rng = np.random.default_rng(4)
        # clustered vectors so IVF buckets are meaningful
        centers = rng.normal(size=(4, 16)) * 5
        vecs = np.concatenate(
            [c + rng.normal(size=(25, 16)) * 0.5 for c in centers]
        ).astype(np.float32)
        pdf = pd.DataFrame(
            {"vec_id": range(100), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        q = df.where(F.col("vec_id") < 5)
        exact = brute_force_topk(df, q, k=3).toPandas()
        approx = ivf_topk(df, q, centroids=centers, k=3, nprobe=2).toPandas()
        e = set(zip(exact["query_id"], exact["neighbor_id"]))
        a = set(zip(approx["query_id"], approx["neighbor_id"]))
        recall = len(e & a) / len(e)
        assert recall >= 0.8


class TestAnalysis:
    def test_language_id(self, spark, docs):
        from cuspatial_spark.textops import language_id

        got = language_id(docs).orderBy("doc_id").toPandas()
        assert got["lang_pred"].iloc[0] == "en"
        assert got["lang_pred"].iloc[3] == "es"
        assert got["lang_pred"].iloc[4] == "de"

    def test_token_count(self, spark, docs):
        from cuspatial_spark.textops import token_count

        got = token_count(docs).orderBy("doc_id").toPandas()
        assert got["n_tokens"].iloc[0] == 9

    def test_fingerprint_robust_to_identity(self, spark, docs):
        from cuspatial_spark.textops import document_fingerprint

        got = document_fingerprint(docs).orderBy("doc_id").toPandas()
        assert got["fingerprint"].iloc[0] == hashlib.md5(
            b"the quick brown fox jumps over the lazy dog"
        ).hexdigest()
        assert got["fingerprint"].iloc[0] == got["fingerprint"].iloc[1]


class TestMultimodal:
    def test_metadata_and_decode(self, spark):
        from cuspatial_spark.multimodal import binary_metadata, decode_features

        pdf = pd.DataFrame(
            {
                "id": [0, 1],
                "payload": [b"\x89PNG\r\n fake image bytes", b"<html><body>x</body></html>"],
            }
        )
        df = spark.createDataFrame(pdf)
        meta = binary_metadata(df).orderBy("id").toPandas()
        assert list(meta["payload_format"]) == ["png", "html"]
        feats = decode_features(df).toPandas()
        assert len(feats) == 2
        assert (feats["n_bytes"] == meta["payload_bytes"]).all()

    def test_decode_stub_raises_on_empty(self):
        from cuspatial_spark.multimodal import _decode_stub

        with pytest.raises(ValueError):
            _decode_stub(b"")


def _pip_polygon_df(spark, polys):
    """A PolygonArrays layer as the shuffle join's per-feature rows
    (polygon_id, polygon-local ring_offsets, interleaved xy)."""
    return spark.createDataFrame(polys.to_arrow())


def _pip_all_paths(spark, pts, polys, keep, **kw):
    """Collected rows and column order of every point-in-polygon join
    path: broadcast JVM refine, broadcast exact kernel, and the shuffle
    join unsalted, fully salted and salted on hot tiles only."""
    from cuspatial_spark.plans import (
        point_in_polygon_join,
        point_in_polygon_join_shuffle,
        tiles_covering_bboxes,
    )

    poly_df = _pip_polygon_df(spark, polys)
    scale = max(kw["x_max"] - kw["x_min"], kw["y_max"] - kw["y_min"]) / (
        (1 << kw["max_depth"]) + 2
    )
    _, hot = tiles_covering_bboxes(
        *(b[:1] for b in polys.bounding_boxes()),
        kw["x_min"], kw["y_min"], scale, kw["max_depth"], kw["tile_level"],
    )
    variants = {
        "broadcast": point_in_polygon_join(pts, polys, keep_columns=keep, **kw),
        "broadcast edge_exact": point_in_polygon_join(
            pts, polys, keep_columns=keep, edge_exact=True, **kw
        ),
        "shuffle": point_in_polygon_join_shuffle(pts, poly_df, keep_columns=keep, **kw),
        "shuffle salt=4": point_in_polygon_join_shuffle(
            pts, poly_df, keep_columns=keep, salt=4, **kw
        ),
        "shuffle salt=4 hot_tiles": point_in_polygon_join_shuffle(
            pts, poly_df, keep_columns=keep, salt=4, hot_tiles=hot.tolist(), **kw
        ),
    }
    return {
        name: (df.columns, sorted(tuple(r) for r in df.collect()))
        for name, df in variants.items()
    }


def _assert_paths_equal(results):
    (ref_name, ref), *rest = results.items()
    for name, got in rest:
        assert got[0] == ref[0], f"{name} columns {got[0]} != {ref_name} {ref[0]}"
        assert got[1] == ref[1], f"{name} rows differ from {ref_name}"


@st.composite
def _pip_case(draw):
    """Polygons with vertices at sorted angles around a centre, some
    with a hole, the last one ending in an empty ring; points with two payload columns, none within 1e-6 of
    any polygon edge (on-edge membership is where the two refines are
    allowed to differ)."""
    from cuspatial_spark.geometry import PolygonArrays

    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n_polys = draw(st.integers(1, 5))
    ring_offsets, part_offsets, xs, ys = [0], [0], [], []
    for p in range(n_polys):
        cx, cy = rng.uniform(1.5, 6.5, 2)
        rings = [rng.uniform(1.0, 1.5, draw(st.integers(3, 7)))]
        if draw(st.booleans()):
            rings.append(rng.uniform(0.2, 0.8, draw(st.integers(3, 5))))
        for radii in rings:
            ang = np.sort(rng.uniform(0, 2 * np.pi, len(radii)))
            rx, ry = cx + radii * np.cos(ang), cy + radii * np.sin(ang)
            xs += [*rx, rx[0]]
            ys += [*ry, ry[0]]
            ring_offsets.append(len(xs))
        if p == n_polys - 1:
            ring_offsets.append(len(xs))  # trailing empty ring
        part_offsets.append(len(ring_offsets) - 1)
    polys = PolygonArrays(
        part_offsets, ring_offsets, xs, ys, ids=rng.permutation(100)[:n_polys]
    )

    n = draw(st.integers(1, 300))
    x, y = rng.uniform(0, 8, n), rng.uniform(0, 8, n)
    ax, ay = polys.x, polys.y
    bx, by = np.roll(ax, 1), np.roll(ay, 1)  # only same-ring segments matter
    first = np.zeros(len(ax), dtype=bool)
    first[polys.ring_offsets[:-1][np.diff(polys.ring_offsets) > 0]] = True
    ab = np.stack([bx - ax, by - ay])
    t = np.clip(
        ((x[:, None] - ax) * ab[0] + (y[:, None] - ay) * ab[1])
        / np.maximum((ab**2).sum(0), 1e-300), 0, 1,
    )
    d = np.hypot(x[:, None] - (ax + t * ab[0]), y[:, None] - (ay + t * ab[1]))
    off_edge = (d[:, ~first] > 1e-6).all(axis=1)
    pdf = pd.DataFrame(
        {"a": np.arange(n, dtype=np.int64), "b": [f"p{i}" for i in range(n)],
         "x": x, "y": y}
    )[off_edge]
    return polys, pdf


class TestShuffleJoin:
    def test_matches_broadcast_path(self, spark):
        """Differential test: every point-in-polygon join path returns
        the same collected rows, in the same column order, on the golden
        fixture and on random layers with holes, a trailing empty ring
        and reordered keep_columns."""
        from tests import golden_fixtures as G
        from cuspatial_spark.geometry import PolygonArrays

        xy = np.empty(2 * len(G.SMALL_POLY_XS))
        xy[::2] = G.SMALL_POLY_XS
        xy[1::2] = G.SMALL_POLY_YS
        polys = PolygonArrays.from_polygons_xy(xy, G.SMALL_RING_OFFSETS, G.SMALL_POLY_OFFSETS)
        pts = spark.createDataFrame(
            pd.DataFrame(
                {
                    "point_id": np.arange(71),
                    "x": np.asarray(G.SMALL_POINTS_X),
                    "y": np.asarray(G.SMALL_POINTS_Y),
                }
            )
        ).repartition(4)
        kw = dict(x_min=0, x_max=8, y_min=0, y_max=8, max_depth=8, tile_level=3)
        golden = _pip_all_paths(spark, pts, polys, ["point_id"], **kw)
        _assert_paths_equal(golden)
        assert len(golden["broadcast"][1]) > 0

        @given(_pip_case())
        @settings(max_examples=6, deadline=None)
        def check(case):
            polys, pdf = case
            pts = spark.createDataFrame(pdf, "a long, b string, x double, y double")
            _assert_paths_equal(_pip_all_paths(spark, pts.repartition(3), polys, ["b", "a"], **kw))

        check()

    def test_on_edge_points_match_broadcast_default(self, spark):
        """Points exactly on vertices and edges of integer-grid
        polygons (closed and unclosed rings, a hole): every shuffle
        variant returns the broadcast default's (edge_exact=False)
        rows, where on-edge membership follows the crossing parity."""
        from cuspatial_spark.geometry import PolygonArrays

        rings = [
            [(1, 1), (4, 1), (4, 4), (1, 4), (1, 1)],  # closed, with a hole
            [(2, 2), (3, 2), (3, 3), (2, 3), (2, 2)],
            [(5, 1), (7, 1), (5, 3)],  # unclosed triangle
            [(1, 5), (4, 5), (4, 6), (2, 6), (2, 7), (1, 7)],  # unclosed L
            [(6, 4), (7, 5), (6, 6), (5, 5), (6, 4)],  # closed diamond
        ]
        xy = np.array([v for r in rings for v in r], dtype=np.float64)
        polys = PolygonArrays(
            [0, 2, 3, 4, 5], np.cumsum([0] + [len(r) for r in rings]), xy[:, 0], xy[:, 1]
        )
        gx, gy = np.meshgrid(np.arange(17) / 2, np.arange(17) / 2)
        pts = spark.createDataFrame(pd.DataFrame(
            {"point_id": np.arange(gx.size), "x": gx.ravel(), "y": gy.ravel()}
        )).repartition(3)
        kw = dict(x_min=0, x_max=8, y_min=0, y_max=8, max_depth=8, tile_level=3)
        got = _pip_all_paths(spark, pts, polys, ["point_id"], **kw)
        # the layer has on-edge points whose memberships differ by rule
        assert got["broadcast edge_exact"] != got["broadcast"]
        _assert_paths_equal({k: v for k, v in got.items() if k != "broadcast edge_exact"})

    @pytest.mark.parametrize("part_offsets,ring_offsets", [
        ([0, 1, 1, 2], [0, 5, 10]),  # the empty polygon has no ring
        ([0, 1, 2, 3], [0, 5, 5, 10]),  # ... or one empty ring
    ], ids=["no-ring", "empty-ring"])
    def test_zero_vertex_polygon(self, spark, part_offsets, ring_offsets):
        """A layer [square, zero-vertex polygon, square]: every path
        returns the two squares' rows, and none raises."""
        from cuspatial_spark.geometry import PolygonArrays

        sx, sy = np.array([0.0, 2, 2, 0, 0]), np.array([0.0, 0, 2, 2, 0])
        polys = PolygonArrays(part_offsets, ring_offsets,
                              np.r_[sx + 1, sx + 5], np.r_[sy + 1, sy + 5])
        pts = spark.createDataFrame(pd.DataFrame(
            {"point_id": [0, 1, 2], "x": [2.0, 6.0, 4.0], "y": [2.0, 6.0, 4.0]}
        ))
        kw = dict(x_min=0, x_max=8, y_min=0, y_max=8, max_depth=8, tile_level=3)
        got = _pip_all_paths(spark, pts, polys, ["point_id"], **kw)
        _assert_paths_equal(got)
        assert got["broadcast"][1] == [(0, 0), (1, 2)]

    def test_out_of_aoi_points_match_nothing(self, spark):
        """Points outside the AOI, NaN, infinite or null get no row on
        any path, even from a polygon that contains them and covers the
        top-right tile, where the out-of-AOI sentinel key points; the
        in-AOI points of the polygon, on the AOI's edge included, do."""
        from cuspatial_spark.geometry import PolygonArrays

        polys = PolygonArrays([0, 1], [0, 5], [6.0, 10, 10, 6, 6], [6.0, 6, 10, 10, 6])
        nan, inf = float("nan"), float("inf")
        pts = spark.createDataFrame(
            [(0, 9.0, 9.0), (1, 7.0, 7.0), (2, 8.5, 7.0), (3, 7.0, 8.5), (4, nan, 7.0),
             (5, 7.0, inf), (6, 8.0, 8.0), (7, None, 7.0), (8, 7.0, -inf)],
            "point_id long, x double, y double",
        )
        kw = dict(x_min=0, x_max=8, y_min=0, y_max=8, max_depth=8, tile_level=3)
        got = _pip_all_paths(spark, pts, polys, ["point_id"], **kw)
        _assert_paths_equal(got)
        assert got["broadcast"][1] == [(1, 0), (6, 0)]

    def test_first_query_of_a_session(self, tmp_path):
        """The salted shuffle join as the first query of a fresh
        session, over a parquet scan: Catalyst once pushed the ray-cast
        filter below the join onto the polygon side, where the point
        columns do not exist (an internal error, not wrong rows).  Low
        expression ids are what set it off, so it runs in a new
        process."""
        import os
        import subprocess
        import sys

        pd.DataFrame({"event_id": np.arange(1000), "ts": np.arange(1000),
                      "user_id": np.arange(1000) % 7, "event_type": ["a"] * 1000,
                      "value": np.ones(1000), "props": ["{}"] * 1000}
                     ).to_parquet(tmp_path / "ev.parquet")
        script = f"""
from pyspark.sql import SparkSession, functions as F
from cuspatial_spark.geometry import PolygonArrays
from cuspatial_spark.plans import point_in_polygon_join_shuffle
spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
polys = PolygonArrays([0, 1], [0, 5], [1.0, 7.0, 7.0, 1.0, 1.0], [1.0, 1.0, 7.0, 7.0, 1.0])
poly_df = spark.createDataFrame(polys.to_arrow())
e = spark.read.parquet({str(tmp_path / "ev.parquet")!r}).repartition(8, "event_id")
pts = e.select("event_id", (F.col("event_id") % 20 * 0.4).alias("x"),
               (F.col("event_id") / 50 * 0.4).alias("y"))
out = point_in_polygon_join_shuffle(pts, poly_df, x_min=0, x_max=8, y_min=0, y_max=8,
                                    max_depth=8, tile_level=4, keep_columns=["event_id"], salt=4)
print("ROWS", out.count())
spark.stop()
"""
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(
            [root, os.environ.get("PYTHONPATH", "")]))
        run = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                             timeout=300, env=env)
        assert "ROWS 565" in run.stdout, run.stderr[-2000:]

    def test_arrow_rows_round_trip(self):
        """PolygonArrays -> shuffle-join rows -> PolygonArrays is the
        identity, with holes, a trailing empty ring, a polygon with no
        ring and one whose only ring is empty; a sliced batch reads
        back its own polygons."""
        from cuspatial_spark.geometry import PolygonArrays

        polys = PolygonArrays(
            [0, 2, 4, 4, 5, 6], [0, 4, 7, 11, 11, 14, 14],
            np.arange(14.0), -np.arange(14.0), ids=[5, 6, 7, 8, 9],
        )
        table = polys.to_arrow()
        assert table.column("ring_offsets").to_pylist() == [
            [0, 4, 7], [0, 4, 4], [0], [0, 3], [0, 0]
        ]
        back = PolygonArrays.from_arrow(table)
        for f in ("part_offsets", "ring_offsets", "x", "y", "ids"):
            np.testing.assert_array_equal(getattr(back, f), getattr(polys, f), err_msg=f)
        part = PolygonArrays.from_arrow(table.to_batches()[0].slice(1, 3))
        np.testing.assert_array_equal(part.ids, [6, 7, 8])
        np.testing.assert_array_equal(part.part_offsets, [0, 2, 2, 3])
        np.testing.assert_array_equal(part.ring_offsets, [0, 4, 4, 7])
        np.testing.assert_array_equal(part.x, np.arange(7.0, 14.0))


@st.composite
def _mask_case(draw):
    """A grid (tile_level 1-3, max_depth == tile_level or deeper, the
    joins' default scale, y_min picked so that the key rounds some
    values above a sub-cell boundary into the sub-cell below) and a
    layer made to stress the band clip and the sub-cell masks: a
    200-gon; a staircase of horizontal edges with
    its vertices on and next to tile-row and sub-cell boundaries; a box
    (either orientation) whose sides sit just above sub-cell
    boundaries, where the key files a point on them into the sub-cell
    below; an integer-grid square with a square hole; a polygon
    spanning the bottom and top rows past the AOI; boxes between the
    grid's last cell and x_max / y_max, where the key clamps; a
    triangle with a vertex at 1e15; polygons with NaN and +-inf
    vertices.  Points: uniform in the AOI, on and next to each row and
    sub-cell boundary, exactly on the box's sides, on the integer and
    half-integer grid, and at x_max / y_max."""
    from cuspatial_spark.geometry import PolygonArrays

    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    tile_level = draw(st.integers(1, 3))
    max_depth = tile_level + draw(st.sampled_from([3, 0, 5, 1]))
    scale = 8.0 / ((1 << max_depth) + 2)
    m = 1 << (max_depth - tile_level)
    cells = m >> min(3, max_depth - tile_level)

    def rounded_down(origin):
        """Values a few ulps above a sub-cell boundary that the key's
        floor((v - origin) / scale) files into the sub-cell below."""
        g = np.arange(1, m // cells << tile_level)
        ups = [origin + (g * cells) * scale]
        for _ in range(4):
            ups.append(np.nextafter(ups[-1], np.inf))
        up = np.concatenate(ups[1:])
        return np.unique(up[np.floor((up - origin) / scale) < np.tile(g, 4) * cells])

    # y_min: the first origin, from a drawn start, with such values
    origins = np.roll(np.arange(-30, 31) / 10, draw(st.integers(0, 60)))
    y_min = next((float(o) for o in origins if len(rounded_down(o))), 0.0)
    grid = dict(x_min=0.0, x_max=8.0, y_min=y_min, y_max=y_min + 8.0,
                max_depth=max_depth, tile_level=tile_level)

    def near(origin, step, count):
        b = origin + np.arange(count + 1) * step * scale
        return np.r_[b, np.nextafter(b, np.inf), np.nextafter(b, -np.inf), b + scale, b - scale]

    rows_y = np.r_[near(y_min, m, 1 << tile_level), y_min + 8.0]
    sub_x = near(0.0, cells, m // cells << tile_level)
    sub_y = near(y_min, cells, m // cells << tile_level)
    end_x, end_y = (1 << max_depth) * scale, y_min + (1 << max_depth) * scale

    rings = []
    ang = np.sort(rng.uniform(0, 2 * np.pi, 200))
    rad = rng.uniform(0.5, 5.0, 200)
    c = rng.uniform(1, 7, 2) + [0, y_min]
    rings.append(([c[0] + rad * np.cos(ang)], [c[1] + rad * np.sin(ang)]))
    ys = np.sort(rng.choice(np.r_[rows_y, sub_y], 4, replace=False))
    x0, x1 = np.sort(rng.uniform(0, 8, 2))
    xm = (x0 + x1) / 2
    rings.append(([[x0, x1, x1, xm, xm, x0]], [[ys[0], ys[0], ys[2], ys[2], ys[3], ys[3]]]))

    def sides(origin, near_values):
        """Two box sides, two sub-cells apart where the grid allows,
        taken from ``rounded_down`` where it has values."""
        low = rounded_down(origin)
        near_values = near_values[(near_values > origin) & (near_values < origin + 8)]
        first = rng.choice(low) if len(low) else rng.choice(near_values)
        apart = lambda v: v[np.abs(v - first) >= 2 * cells * scale]
        rest = next(v for v in (apart(low), apart(near_values), near_values[near_values != first])
                    if len(v))
        return np.sort([first, rng.choice(rest)])

    bx, by = sides(0.0, sub_x), sides(y_min, sub_y)
    box = ([bx[0], bx[1], bx[1], bx[0]], [by[0], by[0], by[1], by[1]])
    if draw(st.booleans()):
        box = (box[0][::-1], box[1][::-1])
    rings.append(([box[0]], [box[1]]))
    rings.append(([[1.0, 5.0, 5.0, 1.0], [2.0, 2.0, 4.0, 4.0]],
                  [[y_min + 1, y_min + 1, y_min + 5, y_min + 5],
                   [y_min + 2, y_min + 4, y_min + 4, y_min + 2]]))
    rings.append(([[1.0, 7.0, 4.0]], [[y_min - 1.0, y_min + 2.0, y_min + 9.0]]))
    ex, ey = end_x + 1.5 * scale, end_y + 1.5 * scale  # past the widened last cell
    rings.append(([[ex, 9.0, 9.0, ex]], [[y_min + 1.0, y_min + 1.0, y_min + 3.0, y_min + 3.0]]))
    rings.append(([[1.0, 3.0, 3.0, 1.0]], [[ey, ey, y_min + 9.0, y_min + 9.0]]))
    rings.append(([[1.0, 1e15, 1.0]], [[y_min + 5.0, y_min + 6.0, y_min + 7.0]]))
    bad = draw(st.sampled_from([np.nan, np.inf, -np.inf]))
    rings.append(([[2.0, 6.0, 6.0, 2.0]], [[y_min + 1.0, y_min + 2.5, bad, y_min + 6.5]]))
    rings.append(([[1.0, 7.0, 4.0]], [[bad, y_min + 3.0, y_min + 5.0]]))
    polys = PolygonArrays(
        np.cumsum([0] + [len(r[0]) for r in rings]),
        np.cumsum([0] + [len(ring) for r in rings for ring in r[0]]),
        np.concatenate([np.asarray(ring, float) for r in rings for ring in r[0]]),
        np.concatenate([np.asarray(ring, float) for r in rings for ring in r[1]]),
        ids=rng.permutation(50)[: len(rings)],
    )

    k = 300
    inside = lambda v, lo: v[(v >= lo) & (v <= lo + 8)]
    on_box = np.linspace(0, 1, 7)
    gx, gy = np.meshgrid(np.arange(17) / 2, np.arange(17) / 2 + y_min)
    px = [rng.uniform(0, 8, k), rng.uniform(0, 8, len(inside(rows_y, y_min))),
          inside(sub_x, 0.0), rng.uniform(0, 8, len(inside(sub_y, y_min))),
          np.repeat(bx, 7), bx[0] + (bx[1] - bx[0]) * np.r_[on_box, on_box],
          gx.ravel(), [8.0] * 5, rng.uniform(0, 8, 5)]
    py = [rng.uniform(y_min, y_min + 8.0, k), inside(rows_y, y_min),
          rng.uniform(y_min, y_min + 8, len(inside(sub_x, 0.0))), inside(sub_y, y_min),
          np.tile(by[0] + (by[1] - by[0]) * on_box, 2), np.repeat(by, 7),
          gy.ravel(), y_min + np.array([1.5, 2.0, 2.5, 8.0, 4.0]), [y_min + 8.0] * 5]
    px, py = np.concatenate(px), np.concatenate(py)
    return polys, grid, pd.DataFrame({"pid": np.arange(len(py)), "x": px, "y": py})


# The ray cast over a (tile, polygon_id, __segs) table with no masks,
# as the join ran it before the sub-cell masks: the reference.
_PLAIN_RAY_CAST = (
    "aggregate(__segs, IF(x IS NULL OR y IS NULL, NULL, 0), "
    "(__n, __e) -> __n + CASE WHEN ((__e.ay > y) != (__e.by > y)) AND "
    "(((x - __e.ax) * (__e.by - __e.ay) < (__e.bx - __e.ax) * (y - __e.ay)) "
    "!= (__e.ay > y)) THEN 1 ELSE 0 END) % 2 = 1"
)


class TestSubCellMasks:
    def test_masks_match_unmasked_band_table(self, spark):
        """The masked (tile, polygon_id, __inside, __edge, __segs) rows
        give the same containment pairs as the table without masks:
        every covered tile with its band list (and with all of the
        polygon's edges), no row dropped, the plain ray cast.  For the
        broadcast and the shuffle join on the join's own cover, and
        for a cover of every tile by every polygon, which reaches the
        polygons whose non-finite bbox the join never covers."""
        import pyarrow as pa

        from cuspatial_spark.functions import inside_aoi
        from cuspatial_spark.kernels.zorder import z_order
        from cuspatial_spark.plans import (
            assign_tiles,
            point_in_polygon_join,
            point_in_polygon_join_shuffle,
        )
        from cuspatial_spark.plans.tile_join import (
            SEGS_TYPE,
            _band_edges,
            _cover_cells,
            _cover_rows,
            _pip_jvm_hit_expr,
            _polygon_segments,
            _pip_table_schema,
        )

        def pairs(keyed, polys, poly, cx, cy, grid, scale, lists):
            depth, level = grid["max_depth"], grid["tile_level"]
            if lists == "masked":
                table = spark.createDataFrame(
                    _cover_rows(polys, poly, cx, cy, grid["x_min"], grid["y_min"], scale,
                                depth, level),
                    schema=_pip_table_schema(),
                )
                hit = _pip_jvm_hit_expr("morton_key", "x", "y", depth, level)
            else:
                segs = _polygon_segments(polys)
                if lists == "band":
                    offs, edge = _band_edges(segs, poly, cy, grid["y_min"], scale, depth, level)
                else:
                    edges = [np.arange(segs[0][p], segs[0][p + 1]) for p in poly]
                    offs = np.cumsum([0] + [len(e) for e in edges])
                    edge = np.concatenate(edges + [np.zeros(0, np.int64)])
                lists_ = pa.ListArray.from_arrays(
                    pa.array(offs, pa.int32()),
                    pa.StructArray.from_arrays([pa.array(c[edge]) for c in segs[1:]],
                                               names=["ax", "ay", "bx", "by"]),
                )
                tiles = z_order(cx.astype(np.uint16), cy.astype(np.uint16)).astype(np.int64)
                table = spark.createDataFrame(
                    pa.table([tiles, polys.ids[poly], lists_],
                             names=["tile", "polygon_id", "__segs"]),
                    schema=f"tile long, polygon_id long, __segs {SEGS_TYPE}",
                )
                hit = F.expr(_PLAIN_RAY_CAST)
            out = keyed.join(table, "tile").where(hit)
            return sorted(tuple(r) for r in out.select("pid", "polygon_id").collect())

        @given(_mask_case())
        @settings(max_examples=12, deadline=None)
        def check(case):
            polys, grid, pdf = case
            scale = 8.0 / ((1 << grid["max_depth"]) + 2)
            pts = spark.createDataFrame(pdf)
            aoi = [grid[k] for k in ("x_min", "x_max", "y_min", "y_max")]
            keyed = assign_tiles(
                pts.where(inside_aoi("x", "y", *aoi)), "x", "y", *aoi, scale,
                grid["max_depth"], grid["tile_level"],
            ).cache()
            cover = _cover_cells(*polys.bounding_boxes(), grid["x_min"], grid["y_min"], scale,
                                 grid["max_depth"], grid["tile_level"])
            want = pairs(keyed, polys, *cover, grid, scale, "band")
            assert len(want) > 0
            assert want == pairs(keyed, polys, *cover, grid, scale, "all")
            join = point_in_polygon_join(pts, polys, keep_columns=["pid"], **grid)
            assert sorted(tuple(r) for r in join.collect()) == want
            shuffle = point_in_polygon_join_shuffle(
                pts, spark.createDataFrame(polys.to_arrow()), keep_columns=["pid"], salt=2,
                **grid,
            )
            assert sorted(tuple(r) for r in shuffle.collect()) == want
            n = 1 << grid["tile_level"]
            cells = np.arange(n * n)
            full = (np.repeat(np.arange(len(polys)), n * n), np.tile(cells % n, len(polys)),
                    np.tile(cells // n, len(polys)))
            want = pairs(keyed, polys, *full, grid, scale, "band")
            assert want == pairs(keyed, polys, *full, grid, scale, "all")
            assert pairs(keyed, polys, *full, grid, scale, "masked") == want
            keyed.unpersist()

        check()


class TestStreaming:
    def test_tile_counts_and_pip(self, spark, tmp_path):
        from cuspatial_spark.streaming import streaming_pip_join, streaming_tile_counts
        from cuspatial_spark.geometry import PolygonArrays
        from tests import golden_fixtures as G

        # write a small parquet source then stream it with availableNow
        pdf = pd.DataFrame(
            {
                "point_id": np.arange(71),
                "x": np.asarray(G.SMALL_POINTS_X),
                "y": np.asarray(G.SMALL_POINTS_Y),
                "ts": pd.to_datetime(np.arange(71), unit="s"),
            }
        )
        src = str(tmp_path / "stream_src")
        spark.createDataFrame(pdf).write.parquet(src)
        stream = spark.readStream.schema(
            "point_id bigint, x double, y double, ts timestamp"
        ).parquet(src)

        counts = streaming_tile_counts(
            stream, "x", "y", "ts", 0, 8, 0, 8, 1.0, 3, 1, window="1 minute"
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("tile_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = spark.sql("SELECT sum(n_points) AS n FROM tile_counts").collect()
        assert got[0]["n"] == 71

        xy = np.empty(2 * len(G.SMALL_POLY_XS))
        xy[::2] = G.SMALL_POLY_XS
        xy[1::2] = G.SMALL_POLY_YS
        polys = PolygonArrays.from_polygons_xy(xy, G.SMALL_RING_OFFSETS, G.SMALL_POLY_OFFSETS)
        joined = streaming_pip_join(
            stream, polys, x_min=0, x_max=8, y_min=0, y_max=8,
            max_depth=8, tile_level=3, keep_columns=["point_id"],
        )
        q2 = (
            joined.writeStream.format("memory")
            .queryName("stream_pip")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(60)
        n = spark.sql("SELECT count(*) AS n FROM stream_pip").collect()[0]["n"]
        assert n == 19  # golden pair count


    def test_streaming_exact_dedup(self, spark, tmp_path):
        from cuspatial_spark.streaming import streaming_exact_dedup

        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3, 4],
                "text": ["aaa", "bbb", "aaa", "ccc", "bbb"],
                "ts": pd.to_datetime([0, 1, 2, 3, 4], unit="s"),
            }
        )
        src = str(tmp_path / "dedup_src")
        spark.createDataFrame(pdf).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id bigint, text string, ts timestamp"
        ).parquet(src)
        deduped = streaming_exact_dedup(stream, watermark="1 minute")
        q = (
            deduped.writeStream.format("memory")
            .queryName("stream_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = spark.sql("SELECT text FROM stream_dedup").toPandas()
        assert sorted(got["text"]) == ["aaa", "bbb", "ccc"]


class TestMultimodalPlumbing:
    def test_frame_sampling_and_resize(self, spark):
        from cuspatial_spark.multimodal import resize_features, sample_frames

        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1],
                "payload": [bytes(range(64)), b"\x10" * 7],
            }
        )
        df = spark.createDataFrame(pdf)
        frames = sample_frames(df, n_frames=4).orderBy("payload_md5", "frame_idx").toPandas()
        # 64-byte payload -> 4 frames of 16 bytes; 7-byte -> 4 ragged frames
        assert len(frames) == 8
        assert frames.groupby("payload_md5")["frame_bytes"].sum().tolist() in ([64, 7], [7, 64])
        thumbs = resize_features(df, size=16).toPandas()
        assert all(len(t) == 16 for t in thumbs["thumb"])
        # constant payload -> constant thumbnail
        const = thumbs[thumbs["thumb"].apply(lambda t: set(t) == {16.0})]
        assert len(const) == 1


class TestCheckpointedJob:
    def test_resume_skips_completed(self, spark, tmp_path):
        from cuspatial_spark.ops import CheckpointedJob

        df = spark.range(1000).withColumn("v", F.col("id") * 2)
        out = str(tmp_path / "job_out")
        job = CheckpointedJob(spark, out, key_col="id", n_buckets=4)
        r1 = job.run(df, lambda d: d.where(F.col("v") % 4 == 0))
        assert len(r1["ran"]) == 4
        r2 = job.run(df, lambda d: d.where(F.col("v") % 4 == 0))
        assert r2["ran"] == [] and r2["skipped"] == [0, 1, 2, 3]
        total = spark.read.parquet(f"{out}/bucket=*").count()
        assert total == 500

    def test_kernel_metrics(self, spark, tmp_path):
        from cuspatial_spark.ops import KernelMetrics

        m = KernelMetrics.create(spark)

        def double(batches):
            for pdf in batches:
                yield pdf

        df = spark.range(100).mapInPandas(m.wrap(double), schema="id: long")
        assert df.count() == 100
        snap = m.snapshot()
        assert snap["rows_in"] == 100 and snap["rows_out"] == 100


class TestTiledWriter:
    def test_write_prune_roundtrip(self, spark, tmp_path):
        from cuspatial_spark.sources.writer import read_tiled, write_tiled

        rng = np.random.default_rng(9)
        pdf = pd.DataFrame(
            {"point_id": np.arange(2000), "x": rng.uniform(0, 8, 2000), "y": rng.uniform(0, 8, 2000)}
        )
        path = str(tmp_path / "tiled")
        write_tiled(
            spark.createDataFrame(pdf), path, "x", "y", 0, 8, 0, 8,
            max_depth=10, tile_level=2,
        )
        back = read_tiled(spark, path)
        assert back.count() == 2000
        # tile predicate must prune partitions (directory key)
        one = back.where(F.col("tile") == 0)
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(tile" in plan or "tile#" in plan
        # every row in tile 0 is in the first quadrant cell [0,4)x[0,4)
        got = one.toPandas()
        assert (got["x"] < 4.0).all() and (got["y"] < 4.0).all()
        # round-trip preserves payload
        assert set(back.toPandas()["point_id"]) == set(range(2000))

    def test_null_coordinates_filed_under_sentinel_tile(self, spark, tmp_path):
        """A row with a null coordinate gets the sentinel key, and the
        writer files it under tile -1, not a real cell's (the sentinel
        key's top bits are the top-right tile's)."""
        from cuspatial_spark.sources.writer import read_tiled, write_tiled

        df = spark.createDataFrame(
            [(0, None, 4.0), (1, 4.0, None), (2, None, None), (3, 1.0, 1.0)],
            "point_id long, x double, y double",
        )
        path = str(tmp_path / "tiled_nulls")
        write_tiled(df, path, "x", "y", 0, 8, 0, 8, max_depth=10, tile_level=2)
        got = {r.point_id: (r.morton_key, r.tile) for r in read_tiled(spark, path).collect()}
        sentinel = (1 << 20) - 1
        for pid in (0, 1, 2):
            assert got[pid] == (sentinel, -1), (pid, got[pid])
        assert got[3][1] == 0

    def test_hilbert_cluster_same_content(self, spark, tmp_path):
        """cluster='hilbert' changes only file layout: same rows, same
        tile directory keys, pruning intact, and a hilbert_key column
        consistent with the kernel."""
        from cuspatial_spark.kernels.hilbert import xy2d
        from cuspatial_spark.sources.writer import read_tiled, write_tiled

        rng = np.random.default_rng(10)
        pdf = pd.DataFrame(
            {"point_id": np.arange(1000), "x": rng.uniform(0, 8, 1000), "y": rng.uniform(0, 8, 1000)}
        )
        path = str(tmp_path / "tiled_h")
        write_tiled(
            spark.createDataFrame(pdf), path, "x", "y", 0, 8, 0, 8,
            max_depth=8, tile_level=2, cluster="hilbert",
        )
        back = read_tiled(spark, path).toPandas()
        assert set(back["point_id"]) == set(range(1000))
        scale = 8 / ((1 << 8) + 2)
        ii = np.minimum(np.floor(back["x"] / scale), 255).astype(np.int64)
        jj = np.minimum(np.floor(back["y"] / scale), 255).astype(np.int64)
        np.testing.assert_array_equal(back["hilbert_key"].to_numpy(), xy2d(8, ii, jj))
        got = read_tiled(spark, path).where(F.col("tile") == 0).toPandas()
        assert (got["x"] < 4.0).all() and (got["y"] < 4.0).all()

    @pytest.mark.parametrize("cluster", ["morton", "hilbert"])
    def test_files_sorted_by_curve_key(self, spark, tmp_path, cluster):
        """Every written file holds its rows in curve-key order, and the
        write plan is one hash exchange on tile (no range-bounds
        sampling) and one sort on (tile, key): the writer's own
        tile-only sort must not replace the curve sort."""
        import glob
        import os
        import re

        import pyarrow.parquet as pq
        from cuspatial_spark.sources.writer import write_tiled

        rng = np.random.default_rng(12)
        pdf = pd.DataFrame(
            {"point_id": np.arange(3000), "x": rng.uniform(0, 8, 3000), "y": rng.uniform(0, 8, 3000)}
        )
        path = str(tmp_path / f"tiled_{cluster}")
        write_tiled(
            spark.createDataFrame(pdf), path, "x", "y", 0, 8, 0, 8,
            max_depth=10, tile_level=2, cluster=cluster,
        )
        key = f"{cluster}_key"
        files = glob.glob(os.path.join(path, "tile=*", "*.parquet"))
        assert len(files) >= 16
        for f in files:
            k = pq.read_table(f, columns=[key]).column(key).to_numpy()
            assert (np.diff(k) >= 0).all(), f

        plan = _last_plan_writing(spark, path)
        assert "rangepartitioning" not in plan
        executed = plan.split("== Initial Plan ==")[0]
        nodes = re.findall(r"(\w+) \((\d+)\)", executed)
        names = [n for n, _ in nodes]
        assert names.count("Exchange") == 1 and names.count("Sort") == 1, executed
        exchange_id = nodes[names.index("Exchange")][1]
        exchange = re.search(rf"^\({exchange_id}\) Exchange\n.*?^Arguments: (.*?)$",
                             plan, re.M | re.S).group(1)
        assert re.match(r"hashpartitioning\(tile#\d+L?, \d+\)", exchange), exchange
        sort_id = nodes[names.index("Sort")][1]
        order = re.search(rf"^\({sort_id}\) Sort.*?^Arguments: \[(.*?)\]",
                          plan, re.M | re.S).group(1)
        assert re.findall(r"(\w+)#\d+L? ASC", order) == ["tile", key]


def _last_plan_writing(spark, path: str) -> str:
    """Formatted physical plan of the session's last SQL execution that
    names ``path`` (a write's plan names its output directory)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        plan = execs.apply(i).physicalPlanDescription()
        if path in plan:
            return plan
    raise AssertionError(f"no SQL execution names {path}")


class TestIvfTrainer:
    def test_train_and_search(self, spark):
        from cuspatial_spark.similarity import brute_force_topk, ivf_topk
        from cuspatial_spark.similarity.ann import train_centroids

        rng = np.random.default_rng(13)
        centers = rng.normal(size=(4, 16)) * 5
        vecs = np.concatenate(
            [c + rng.normal(size=(30, 16)) * 0.5 for c in centers]
        ).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": range(120), "embedding": [v.tolist() for v in vecs]})
        df = spark.createDataFrame(pdf)
        cts = train_centroids(df, 4, sample_rows=120, iters=8)
        assert cts.shape == (4, 16)
        q = df.where(F.col("vec_id") < 5)
        exact = brute_force_topk(df, q, k=3).toPandas()
        approx = ivf_topk(df, q, centroids=cts, k=3, nprobe=1).toPandas()
        e = set(zip(exact["query_id"], exact["neighbor_id"]))
        a = set(zip(approx["query_id"], approx["neighbor_id"]))
        assert len(e & a) / len(e) >= 0.8

    def test_sample_spans_partitions(self, spark):
        """Partition-skewed fixture: cluster A fills partition 0,
        cluster B partition 1.  The old ``.limit(sample_rows)`` path
        provably collapses here (first-partition rows only -> no B
        centroid -> nprobe=1 recall on B queries near zero); the
        cross-partition sampler must place centroids in BOTH clusters."""
        from cuspatial_spark.similarity.ann import train_centroids

        rng = np.random.default_rng(5)
        a = rng.normal(size=(60, 8)) * 0.3 + 10.0
        b = rng.normal(size=(60, 8)) * 0.3 - 10.0
        pdf = pd.DataFrame(
            {
                "vec_id": range(120),
                "embedding": [v.tolist() for v in np.concatenate([a, b])],
            }
        )
        # repartitionByRange on vec_id keeps cluster A in the first
        # partition and cluster B in the second — crawl-segment skew
        df = spark.createDataFrame(pdf).repartitionByRange(2, "vec_id")
        cts = train_centroids(df, 2, sample_rows=60, iters=8)
        means = cts.mean(axis=1)
        assert (means > 5).any() and (means < -5).any()


class TestTiledTable:
    def test_commit_time_travel_prune(self, spark, tmp_path):
        from cuspatial_spark.operators import points_in_spatial_window
        from cuspatial_spark.sources.table import TiledTable

        t = TiledTable(str(tmp_path / "table"))
        rng = np.random.default_rng(21)
        df1 = spark.createDataFrame(pd.DataFrame({
            "point_id": np.arange(500),
            "x": rng.uniform(0, 4, 500), "y": rng.uniform(0, 4, 500)}))
        df2 = spark.createDataFrame(pd.DataFrame({
            "point_id": np.arange(500, 900),
            "x": rng.uniform(4, 8, 400), "y": rng.uniform(4, 8, 400)}))
        v1 = t.commit(df1, "x", "y", 0, 8, 0, 8, source="batch-1")
        v2 = t.commit(df2, "x", "y", 0, 8, 0, 8, source="batch-2")
        assert (v1, v2) == (1, 2)

        # time travel: v1 sees only the first batch; latest sees both
        assert t.read(spark, version=1).count() == 500
        assert t.read(spark).count() == 900
        ids = set(r.point_id for r in t.read(spark).select("point_id").collect())
        assert ids == set(range(900))

        # file-level pruning: a window wholly inside batch-1's bounds
        # keeps every row in the window and no file of snapshot 2
        w = (0.0, 3.0, 0.0, 3.0)
        pruned = set(r.point_id for r in t.read(spark, window=w).select("point_id").collect())
        inside = points_in_spatial_window(t.read(spark), *w)
        assert set(r.point_id for r in inside.select("point_id").collect()) <= pruned
        assert pruned < set(range(500))

        # lineage chain
        h = t.history()
        assert [m["version"] for m in h] == [1, 2]
        assert h[1]["parent"] == 1 and h[0]["source"] == "batch-1"
        assert h[0]["rows"] == 500 and h[1]["rows"] == 400
        assert h[0]["bounds"]["x_hi"] <= 4.0

    def test_commit_runs_two_jobs(self, spark, tmp_path):
        """A commit is one shuffle-map job plus one write job: no
        range-bounds sampling job and no read-back of the written
        files for the manifest."""
        import uuid

        from cuspatial_spark.sources.table import TiledTable

        t = TiledTable(str(tmp_path / "table_jobs"))
        rng = np.random.default_rng(22)
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": np.arange(2000),
            "x": rng.uniform(0, 8, 2000), "y": rng.uniform(0, 8, 2000)}))
        sc = spark.sparkContext
        group = f"tiled-commit-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "one TiledTable commit")
        try:
            t.commit(df, "x", "y", 0, 8, 0, 8)
        finally:
            sc._jsc.clearJobGroup()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        assert 1 <= len(jobs) <= 2, jobs
        assert t.history()[0]["rows"] == 2000

    def test_empty_commit(self, spark, tmp_path):
        """A commit of zero rows publishes an empty snapshot that every
        read skips; a view with no rows at all raises, naming the
        table."""
        from cuspatial_spark.sources.table import TiledTable

        def batch(lo, n):
            rng = np.random.default_rng(lo)
            return spark.createDataFrame(pd.DataFrame({
                "point_id": np.arange(lo, lo + n),
                "x": rng.uniform(0, 8, n), "y": rng.uniform(0, 8, n)}))

        t = TiledTable(str(tmp_path / "table_empty"))
        assert t.commit(batch(0, 300), "x", "y", 0, 8, 0, 8) == 1
        assert t.commit(batch(0, 300).limit(0), "x", "y", 0, 8, 0, 8) == 2
        assert t.commit(batch(300, 200), "x", "y", 0, 8, 0, 8) == 3
        empty = t.history()[1]
        assert (empty["rows"], empty["bounds"], empty["tiles"]) == (0, None, {})

        def ids(version=None, window=None):
            df = t.read(spark, version=version, window=window)
            return sorted(r.point_id for r in df.select("point_id").collect())

        assert ids(1) == ids(2) == list(range(300))
        assert ids(3) == ids() == list(range(500))
        assert ids(2, window=(100.0, 101.0, 100.0, 101.0)) == []
        assert t.compact(spark) == 4
        assert ids() == list(range(500))

        bare = TiledTable(str(tmp_path / "table_bare"))
        bare.commit(batch(0, 10).limit(0), "x", "y", 0, 8, 0, 8)
        with pytest.raises(ValueError, match="table_bare"):
            bare.read(spark)

    def test_crash_safe_publish(self, spark, tmp_path):
        """An orphan data directory without a manifest is invisible."""
        import os
        from cuspatial_spark.sources.table import TiledTable

        t = TiledTable(str(tmp_path / "table2"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))
        t.commit(df, "x", "y", 0, 8, 0, 8)
        # simulate a crashed second commit: data written, no manifest
        os.makedirs(os.path.join(str(tmp_path / "table2"), "data", "snap-00002"))
        assert t.current_version() == 1
        assert t.read(spark).count() == 2

    def test_concurrent_commit_never_overwrites(self, spark, tmp_path):
        """Two committers racing on the same version: the loser must
        NOT replace the winner's manifest (fail-if-exists publish) —
        it retries with the next version instead."""
        import json
        import os
        from cuspatial_spark.sources.table import TiledTable

        t = TiledTable(str(tmp_path / "table3"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))
        t.commit(df, "x", "y", 0, 8, 0, 8)
        # simulate a concurrent winner publishing v2 mid-commit: the
        # manifest for version 2 appears before our commit publishes
        winner = dict(json.load(open(t._manifest_path(1))))
        winner["version"] = 2
        with open(t._manifest_path(2), "w") as f:
            json.dump(winner, f)
        got = t.commit(df, "x", "y", 0, 8, 0, 8)
        assert got == 3  # retried past the conflict
        assert json.load(open(t._manifest_path(2)))["snapshot_dir"] == winner["snapshot_dir"]
        assert t.current_version() == 3


    def test_publish_without_hardlinks(self, spark, tmp_path, monkeypatch):
        """Filesystems that cannot hard-link (or raise EPERM instead of
        FileExistsError) must fall back to the O_CREAT|O_EXCL publish
        and still refuse to overwrite a racing winner's manifest."""
        import errno
        import json
        import os
        from cuspatial_spark.sources import table as tbl

        t = tbl.TiledTable(str(tmp_path / "table4"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))

        def no_link(src, dst):
            raise OSError(errno.EPERM, "hard links not supported")

        monkeypatch.setattr(tbl.os, "link", no_link)
        assert t.commit(df, "x", "y", 0, 8, 0, 8) == 1
        assert t.read(spark).count() == 2
        assert t.history()[0]["rows"] == 2
        # race on the fallback path: v2 appears before our publish
        winner = dict(json.load(open(t._manifest_path(1))))
        winner["version"] = 2
        with open(t._manifest_path(2), "w") as f:
            json.dump(winner, f)
        assert t.commit(df, "x", "y", 0, 8, 0, 8) == 3
        assert json.load(open(t._manifest_path(2))) == winner

    def test_crashed_fallback_publish_is_adopted(self, spark, tmp_path, monkeypatch):
        """A zero-size manifest left by a committer killed between the
        O_EXCL claim and the content write must not wedge the table:
        current_version skips it and the next commit adopts the slot."""
        import errno
        import os
        import time as _t
        from cuspatial_spark.sources import table as tbl

        t = tbl.TiledTable(str(tmp_path / "table5"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))
        t.commit(df, "x", "y", 0, 8, 0, 8)
        # simulate the crash: an empty claimed manifest for v2, old
        crashed = t._manifest_path(2)
        open(crashed, "w").close()
        old = _t.time() - 60
        os.utime(crashed, (old, old))
        assert t.current_version() == 1  # empty claim is not a version
        assert t.read(spark).count() == 2  # table stays readable

        def no_link(src_, dst):
            raise OSError(errno.EPERM, "no hard links")

        monkeypatch.setattr(tbl.os, "link", no_link)
        assert t.commit(df, "x", "y", 0, 8, 0, 8) == 2  # adopted the slot
        assert t.history()[1]["rows"] == 2

    def test_stale_claim_recovery_single_winner(self, spark, tmp_path, monkeypatch):
        """Two committers recovering the same stale empty claim must
        not both publish that version: RENAME is the atomic arbiter.
        Simulated lost race — our rename of the stale claim raises
        FileNotFoundError because 'the other recoverer' already renamed
        it away and republished v2; we must move to a FRESH version,
        never overwrite theirs."""
        import errno
        import json
        import os
        import time as _t
        from cuspatial_spark.sources import table as tbl

        t = tbl.TiledTable(str(tmp_path / "table6"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))
        t.commit(df, "x", "y", 0, 8, 0, 8)
        stale = t._manifest_path(2)
        open(stale, "w").close()
        old = _t.time() - 60
        os.utime(stale, (old, old))

        def no_link(src_, dst):
            raise OSError(errno.EPERM, "no hard links")

        winner = dict(json.load(open(t._manifest_path(1))))
        winner["version"] = 2
        winner["snapshot_dir"] = winner["snapshot_dir"] + "-other"
        real_rename = os.rename

        def racing_rename(src, dst, *a, **kw):
            if os.path.abspath(src) == os.path.abspath(stale):
                # the other recoverer wins the arbiter: renames the
                # claim away and republishes v2 before our rename
                with open(stale, "w") as f:
                    json.dump(winner, f)
                raise FileNotFoundError(errno.ENOENT, "lost the race", src)
            return real_rename(src, dst, *a, **kw)

        monkeypatch.setattr(tbl.os, "link", no_link)
        monkeypatch.setattr(tbl.os, "rename", racing_rename)
        got = t.commit(df, "x", "y", 0, 8, 0, 8)
        assert got == 3  # never claims the version the winner took
        assert json.load(open(stale))["snapshot_dir"] == winner["snapshot_dir"]
        assert t.current_version() == 3

    def test_stale_claim_rename_spares_fresh_publish(self, spark, tmp_path,
                                                     monkeypatch):
        """If a frozen writer's publish lands between our stat (empty,
        old) and our rename, the renamed file is NON-empty: the
        recoverer must put it back and take a fresh version — the
        published snapshot must never vanish from history."""
        import errno
        import json
        import os
        import time as _t
        from cuspatial_spark.sources import table as tbl

        t = tbl.TiledTable(str(tmp_path / "table6b"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))
        t.commit(df, "x", "y", 0, 8, 0, 8)
        stale = t._manifest_path(2)
        open(stale, "w").close()
        old = _t.time() - 60
        os.utime(stale, (old, old))

        def no_link(src_, dst):
            raise OSError(errno.EPERM, "no hard links")

        winner = dict(json.load(open(t._manifest_path(1))))
        winner["version"] = 2
        winner["snapshot_dir"] = winner["snapshot_dir"] + "-frozen"
        real_rename = os.rename
        fired = []

        def racing_rename(src, dst, *a, **kw):
            if os.path.abspath(src) == os.path.abspath(stale) and not fired:
                # the frozen writer's os.replace lands first: the
                # file we rename away is their real manifest
                fired.append(True)
                with open(stale, "w") as f:
                    json.dump(winner, f)
            return real_rename(src, dst, *a, **kw)

        monkeypatch.setattr(tbl.os, "link", no_link)
        monkeypatch.setattr(tbl.os, "rename", racing_rename)
        got = t.commit(df, "x", "y", 0, 8, 0, 8)
        assert got == 3
        # the frozen writer's v2 manifest was restored, not deleted
        assert json.load(open(stale))["snapshot_dir"] == winner["snapshot_dir"]
        assert t.current_version() == 3
        # history() resolves root-relative dirs to absolute paths
        assert t.history()[1]["snapshot_dir"] == t._resolve(winner["snapshot_dir"])

    def test_fallback_publish_is_whole(self, spark, tmp_path, monkeypatch):
        """The no-hardlink publish path must expose the manifest whole
        (claim file stays empty until one atomic replace) — a reader
        polling the file must only ever see zero bytes or valid JSON."""
        import errno
        import json
        import os
        from cuspatial_spark.sources import table as tbl

        t = tbl.TiledTable(str(tmp_path / "table7"))
        df = spark.createDataFrame(pd.DataFrame({
            "point_id": [0, 1], "x": [1.0, 2.0], "y": [1.0, 2.0]}))

        def no_link(src_, dst):
            raise OSError(errno.EPERM, "no hard links")

        seen = []
        real_replace = os.replace

        def spying_replace(src, dst, *a, **kw):
            # at replace time the destination is the claim: empty
            if os.path.exists(dst):
                seen.append(os.path.getsize(dst))
            return real_replace(src, dst, *a, **kw)

        monkeypatch.setattr(tbl.os, "link", no_link)
        monkeypatch.setattr(tbl.os, "replace", spying_replace)
        assert t.commit(df, "x", "y", 0, 8, 0, 8) == 1
        assert seen == [0]  # claim never written in place
        assert json.load(open(t._manifest_path(1)))["rows"] == 2


class TestIngestPipeline:
    def test_streaming_ingest_matches_batch(self, spark, tmp_path):
        """The full web-ingest pipeline (extract -> gates -> geotag ->
        tile/PIP) drains a stream to exactly the rows the identical
        batch plan produces, and extraction stays byte-identical."""
        import tests.golden_fixtures as G
        from cuspatial_spark.geometry import PolygonArrays
        from cuspatial_spark.sources.webpages import synth_webpages
        from cuspatial_spark.streaming.ingest import ingest_pages

        src = str(tmp_path / "pages")
        synth_webpages(spark, 3000, partitions=4).write.parquet(src)
        static = spark.read.parquet(src)
        stream = spark.readStream.schema(static.schema).parquet(src)

        xy = np.empty(2 * len(G.SMALL_POLY_XS))
        xy[::2] = G.SMALL_POLY_XS
        xy[1::2] = G.SMALL_POLY_YS
        polys = PolygonArrays.from_polygons_xy(
            xy, G.SMALL_RING_OFFSETS, G.SMALL_POLY_OFFSETS
        )
        kw = dict(
            x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0,
            scale=8.0 / 258, max_depth=8, tile_level=3,
            polygons=polys, keep_columns=["url", "text", "extracted_text"],
        )

        q = (
            ingest_pages(stream, **kw)
            .writeStream.format("memory").queryName("ingest")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM ingest").toPandas()
        want = ingest_pages(static, **kw).toPandas()
        assert len(got) == len(want) > 0
        assert set(zip(got.url, got.polygon_id)) == set(zip(want.url, want.polygon_id))
        # byte-identity invariant survives the streaming plan
        assert (got.text == got.extracted_text).all()

    def test_ingest_gates_filter(self, spark):
        """Quality/language gates are real filters (and the gated tile
        pipeline adds no shuffle)."""
        from cuspatial_spark.textops.extract import wrap_html
        from cuspatial_spark.streaming.ingest import ingest_pages

        texts = (
            ["the fast engine and the scan of the table"] * 6
            + ["el perro de la casa es muy grande y la gata"] * 3
            + ["x"] * 2  # too short: fails the quality gate
        )
        pages = wrap_html(
            spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": range(len(texts)),
                        "url": [f"https://s.example/{i}" for i in range(len(texts))],
                        "text": texts,
                    }
                )
            )
        )
        kw = dict(x_min=0.0, x_max=8.0, y_min=0.0, y_max=8.0,
                  scale=8.0 / 258, max_depth=8, tile_level=3)
        assert ingest_pages(pages, **kw).count() == 11
        en_only = ingest_pages(pages, langs=["en"], min_quality=0.1, **kw)
        assert en_only.count() == 6
        plan = en_only._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # gate + tile assign: zero shuffles


class TestUrlOps:
    def test_canonical_url_rules(self, spark):
        """Each canonicalization rule in isolation + combined."""
        from cuspatial_spark.textops.urls import canonical_url

        cases = [
            ("HTTP://Example.COM/a", "http://example.com/a"),
            ("https://www.example.com:443/a/", "https://example.com/a"),
            ("http://example.com:80/", "http://example.com/"),
            ("http://example.com:8080/a", "http://example.com:8080/a"),
            ("https://example.com/a#frag", "https://example.com/a"),
            ("https://example.com/a?utm_source=x&b=1&gclid=z", "https://example.com/a?b=1"),
            ("https://example.com/a?utm_campaign", "https://example.com/a"),
            ("https://example.com", "https://example.com/"),
            ("https://example.com/a?b=1&c=2", "https://example.com/a?b=1&c=2"),
            ("https://www.www.example.com/a", "https://example.com/a"),
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"url": [c[0] for c in cases]})
        )
        out = [r["canonical_url"] for r in canonical_url(df).collect()]
        assert out == [c[1] for c in cases]

    def test_url_dedup_keeps_earliest(self, spark):
        from cuspatial_spark.textops.urls import url_dedup

        df = spark.createDataFrame(pd.DataFrame({
            "url": [
                "https://WWW.site.com/x?utm_source=a",
                "https://site.com/x",
                "https://site.com/y",
            ],
            "ts": [2, 1, 3],
        }))
        out = url_dedup(df, order_col="ts").orderBy("canonical_url").collect()
        assert [(r["canonical_url"], r["ts"]) for r in out] == [
            ("https://site.com/x", 1),
            ("https://site.com/y", 3),
        ]

    def test_canonical_url_plan_is_codegen(self, spark):
        """Zero shuffles, no Python: the plan must be a single
        whole-stage-codegen project over the scan."""
        from cuspatial_spark.textops.urls import canonical_url

        df = spark.createDataFrame(pd.DataFrame({"url": ["http://a.com/x"]}))
        plan = canonical_url(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan and "MapInPandas" not in plan

    def test_streaming_url_dedup(self, spark, tmp_path):
        """Canonical-url streaming dedup: crawl-noise variants of one
        resource collapse to a single kept row (first arrival)."""
        from cuspatial_spark.streaming import streaming_url_dedup

        pdf = pd.DataFrame(
            {
                "url": [
                    "https://WWW.site.com/x?utm_source=a",
                    "https://site.com/x",
                    "HTTPS://site.com:443/x#frag",
                    "https://site.com/y",
                ],
                "warc_ts": pd.to_datetime([0, 1, 2, 3], unit="s"),
            }
        )
        src = str(tmp_path / "url_dedup_src")
        spark.createDataFrame(pdf).write.parquet(src)
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp"
        ).parquet(src)
        deduped = streaming_url_dedup(stream, watermark="1 minute")
        q = (
            deduped.writeStream.format("memory")
            .queryName("stream_url_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = spark.sql("SELECT url FROM stream_url_dedup").toPandas()
        assert len(got) == 2  # one per canonical resource (x and y)

    def test_canonical_url_idempotent(self, spark):
        """canonical(canonical(u)) == canonical(u) over a combinatorial
        sweep of schemes, hosts, ports, paths, queries, and fragments;
        schemeless input passes through untouched."""
        import itertools

        from cuspatial_spark.textops.urls import canonical_url

        urls = [
            f"{s}{h}{p}{path}{q}{frag}"
            for s, h, p, path, q, frag in itertools.product(
                ["http://", "HTTPS://", "https://WWW.", ""],
                ["Example.com", "sub.ex.org"],
                ["", ":443", ":80", ":8080"],
                ["", "/", "/A/b/", "/x"],
                ["", "?utm_source=1", "?a=1&utm_x=2&b=3", "?utm_a&utm_b"],
                ["", "#frag"],
            )
        ]
        df = spark.createDataFrame(pd.DataFrame({"url": urls}))
        once = canonical_url(df).select(
            F.col("canonical_url").alias("url"), F.col("url").alias("orig")
        )
        twice = canonical_url(once)
        rows = twice.collect()
        bad = [r for r in rows if r["canonical_url"] != r["url"]]
        assert not bad, bad[:5]
        # schemeless inputs are untouched
        for r in rows:
            if "://" not in r["orig"]:
                assert r["url"] == r["orig"]


class TestHostStats:
    def _crawl(self, spark):
        rows = [
            # a.com: 3 captures of 2 resources (recrawl factor 1.5)
            (0, "https://WWW.a.com/p1"),
            (1, "https://a.com:443/p1"),
            (2, "https://a.com/p2"),
            # b.org: 1 capture
            (3, "http://b.org/only"),
        ]
        return spark.createDataFrame(rows, "doc_id long, url string")

    def test_host_stats_counts(self, spark):
        from cuspatial_spark.textops.urls import canonical_url, host_stats

        got = {
            r["host"]: (r["host_rows"], r["host_urls"])
            for r in host_stats(canonical_url(self._crawl(spark))).collect()
        }
        assert got == {"a.com": (3, 2), "b.org": (1, 1)}

    def test_with_host_signals_attaches_per_row(self, spark):
        from cuspatial_spark.textops.urls import canonical_url, with_host_signals

        out = with_host_signals(canonical_url(self._crawl(spark))).collect()
        assert len(out) == 4
        for r in out:
            if r["host"] == "a.com":
                assert (r["host_rows"], r["host_urls"]) == (3, 2)
            else:
                assert (r["host_rows"], r["host_urls"]) == (1, 1)

    def test_host_expr_codegen_only(self, spark):
        """host extraction adds no shuffle and no Python stage."""
        from cuspatial_spark.textops.urls import canonical_url, host_expr
        from pyspark.sql import functions as F

        df = canonical_url(self._crawl(spark)).withColumn(
            "host", host_expr(F.col("canonical_url"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan


class TestHostSample:
    def _skewed(self, spark, n_hot=200, n_cold=5):
        rows = [(i, f"https://hot.com/p{i}") for i in range(n_hot)]
        rows += [(1000 + i, f"https://cold{i}.org/x") for i in range(n_cold)]
        return spark.createDataFrame(rows, "doc_id long, url string")

    def test_cap_and_determinism(self, spark):
        from cuspatial_spark.textops.urls import canonical_url, host_sample

        df = canonical_url(self._skewed(spark))
        out = host_sample(df, cap=3, order_col="doc_id").toPandas()
        hot = out[out.host == "hot.com"].sort_values("host_rank")
        # exactly cap rows, the cap smallest doc_ids, ranked 1..cap
        assert list(hot.doc_id) == [0, 1, 2]
        assert list(hot.host_rank) == [1, 2, 3]
        # cold hosts keep their single row
        assert len(out) == 3 + 5

    def test_two_phase_equals_one_phase(self, spark):
        """The salted two-phase result must equal a plain window —
        for every salting width."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cuspatial_spark.textops.urls import (
            canonical_url,
            host_expr,
            host_sample,
        )

        df = canonical_url(self._skewed(spark, n_hot=57, n_cold=3))
        w = Window.partitionBy(
            host_expr(F.col("canonical_url"))
        ).orderBy("doc_id")
        expect = (
            df.withColumn("host_rank", F.row_number().over(w))
            .where(F.col("host_rank") <= 4)
            .select("doc_id", "host_rank")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        for n_salts in (1, 2, 16):
            got = (
                host_sample(df, cap=4, order_col="doc_id", n_salts=n_salts)
                .select("doc_id", "host_rank")
                .toPandas()
                .sort_values("doc_id")
                .reset_index(drop=True)
            )
            assert got.equals(expect), n_salts
