"""Tiny-size self-check of the benchmark's output checks.

    python3 perfbench/selfcheck.py

Runs the real joins and a window read at a few thousand points, checks
that their untouched output passes, then feeds the same checks outputs
with one pair dropped, one pair's id changed, one text changed and one
distance nudged, and requires every one of them to fail.  Exit code 0
when the checks behave, 1 when any corruption slips through.
"""

from __future__ import annotations

import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from cuspatial_spark.operators import points_in_spatial_window
    from cuspatial_spark.plans import point_in_polygon_join, point_to_nearest_linestring_join
    from perfbench import inputs as I
    from perfbench import oracles as O
    from perfbench.harness import Tracer, clock, start_spark, stop_spark
    from perfbench.workloads import collect_points, execute_checked, observe, pip_sample_check

    work = os.path.join(ROOT, ".bench_work", f"selfcheck-{os.getpid()}")
    spark = start_spark(ROOT, work, 2)
    tr = Tracer("selfcheck", "selfcheck", enabled=False)
    failures = []
    try:
        seed = 7
        polys = I.polygon_layer(seed, n=20)
        roads = I.road_layer(seed, n_random=10)
        points = I.uniform_points(I.pages(spark, 4000, seed)).cache()
        ids, x, y, texts, crc = collect_points(points)
        p, g = O.pip_pairs(ids, x, y, polys)
        if len(p) < 10:
            raise RuntimeError("self-check layer yields too few pairs to corrupt")
        want_pip = O.fingerprint(p, g, [crc[i] for i in p.tolist()])
        victim = int(p[0])  # a point with a pair; it is in the sample
        sample = sorted({victim, *ids[:200].tolist()})
        check_pip = pip_sample_check(p, g, texts, sample)
        pid = O.url_id(F.col("url"))

        def pip_verdict(df) -> bool:
            df = observe(df, O.fingerprint_exprs(pid, F.col("polygon_id"), F.col("text")),
                         O.sample_rows_expr(pid, sample, polygon_id=F.col("polygon_id"),
                                            text=F.col("text")))
            return execute_checked(tr, df, want_pip, 0, clock(), check_pip).ok

        join = point_in_polygon_join(points, polys, **I.AOI, max_depth=I.MAX_DEPTH,
                                     tile_level=I.TILE_LEVEL, keep_columns=["url", "text"])
        hit = pid == victim
        cases = {
            "pip clean": (join, True),
            "pip dropped pair": (join.where(~hit), False),
            "pip corrupted polygon id": (join.withColumn(
                "polygon_id", F.when(hit, F.col("polygon_id") + 1).otherwise(F.col("polygon_id"))),
                False),
            "pip corrupted text": (join.withColumn(
                "text", F.when(hit, F.concat(F.col("text"), F.lit(" "))).otherwise(F.col("text"))),
                False),
            "pip duplicated pair": (join.unionByName(join.where(hit)), False),
        }
        for name, (df, expect) in cases.items():
            if pip_verdict(df) != expect:
                failures.append(name)

        near_id, near_d = O.nearest_lines(x, y, roads, I.ROAD_RADIUS)
        want_near = O.fingerprint(ids, near_id, distance=near_d)
        near = point_to_nearest_linestring_join(
            points, roads, I.ROAD_RADIUS, **I.AOI, max_depth=I.MAX_DEPTH,
            tile_level=I.TILE_LEVEL, keep_columns=["url"], refine="kernel")
        hit = pid == int(ids[0])
        for name, df, expect in (
            ("nearest clean", near, True),
            ("nearest wrong road", near.withColumn("linestring_id", F.when(
                hit, F.col("linestring_id") + 1).otherwise(F.col("linestring_id"))), False),
            ("nearest wrong distance", near.withColumn("distance", F.when(
                hit, F.col("distance") * 1.001).otherwise(F.col("distance"))), False),
        ):
            df = observe(df, O.fingerprint_exprs(pid, F.col("linestring_id"),
                                                 distance=F.col("distance")))
            if execute_checked(tr, df, want_near, 0, clock()).ok != expect:
                failures.append(name)

        w = (1.0, 3.0, 2.0, 5.0)
        want_w = O.fingerprint(ids[O.in_window(x, y, w)])
        window = points_in_spatial_window(points, *w)
        for name, df, expect in (
            ("window clean", window, True),
            ("window dropped row", window.where(F.col("doc_id") != int(ids[O.in_window(x, y, w)][0])),
             False),
        ):
            df = observe(df, O.fingerprint_exprs(F.col("doc_id")))
            if execute_checked(tr, df, want_w, 0, clock()).ok != expect:
                failures.append(name)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if failures:
        print("self-check FAILED: " + ", ".join(failures))
        return 1
    print("self-check passed: clean outputs pass; dropped, corrupted and duplicated "
          "pairs, rows and texts fail")
    return 0


if __name__ == "__main__":
    sys.exit(main())
