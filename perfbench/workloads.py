"""The benchmark workloads.  Each runs a closed loop (one driver
process, one job or read at a time), checks every operation's output
against NumPy oracles, and returns its end-to-end and per-layer
metrics.

Spans name the layer they enter, after the engine's package modules:
``sources``, ``functions``, ``plans``, ``kernels``, ``operators``,
``textops``; ``spark`` covers executing a plan and reading its
counters; ``bench`` is the benchmark's own work.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from cuspatial_spark.kernels.pip import point_in_polygon_pairs
from cuspatial_spark.kernels.segment import point_linestring_distance_pairs
from cuspatial_spark.kernels.zorder import point_keys
from cuspatial_spark.operators import points_in_spatial_window
from cuspatial_spark.plans import (
    assign_tiles,
    point_in_polygon_join,
    tiles_covering_bboxes,
)
from cuspatial_spark.sources.table import TiledTable
from cuspatial_spark.textops.extract import extract_text, wrap_html

from . import inputs as I
from . import oracles as O
from .harness import clock, execute, median, observed, percentile, plan_counters

SETUP_REPEATS = 4
WARMUP_S = 6.0
SAMPLE = 500  # points whose output rows every operation returns for an exact check
COUNTERS = ("exchanges", "exchange_bytes", "arrow_crossings",
            "python_bytes_sent", "python_bytes_returned")
LAYERS = ("sources", "functions", "plans", "kernels", "operators", "textops", "spark")


@dataclass
class Op:
    seconds: float
    points: int
    ok: bool
    error: str = ""
    counters: dict = field(default_factory=dict)
    cpu_s: float = 0.0


@dataclass
class Outcome:
    e2e: dict              # name -> (value, unit): end-to-end metrics
    extra: dict            # name -> (value, unit): this workload's own end-to-end metrics
    layers: dict           # name -> (value, unit): per-layer metrics (traced runs)
    measured_ops: int      # untraced operations the end-to-end metrics rest on


def tile_share_top1pct(x: np.ndarray, y: np.ndarray) -> float:
    """Share of points in the busiest 1 % of join tiles."""
    n = 1 << I.TILE_LEVEL
    w = (I.X_MAX - I.X_MIN) / n
    tx = np.clip(((x - I.X_MIN) / w).astype(np.int64), 0, n - 1)
    ty = np.clip(((y - I.Y_MIN) / w).astype(np.int64), 0, n - 1)
    counts = np.sort(np.bincount(tx * n + ty, minlength=n * n))[::-1]
    return float(counts[: max(1, n * n // 100)].sum() / max(1, len(x)))


def scale() -> float:
    """The joins' default cell size for the shared AOI."""
    return max(I.X_MAX - I.X_MIN, I.Y_MAX - I.Y_MIN) / ((1 << I.MAX_DEPTH) + 2)


def tiled(points):
    return assign_tiles(points, "x", "y", **I.AOI, scale=scale(),
                        max_depth=I.MAX_DEPTH, tile_level=I.TILE_LEVEL)


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def observe(df, fingerprint: list, sample=None):
    """``df`` observed as "fp": the fingerprint terms, then the sample
    rows expression when one is given."""
    return df.observe("fp", *fingerprint, *([sample] if sample is not None else []))


def execute_checked(tr, df, want: list, points: int, start: tuple[float, float],
                    sample_check=None, counters: bool = False) -> Op:
    """Execute a frame built by ``observe`` inside the current op span,
    which began at ``start`` (see ``clock``); check the fingerprint, and
    the sample rows when ``sample_check`` is given; read plan counters
    when tracing or asked to."""
    with tr.span("spark.execute"):
        _, qe = execute(df)
    wall, cpu = clock()
    got = observed(qe, "fp")
    errs = sample_check(json.loads(got.pop())) if sample_check else []
    if not O.same_fingerprint(got, want):
        errs.append(f"output fingerprint {got} != oracle {want}")
    op = Op(wall - start[0], points, not errs, cpu_s=cpu - start[1], error="; ".join(errs))
    if tr.enabled or counters:
        with tr.span("spark.plan_counters"):
            op.counters = plan_counters(qe)
    return op


def collect_points(points):
    """The generated points on the driver, for the oracles: ids, x, y,
    and per id its text and the text's crc32."""
    pdf = points.select("doc_id", "x", "y", "text").toPandas()
    ids = pdf["doc_id"].to_numpy(np.int64)
    texts = dict(zip(ids.tolist(), pdf["text"].tolist()))
    crc = dict(zip(ids.tolist(), O.text_crc(pdf["text"].tolist()).tolist()))
    return ids, pdf["x"].to_numpy(), pdf["y"].to_numpy(), texts, crc


def pip_sample_check(pair_p, pair_g, texts: dict, sample: list[int]):
    """Checks the sample rows {pid, polygon_id, text} of a PIP join:
    exactly the oracle's pairs, and text byte-identical per url."""
    keep = np.isin(pair_p, sample)
    want = sorted(zip(pair_p[keep].tolist(), pair_g[keep].tolist()))

    def check(rows):
        errs = []
        got = sorted((r["pid"], r["polygon_id"]) for r in rows)
        if got != want:
            errs.append(f"sample PIP pairs differ: {len(got)} returned, {len(want)} in the oracle")
        bad = sum(r["text"] != texts[r["pid"]] for r in rows)
        if bad:
            errs.append(f"{bad} sample texts not byte-identical to the generated pages")
        return errs
    return check


class Workload:
    """Shared closed-loop driver; subclasses supply setup, prepare and op."""

    name = ""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.notes: list[str] = []
        self.phases: dict[str, float] = {}
        # Whether ops also bring back their sample rows for the exact
        # check.  Every op is fingerprinted; the sample costs a few
        # percent, so measured ops skip it and the warm-up and
        # after-loop ops carry it.
        self.sampled = True

    def setup(self) -> None:
        """Build the inputs the program is given (timed, repeated)."""

    def release(self) -> None:
        """Drop what setup cached, before setting up again."""

    def prepare(self) -> None:
        """Compute the oracles (untimed)."""

    def op(self) -> Op:
        raise NotImplementedError

    @contextmanager
    def phase(self, name: str):
        """Wall time of one stage of the run, for the report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def record(self, op: Op) -> Op:
        self.ops.append(op)
        if not op.ok and len(self.errors) < 5:
            self.errors.append(op.error)
        return op

    def setup_median(self) -> float:
        """Median of SETUP_REPEATS timed set-ups, after one untimed
        set-up that takes the JVM's first-job costs."""
        times = []
        for i in range(SETUP_REPEATS + 1):
            if i:
                self.release()
            dt, _ = timed(self.setup)
            times.append(dt)
        return median(times[1:])

    def warm_up(self, seconds: float = WARMUP_S, min_ops: int = 3) -> None:
        """Run operations for ``seconds`` and at least ``min_ops`` of
        them: the JVM keeps compiling hot code for several operations,
        so the first ones run slower than the rest."""
        t_end = time.perf_counter() + seconds
        n = 0
        while n < min_ops or time.perf_counter() < t_end:
            self.record(self.op())
            n += 1

    def closed_loop(self, seconds: float, min_ops: int = 2) -> list[Op]:
        start = len(self.ops)
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(self.ops) - start < min_ops:
            self.record(self.op())
        return self.ops[start:]

    def measure(self, seconds: float, trace: bool) -> tuple[list[Op], list[Op]]:
        """Untraced ops for the whole run; when tracing, untraced ops for
        the first half and traced ops for the second."""
        self.sampled = False
        try:
            if not trace:
                return self.closed_loop(seconds), []
            plain = self.closed_loop(seconds / 2)
            self.tr.enabled = True
            traced = self.closed_loop(seconds / 2)
            self.tr.enabled = False
            return plain, traced
        finally:
            self.sampled = True

    def join_e2e(self, setup_s: float, ops: list[Op]) -> dict:
        ms = [o.seconds * 1e3 for o in ops]
        p25 = percentile(ms, 25)
        return {
            "setup_s": (setup_s, "s"),
            "points_per_s": (1e3 * median([o.points for o in ops]) / p25, "1/s"),
            "cpu_us_per_point": (1e6 * percentile([o.cpu_s / o.points for o in ops], 25), "us"),
            "op_ms_p25": (p25, "ms"),
            "op_ms_p50": (percentile(ms, 50), "ms"),
            "op_ms_p90": (percentile(ms, 90), "ms"),
        }

    def common_layers(self, plain: list[Op], traced: list[Op]) -> dict:
        """Plan counters, per-layer self time (median per traced op) and
        the tracing overhead (traced minus untraced median op)."""
        st = self.tr.self_times("bench.op")
        out = {f"spark.{k}": (median([o.counters.get(k, 0) for o in traced]),
                              "count" if k in ("exchanges", "arrow_crossings") else "bytes")
               for k in COUNTERS}
        out.update({f"{layer}.self_s": (median(st.get(layer, [])), "s") for layer in LAYERS})
        out["trace.overhead_ms"] = (1e3 * (median([o.seconds for o in traced])
                                           - median([o.seconds for o in plain])), "ms")
        return out

    def run(self, seconds: float, trace: bool) -> Outcome:
        raise NotImplementedError


def probe_assign_tiles(tr, points, reps: int = 3) -> float:
    """functions layer alone: tile assignment to a noop sink, rows/s."""
    rates = []
    for _ in range(reps):
        with tr.span("functions.assign_tiles"):
            t0 = time.perf_counter()
            n, _ = execute(tiled(points))
            rates.append(n / (time.perf_counter() - t0))
    return median(rates)


def probe_kernels(tr, seed: int, x, y, polys, roads, pairs: int = 20_000) -> dict:
    """kernels layer alone: direct calls on a fixed batch built from the
    workload's points, shaped like a tile's candidates (many pairs per
    polygon / road).  Median of five calls, in ns per pair or point."""
    rng = np.random.default_rng([seed, 5])
    pick = rng.choice(len(x), size=min(pairs, len(x)), replace=False)
    kx, ky = x[pick], y[pick]
    kpoly = rng.choice(len(polys), 40)[rng.integers(0, 40, len(pick))]
    kline = rng.choice(len(roads), 40)[rng.integers(0, 40, len(pick))]
    out = {}
    for name, fn, n in (
        ("kernels.pip_ns_per_pair", lambda: point_in_polygon_pairs(
            kx, ky, kpoly, polys.part_offsets, polys.ring_offsets, polys.x, polys.y), len(kx)),
        ("kernels.segment_ns_per_pair", lambda: point_linestring_distance_pairs(
            kx, ky, kline, roads.part_offsets, roads.x, roads.y), len(kx)),
        ("kernels.zorder_ns_per_point", lambda: point_keys(
            x, y, I.X_MIN, I.X_MAX, I.Y_MIN, I.Y_MAX, scale(), I.MAX_DEPTH), len(x)),
    ):
        ts = []
        for _ in range(5):
            with tr.span(name.split("_ns_")[0]):
                dt, _ = timed(fn)
            ts.append(dt)
        out[name] = (1e9 * median(ts) / n, "ns")
    return out


# ======================================================== pip_broadcast


class PipBroadcast(Workload):
    """Flagship: cached uniform geotagged pages joined against a few
    hundred polygons by the broadcast tile join, keeping url and text."""

    name = "pip_broadcast"
    N = 100_000
    KEEP = ["url", "text"]

    def setup(self):
        self.polys = I.polygon_layer(self.seed)
        self.points = I.uniform_points(I.pages(self.spark, self.N, self.seed)).cache()
        self.points.count()

    def release(self):
        self.points.unpersist(blocking=True)

    def join(self, points):
        return point_in_polygon_join(
            points, self.polys, **I.AOI, max_depth=I.MAX_DEPTH,
            tile_level=I.TILE_LEVEL, keep_columns=self.KEEP,
        )

    def prepare(self):
        self.ids, self.x, self.y, texts, crc = collect_points(self.points)
        p, g = O.pip_pairs(self.ids, self.x, self.y, self.polys)
        self.pairs = len(p)
        sample = np.random.default_rng([self.seed, 9]).choice(self.ids, SAMPLE, replace=False)
        # the full set, and its weak-scaling twin: a quarter of the
        # points in ONE partition
        self.cases = {}
        quarter = self.points.where(F.col("doc_id") % 4 == 0).coalesce(1).cache()
        for name, points, keep in (("all", self.points, np.ones(len(p), bool)),
                                   ("quarter", quarter, p % 4 == 0)):
            pk, gk = p[keep], g[keep]
            pcrc = np.fromiter((crc[i] for i in pk.tolist()), np.int64, len(pk))
            s = [int(i) for i in sample if name == "all" or i % 4 == 0]
            self.cases[name] = (points, points.count(), O.fingerprint(pk, gk, pcrc), s,
                                pip_sample_check(pk, gk, texts, s))

    def op(self, case: str = "all") -> Op:
        points, n, want, sample, check = self.cases[case]
        tr = self.tr
        with tr.span("bench.op"):
            start = clock()
            with tr.span("plans.point_in_polygon_join"):
                df = self.join(points)
            pid = O.url_id(F.col("url"))
            fp = O.fingerprint_exprs(pid, F.col("polygon_id"), F.col("text"))
            if not self.sampled:
                return execute_checked(tr, observe(df, fp), want, n, start)
            rows = O.sample_rows_expr(pid, sample, polygon_id=F.col("polygon_id"),
                                      text=F.col("text"))
            return execute_checked(tr, observe(df, fp, rows), want, n, start, check,
                                   counters=True)

    def path_note(self) -> str:
        """Which refine ``refine='auto'`` ran, read off the executed plan
        of the last sampled op: the kernel refine is an Arrow crossing,
        the JVM ray cast is not."""
        c = self.ops[-1].counters
        path = "the JVM ray cast" if c["arrow_crossings"] == 0 else "the Arrow kernel refine"
        return (f"point_in_polygon_join refine='auto' ran {path}: {c['exchanges']} exchanges, "
                f"{c['arrow_crossings']} Arrow crossings in the executed plan")

    def run(self, seconds, trace):
        with self.phase("setup"):
            setup_s = self.setup_median()
        with self.phase("prepare"):
            self.prepare()
        with self.phase("warm_up"):
            self.warm_up()
        self.notes.append(self.path_note())
        with self.phase("measure"):
            plain, traced = self.measure(seconds, trace)
        with self.phase("scaling"):
            # weak scaling: N/4 points on one task vs N points on four
            one_task = [self.record(self.op("quarter")) for _ in range(2)]
        extra = {
            "scaling_eff": (median([o.seconds for o in one_task])
                            / median([o.seconds for o in plain]), "ratio"),
            "hot_tile_share": (tile_share_top1pct(self.x, self.y), "ratio"),
            "result_pairs": (self.pairs, "count"),
        }
        layers = {}
        if trace:
            with self.phase("layer_probes"):
                layers = self.layers(plain, traced)
        return Outcome(self.join_e2e(setup_s, plain), extra, layers, len(plain))

    def layers(self, plain, traced):
        tr = self.tr
        tr.enabled = True
        with tr.span("bench.probe"):
            assign = probe_assign_tiles(tr, self.points)
            filter_s, cand_rows, tiles = self.filter_job()
            kernels = probe_kernels(tr, self.seed, self.x, self.y, self.polys,
                                    I.road_layer(self.seed))
        tr.enabled = False
        build = median(tr.durations("plans.point_in_polygon_join"))
        join_s = median([o.seconds for o in traced])
        self.notes.append("sources.*, textops.*, spark.scan_*: layer not exercised by "
                          "pip_broadcast; kernels.* are direct probes, which this "
                          "workload's joins do not call")
        return {
            **kernels,
            "functions.tile_assign_rows_per_s": (assign, "1/s"),
            "plans.plan_build_s": (build, "s"),
            "plans.filter_s": (filter_s, "s"),
            "plans.refine_s": (join_s - build - filter_s, "s"),
            "plans.candidates_per_pair": (cand_rows / max(1, self.pairs), "ratio"),
            "plans.poly_tile_rows": (tiles, "count"),
            "plans.hot_tile_share": (tile_share_top1pct(self.x, self.y), "ratio"),
            **self.common_layers(plain, traced),
        }

    def filter_job(self, reps: int = 3):
        """The join's filter phase alone: points' tiles equi-joined to
        the polygons' covered tiles, built from the plan's own public
        pieces.  Returns (median seconds, candidate rows, tile rows)."""
        minx, miny, maxx, maxy = self.polys.bounding_boxes()
        idx, tiles = tiles_covering_bboxes(minx, miny, maxx, maxy, I.X_MIN, I.Y_MIN,
                                           scale(), I.MAX_DEPTH, I.TILE_LEVEL)
        poly_tiles = self.spark.createDataFrame(
            [(int(t), int(i)) for t, i in zip(tiles, idx)], "tile long, poly long")
        times, rows = [], 0
        for _ in range(reps):
            with self.tr.span("plans.filter"):
                t0 = time.perf_counter()
                cand = tiled(self.points).join(F.broadcast(poly_tiles), on="tile") \
                    .select(*self.KEEP, "x", "y", "poly")
                rows, _ = execute(cand)
                times.append(time.perf_counter() - t0)
        return median(times), rows, len(tiles)


# ========================================================== tile_ingest


class TileIngest(Workload):
    """Writes beside reads: append commits of freshly extracted pages,
    one compaction and one expiry, then a closed loop of window reads."""

    name = "tile_ingest"
    # many small commits: the gated ingest rate is a percentile of the
    # commit times, so it needs samples more than it needs big commits
    BATCH = 2_000
    COMMITS = 16
    WARM_COMMITS = 2
    TABLE_TILE_LEVEL = 2

    def setup(self):
        # batch 0 warms the writer; batches 1..COMMITS are measured
        n = self.BATCH * (self.COMMITS + 1)
        self.src = I.pages(self.spark, n, self.seed).cache()
        self.src.count()
        self.offset = I.page_offset(self.seed, n)

    def release(self):
        self.src.unpersist(blocking=True)

    def batch(self, k: int, end: int | None = None):
        """Source pages of batches k .. end - 1 (default: batch k)."""
        lo = self.offset + k * self.BATCH
        hi = self.offset + (end if end is not None else k + 1) * self.BATCH
        return self.src.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    def commit_frame(self, k: int, end: int | None = None):
        """wrap_html -> extract_text -> geotag: the pages a commit stores,
        with the extracted text as their ``text``."""
        tr = self.tr
        with tr.span("textops.wrap_html"):
            df = wrap_html(self.batch(k, end), text_col="text", id_col="doc_id", result="html")
        with tr.span("textops.extract_text"):
            df = extract_text(df, html_col="html", result="extracted")
        df = df.select("url", "warc_ts", "lang", "html", F.col("extracted").alias("text"), "doc_id")
        return I.uniform_points(df)

    def extracted(self, k: int):
        return extract_text(wrap_html(self.batch(k), "text", "doc_id", "html"), "html", "extracted")

    def prepare(self):
        pdf = I.uniform_points(self.src).select("doc_id", "x", "y", "text").toPandas()
        ids = pdf["doc_id"].to_numpy(np.int64)
        self.x, self.y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
        crc = O.text_crc(pdf["text"].tolist())
        measured = ids >= self.offset + self.BATCH
        self.m_ids, self.m_x, self.m_y = ids[measured], self.x[measured], self.y[measured]
        self.want_table = O.fingerprint(self.m_ids, crc=crc[measured])
        self.want_extract = O.fingerprint(ids[~measured], crc=crc[~measured])
        # user bytes: what the committed rows hold, before any encoding
        row_bytes = (F.octet_length("url") + F.octet_length("html") + F.octet_length("text")
                     + F.octet_length("lang") + F.lit(8 * 4))  # warc_ts, doc_id, x, y
        self.user_bytes = self.commit_frame(1, self.COMMITS + 1).agg(F.sum(row_bytes)).first()[0]
        self.windows = np.random.default_rng([self.seed, 6])

    def next_window(self):
        """City-sized (0.2) to region-sized (2.0) squares, log-uniform."""
        r = self.windows
        size = float(np.exp(r.uniform(np.log(0.2), np.log(2.0))))
        x0 = float(r.uniform(I.X_MIN, I.X_MAX - size))
        y0 = float(r.uniform(I.Y_MIN, I.Y_MAX - size))
        return (x0, x0 + size, y0, y0 + size)

    def commit(self, table, k: int) -> tuple[float, float]:
        """Commit batch k; returns its (wall, CPU) seconds."""
        w0, c0 = clock()
        df = self.commit_frame(k)
        with self.tr.span("sources.TiledTable.commit"):
            table.commit(df, "x", "y", **I.AOI, max_depth=I.MAX_DEPTH,
                         tile_level=self.TABLE_TILE_LEVEL, source=f"batch-{k}")
        w1, c1 = clock()
        return w1 - w0, c1 - c0

    def op(self) -> Op:
        tr = self.tr
        w = self.next_window()
        mask = O.in_window(self.m_x, self.m_y, w)
        with tr.span("bench.op"):
            start = clock()
            with tr.span("sources.TiledTable.read"):
                df = self.table.read(self.spark, window=w)
            with tr.span("operators.points_in_spatial_window"):
                df = points_in_spatial_window(df, *w)
            df = observe(df, O.fingerprint_exprs(F.col("doc_id")))
            op = execute_checked(tr, df, O.fingerprint(self.m_ids[mask]), int(mask.sum()), start)
        if tr.enabled:
            op.counters["rows_returned"] = op.points
        return op

    def verify(self) -> None:
        """The full read-back and the extractor alone, each checked
        against the generated pages: every row once, text byte-identical
        per url."""
        for name, df, want in (
            ("read-back", self.table.read(self.spark).select("doc_id", "text"), self.want_table),
            ("extract_text", self.extracted(0).select("doc_id", F.col("extracted").alias("text")),
             self.want_extract),
        ):
            t0 = time.perf_counter()
            _, qe = execute(df.observe("fp", *O.fingerprint_exprs(F.col("doc_id"),
                                                                  text=F.col("text"))))
            ok = O.same_fingerprint(observed(qe, "fp"), want)
            self.record(Op(time.perf_counter() - t0, want[0], ok,
                           "" if ok else f"{name}: rows or text differ from the generated pages"))

    def run(self, seconds, trace):
        with self.phase("setup"):
            setup_s = self.setup_median()
        with self.phase("prepare"):
            self.prepare()
        with self.phase("warm_up"):
            # warm the writer on a throwaway table (a commit's CPU time
            # still falls by half over the next sixteen, as the JVM
            # compiles the write path); the window reads warm up below
            warm = TiledTable(os.path.join(self.work, "warm-table"))
            for _ in range(self.WARM_COMMITS):
                self.commit(warm, 0)
            shutil.rmtree(warm.path, ignore_errors=True)
        with self.phase("ingest"):
            self.tr.enabled = trace
            self.table = TiledTable(os.path.join(self.work, "table"))
            commit_s, commit_cpu = zip(*(self.commit(self.table, k)
                                         for k in range(1, self.COMMITS + 1)))
            self.notes.append("commit_ms " + " ".join(f"{t * 1e3:.0f}" for t in commit_s))
            self.notes.append("commit_cpu_ms " + " ".join(f"{t * 1e3:.0f}" for t in commit_cpu))
            commit_files = _du(self.table.path)[1]
            with self.tr.span("sources.TiledTable.compact"):
                compact_s, _ = timed(self.table.compact, self.spark)
            written, files = _du(self.table.path)
            with self.tr.span("sources.TiledTable.expire_snapshots"):
                self.table.expire_snapshots()
            live, _ = _du(self.table.path)
            self.tr.enabled = False
        with self.phase("warm_up"):
            self.warm_up(seconds=2.0, min_ops=5)
        with self.phase("measure"):
            # the commits above are half of this workload's measurement
            plain, traced = self.measure(seconds / 2, trace)
        with self.phase("verify"):
            self.verify()
        ingest_rate = self.BATCH / percentile(commit_s, 25)
        ms = [o.seconds * 1e3 for o in plain]
        e2e = {
            "setup_s": (setup_s, "s"),
            "points_per_s": (ingest_rate, "1/s"),
            "cpu_us_per_point": (1e6 * percentile(commit_cpu, 25) / self.BATCH, "us"),
            "op_ms_p25": (percentile(ms, 25), "ms"),
            "op_ms_p50": (percentile(ms, 50), "ms"),
            "op_ms_p90": (percentile(ms, 90), "ms"),
        }
        extra = {
            "ingest_rows_per_s": (ingest_rate, "1/s"),
            "compact_s": (compact_s, "s"),
            "write_amp": (written / self.user_bytes, "ratio"),
            "space_amp": (live / self.user_bytes, "ratio"),
            "window_ms_p50": (percentile(ms, 50), "ms"),
            "window_ms_p90": (percentile(ms, 90), "ms"),
            "window_rows_per_s": (sum(o.points for o in plain) / sum(o.seconds for o in plain),
                                  "1/s"),
            "hot_tile_share": (tile_share_top1pct(self.x, self.y), "ratio"),
        }
        layers = {}
        if trace:
            with self.phase("layer_probes"):
                layers = self.layers(plain, traced, written, files, commit_files)
        return Outcome(e2e, extra, layers, len(plain))

    def layers(self, plain, traced, written, files, commit_files):
        tr = self.tr
        tr.enabled = True
        with tr.span("bench.probe"):
            rates = []
            for _ in range(3):
                with tr.span("textops.extract_text"):
                    t0 = time.perf_counter()
                    n, _ = execute(self.extracted(0))
                    rates.append(n / (time.perf_counter() - t0))
        tr.enabled = False
        returned = sum(o.counters.get("rows_returned", 0) for o in traced)
        self.notes.append("functions.*, plans.* (but hot_tile_share), kernels.*, "
                          "spark.exchange*/python_*: layer not exercised by tile_ingest")
        return {
            "sources.commit_s": (median(tr.durations("sources.TiledTable.commit")), "s"),
            "sources.bytes_written": (written, "bytes"),
            "sources.files_written": (files, "count"),
            "sources.commit_files": (commit_files, "count"),
            "textops.extract_rows_per_s": (median(rates), "1/s"),
            "sources.read_plan_ms": (1e3 * median(tr.durations("sources.TiledTable.read")), "ms"),
            "spark.scan_files_per_window": (median([o.counters.get("scan_files", 0)
                                                    for o in traced]), "count"),
            "spark.scan_rows_per_row_returned": (
                sum(o.counters.get("scan_rows", 0) for o in traced) / max(1, returned), "ratio"),
            "plans.hot_tile_share": (tile_share_top1pct(self.x, self.y), "ratio"),
            **self.common_layers(plain, traced),
        }


def _du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files


WORKLOADS = {w.name: w for w in (PipBroadcast, TileIngest)}
