"""Versioned tiled table: snapshot commits, time travel, stats pruning.

The north-rule job reads "an Iceberg table of Common-Crawl-style web
pages" and must be "resumable from Iceberg snapshot".  The sandbox has
no Iceberg runtime, so this module provides the same contract over
plain parquet + JSON manifests (the ops/runner.py manifest idea lifted
to the table level):

- **Snapshot commits** — every ``commit`` writes its rows into an
  immutable per-snapshot directory (spatially clustered via
  sources/writer.write_tiled) and then atomically publishes a manifest
  (write-temp + rename).  A crashed commit leaves no manifest, so the
  table never exposes partial data — the reader's view is always a
  prefix of fully committed snapshots.
- **Time travel** — ``read(spark, version=k)`` is the union of
  snapshots 1..k; default is the latest.
- **Stats pruning** — each manifest lists its parquet files, each
  with its tile, row count and x/y bounds, plus the Spark schema, all
  read off the written files' parquet footers on the driver (a commit
  runs no Spark job besides the write itself).  ``read(window=...)``
  plans from the manifests alone: it keeps the files whose bounds
  meet the window and reads them with the recorded schema, so it
  lists no snapshot directory and runs no schema-inference job;
  parquet min/max then skip row groups inside the kept files.  At
  10^12 documents this is the difference between listing every file
  and touching only the files under the window.
- **Lineage** — manifests carry the commit's row count, bounds,
  cluster curve, and a caller-supplied ``source`` tag; ``history()``
  returns the chain.
- **Compaction** — a stream of small appends (the streaming ingest
  path commits per micro-batch) accumulates many small files per
  tile; ``compact()`` rewrites the current effective view as ONE new
  snapshot (same tiled clustering) whose manifest records
  ``compacted_through``, and ``read`` then unions only the compaction
  base plus later appends.  Old snapshots stay on disk so time travel
  below the compaction keeps working until ``expire_snapshots()``
  reclaims them (tombstone marker + data delete) — the Iceberg
  rewrite-data-files / expire-snapshots maintenance pair.

The table root is a directory on the driver's local filesystem (or a
mount every executor shares): versions are listed with ``os.listdir``,
manifests published with ``os.link``/``os.replace``, and the footers
behind each manifest read with ``pyarrow.parquet``.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructType

from .writer import write_tiled


def _meets(bounds: dict | None, window) -> bool:
    """Inclusive test of a file's x/y bounds against a window whose
    reversed bounds are swapped, as points_in_spatial_window swaps
    them; None (no stats) always meets, and so does a NaN bound."""
    if bounds is None:
        return True
    x0, x1 = sorted(window[:2])
    y0, y1 = sorted(window[2:])
    return not (
        bounds["x_lo"] > x1 or bounds["x_hi"] < x0
        or bounds["y_lo"] > y1 or bounds["y_hi"] < y0
    )


def _fold(boxes: list) -> dict | None:
    """The x/y bounds of row groups' or files' bounds; None when there
    are none or one is None.  Parquet orders NaN above every double, as
    Spark's min/max do: a NaN max wins, a NaN min only when every min
    is NaN."""
    if not boxes or None in boxes:
        return None
    return {
        k: float((np.fmin if k.endswith("_lo") else np.maximum).reduce([b[k] for b in boxes]))
        for k in ("x_lo", "x_hi", "y_lo", "y_hi")
    }


class TiledTable:
    """A directory-backed, append-only, versioned spatial table."""

    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # ----------------------------------------------------------- manifests

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:05d}.json")

    def current_version(self) -> int:
        versions = []
        for f in os.listdir(self.manifest_dir):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            path = os.path.join(self.manifest_dir, f)
            try:
                # zero-size = a crashed fallback publish mid-claim, not
                # a committed version; skipping it lets the next
                # commit() re-claim and adopt it (see commit fallback)
                if os.path.getsize(path) == 0:
                    continue
            except OSError:
                continue
            versions.append(int(f[1:6]))
        return max(versions, default=0)

    def history(self) -> list[dict]:
        out = []
        for v in range(1, self.current_version() + 1):
            m = self._load_manifest(v)
            # manifests store root-relative dirs (older ones absolute);
            # expose resolved paths to callers
            m["snapshot_dir"] = self._resolve(m["snapshot_dir"])
            if os.path.exists(self._manifest_path(v) + ".expired"):
                m["expired"] = True
            out.append(m)
        return out

    def _resolve(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.path, p)

    def _load_manifest(self, version: int) -> dict:
        """Both publish paths (hard-link and the O_EXCL-claim +
        os.replace fallback) expose manifests whole, so a torn read is
        not expected; a short retry covers the claim window where the
        fallback's lock file is still empty."""
        import time

        path = self._manifest_path(version)
        for attempt in range(10):
            try:
                with open(path) as f:
                    return json.load(f)
            except (json.JSONDecodeError, ValueError):
                time.sleep(0.05)
        raise RuntimeError(
            f"manifest {path} unreadable after retries — likely a "
            "crashed fallback publish (empty claim file).  The next "
            "commit() recovers it once it is >10 s old; deleting the "
            "file also recovers."
        )

    # -------------------------------------------------------------- commit

    def commit(
        self,
        df: DataFrame,
        x: str,
        y: str,
        x_min: float,
        x_max: float,
        y_min: float,
        y_max: float,
        max_depth: int = 12,
        tile_level: int = 4,
        cluster: str = "morton",
        source: str = "",
    ) -> int:
        """Write df as the next snapshot; returns the new version.
        The snapshot directory is written FIRST, the manifest LAST
        (atomic fail-if-exists link) — a failure between the two leaves
        an orphan data directory that no reader will ever see.  Safe
        under concurrent committers: two writers racing on version N+1
        cannot both publish it — the loser's link raises FileExistsError
        and it retries with a fresh version number (its data dir name is
        uuid-suffixed, so no data collision either)."""
        version = self.current_version() + 1
        snap_dir = os.path.join(
            self.path, "data", f"snap-{version:05d}-{uuid.uuid4().hex[:8]}"
        )
        write_tiled(
            df, snap_dir, x, y, x_min, x_max, y_min, y_max,
            max_depth=max_depth, tile_level=tile_level, cluster=cluster,
        )
        layout = {
            "max_depth": max_depth, "tile_level": tile_level,
            "cluster": cluster,
            "aoi": [x_min, x_max, y_min, y_max],
            "x_col": x, "y_col": y,
        }
        manifest = self._build_manifest(version, snap_dir, x, y, layout, source)
        return self._publish(manifest, version)

    def _build_manifest(
        self, version, snap_dir, x, y, layout, source, **extra
    ) -> dict:
        """A written snapshot's manifest, read off its parquet footers
        on the driver, with no Spark job.  ``files`` lists each
        non-empty file with its root-relative path, its tile (the
        ``tile=K`` directory), its rows (the row-group row counts) and
        its ``bounds`` (the min/max of the x and y column statistics);
        ``schema`` is the Spark schema JSON Spark writes into every
        footer.  ``rows``, ``tiles`` and ``bounds`` sum and fold the
        files.  A non-empty row group without min/max for x or y makes
        its file's bounds, and the snapshot's, None: "never prune"."""
        import pyarrow.parquet as pq

        files, tiles, schema = [], {}, None
        for part in sorted(os.listdir(snap_dir)):
            if not part.startswith("tile="):
                continue
            tile = part[len("tile="):]
            for name in sorted(os.listdir(os.path.join(snap_dir, part))):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(snap_dir, part, name)
                meta = pq.read_metadata(path)
                if schema is None:
                    # Spark writes the frame's schema into every footer
                    schema = json.loads(
                        meta.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
                    )
                cols = [meta.schema.column(j).path for j in range(meta.num_columns)]
                xy = (cols.index(x), cols.index(y))
                groups, rows = [], 0
                for i in range(meta.num_row_groups):
                    group = meta.row_group(i)
                    if group.num_rows == 0:
                        continue
                    rows += group.num_rows
                    sx, sy = (group.column(j).statistics for j in xy)
                    groups.append(
                        {"x_lo": sx.min, "x_hi": sx.max, "y_lo": sy.min, "y_hi": sy.max}
                        if all(s is not None and s.has_min_max for s in (sx, sy))
                        else None
                    )
                if rows:
                    files.append({
                        "path": os.path.relpath(path, self.path),
                        "tile": int(tile),
                        "rows": rows,
                        "bounds": _fold(groups),
                    })
                    tiles[tile] = tiles.get(tile, 0) + rows
        return {
            "version": version,
            "parent": version - 1 if version > 1 else None,
            # table-root-relative (like Iceberg's manifests): the table
            # directory can be moved/cloned and manifests stay valid
            "snapshot_dir": os.path.relpath(snap_dir, self.path),
            "rows": sum(tiles.values()),
            "bounds": _fold([f["bounds"] for f in files]),
            "tiles": tiles,
            "files": files,
            "schema": schema,
            "layout": layout,
            "source": source,
            **extra,
        }

    def _publish(self, manifest: dict, version: int) -> int:
        while True:
            manifest["version"] = version
            manifest["parent"] = version - 1 if version > 1 else None
            final = self._manifest_path(version)
            tmp = final + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=1)
            try:
                # hard-link is the fail-if-exists publish primitive:
                # unlike os.rename it cannot silently replace a
                # manifest another committer just won
                os.link(tmp, final)
                os.unlink(tmp)
                return version
            except FileExistsError:
                os.unlink(tmp)
                version = self.current_version() + 1
            except OSError:
                # filesystem without hard links (or one that raises
                # EPERM/ENOTSUP instead of FileExistsError): fall back
                # to O_CREAT|O_EXCL as the CLAIM primitive only — the
                # empty file is the lock; the content is still
                # published whole via os.replace, so a reader can
                # never observe a torn manifest.
                try:
                    fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    # a crashed fallback publish (killed between the
                    # O_EXCL claim and the replace) leaves an EMPTY
                    # manifest that would otherwise wedge this version
                    # forever.  Recovery must be single-winner AND must
                    # never delete a manifest someone just published:
                    # RENAME is the atomic arbiter — exactly one
                    # recoverer's rename succeeds, and the freshness /
                    # emptiness decision is then made on the renamed
                    # file, which no other process can touch (a bare
                    # stat-then-unlink would let a recoverer that
                    # descheduled between stat and unlink delete a
                    # freshly re-claimed lock or a just-published
                    # manifest).
                    import time as _time

                    try:
                        st = os.stat(final)
                        if st.st_size == 0 and _time.time() - st.st_mtime > 10.0:
                            grave = final + f".stale-{uuid.uuid4().hex}"
                            os.rename(final, grave)  # atomic single winner
                            gst = os.stat(grave)
                            if gst.st_size == 0 and _time.time() - gst.st_mtime > 10.0:
                                os.unlink(grave)  # genuinely dead claim
                                os.unlink(tmp)
                                continue  # re-claim the SAME version
                            # raced a live re-claim or a publish that
                            # landed between stat and rename: put it
                            # back if the slot is still free, then
                            # treat the version as held
                            try:
                                os.rename(grave, final)
                            except OSError:
                                pass
                            _time.sleep(0.05)
                        elif st.st_size == 0:
                            # a LIVE fallback writer owns this claim:
                            # wait briefly rather than spin on the same
                            # version (current_version skips empties)
                            _time.sleep(0.05)
                    except OSError:
                        pass
                    os.unlink(tmp)
                    version = self.current_version() + 1
                    continue
                os.close(fd)
                # claim held (the O_EXCL empty file); publish whole
                os.replace(tmp, final)
                # verify ownership: if a >10s-frozen writer's replace
                # overwrote ours (the residual race the rename arbiter
                # cannot close), our uuid-suffixed snapshot_dir will
                # not be in the file — treat as lost and re-publish at
                # a fresh version rather than silently dropping this
                # snapshot from history
                try:
                    with open(final) as f:
                        published = json.load(f).get("snapshot_dir")
                        if published == manifest["snapshot_dir"]:
                            return version
                except (OSError, ValueError):
                    pass
                version = self.current_version() + 1
                continue

    # --------------------------------------------------------- maintenance

    def compact(self, spark: SparkSession, source: str = "compaction") -> int:
        """Rewrite the current effective view (compaction base + later
        appends) as ONE new snapshot with the table's tiled clustering,
        and publish it with ``compacted_through`` = the version it
        covers.  Readers then touch one well-formed file set per tile
        instead of one per append — the Iceberg rewrite-data-files
        maintenance op a streaming ingest needs periodically.

        Safe under concurrent appends: coverage is recorded as the
        exact version that was read, so an append that lands while the
        rewrite runs stays visible (it is > compacted_through).
        Concurrent compactions waste work but not correctness — read()
        picks the one with the widest coverage as base and ignores the
        other.  Old snapshots remain readable for time travel until
        expire_snapshots()."""
        v = self.current_version()
        if v < 1:
            raise ValueError(f"table {self.path} has no committed snapshots")
        layout = self._load_manifest(v)["layout"]
        x, y = layout.get("x_col"), layout.get("y_col")
        if x is None or y is None:
            raise ValueError(
                "manifest predates x_col/y_col recording — re-commit "
                "once with the current library before compacting"
            )
        df = self.read(spark, version=v)
        # derived layout columns are recomputed by write_tiled; tile is
        # a partition directory key on the way back in
        df = df.drop("morton_key", "hilbert_key", "tile")
        x_min, x_max, y_min, y_max = layout["aoi"]
        snap_dir = os.path.join(
            self.path, "data", f"compact-{v:05d}-{uuid.uuid4().hex[:8]}"
        )
        write_tiled(
            df, snap_dir, x, y, x_min, x_max, y_min, y_max,
            max_depth=layout["max_depth"], tile_level=layout["tile_level"],
            cluster=layout["cluster"],
        )
        manifest = self._build_manifest(
            v + 1, snap_dir, x, y, layout, source, compacted_through=v
        )
        return self._publish(manifest, v + 1)

    def expire_snapshots(self) -> list[int]:
        """Reclaim storage: delete the data of every snapshot fully
        covered by the newest compaction (and of superseded
        compactions), leaving a ``.expired`` tombstone beside each
        manifest so history() still shows the lineage.  Time travel to
        expired versions raises; versions >= the newest compaction are
        untouched."""
        import shutil

        mans = self.history()
        base = self._compaction_base(mans)
        if base is None:
            return []
        expired = []
        for m in mans:
            if m.get("expired") or m["version"] == base["version"]:
                continue
            covered = m["version"] <= base["compacted_through"]
            superseded = (
                m.get("compacted_through") is not None
                and m["compacted_through"] <= base["compacted_through"]
            )
            if covered or superseded:
                shutil.rmtree(m["snapshot_dir"], ignore_errors=True)
                marker = self._manifest_path(m["version"]) + ".expired"
                with open(marker, "w"):
                    pass
                expired.append(m["version"])
        return expired

    @staticmethod
    def _compaction_base(mans: list[dict]) -> dict | None:
        """The manifest read() starts from: widest coverage wins, then
        the newest version (two racing compactions with equal coverage
        tie-break deterministically)."""
        comps = [m for m in mans if m.get("compacted_through") is not None]
        if not comps:
            return None
        return max(comps, key=lambda m: (m["compacted_through"], m["version"]))

    # ---------------------------------------------------------------- read

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        window: tuple[float, float, float, float] | None = None,
    ) -> DataFrame:
        """Effective view at ``version`` (default: latest): the newest
        compaction base at or below it plus later appends — or the
        plain union of snapshots 1..version when no compaction exists.

        The plan comes from the manifests alone (see ``_scan``): no
        directory is listed and no schema inferred, so with at most 32
        files kept per snapshot the read runs no Spark job.  Above
        that (Spark's ``parallelPartitionDiscovery.threshold``), Spark
        stats the kept files in a listing job of its own.

        With ``window=(x0, x1, y0, y1)``, files whose recorded bounds
        miss the window are skipped (file-level pruning).  The returned
        frame is NOT window-filtered: it holds every row in the window
        plus the other rows of the kept files, so compose with
        points_in_spatial_window for the row-level cut.  Empty
        snapshots (a commit of zero rows) hold no files and are always
        skipped; a view with no rows at all raises ValueError."""
        version = version or self.current_version()
        if version < 1:
            raise ValueError(f"table {self.path} has no committed snapshots")
        mans = self.history()[:version]
        base = self._compaction_base(mans)
        if base is not None:
            mans = [base] + [
                m
                for m in mans
                if m["version"] > base["compacted_through"]
                and m["version"] != base["version"]
                and m.get("compacted_through") is None
            ]
        if not any(m["rows"] for m in mans):
            raise ValueError(f"table {self.path} has no rows at version {version}")
        return self._scan(spark, mans, window)

    def _scan(
        self,
        spark: SparkSession,
        manifests: list[dict],
        window: tuple[float, float, float, float] | None = None,
    ) -> DataFrame:
        """The rows of ``manifests`` (history() entries, some with
        rows), planned from their file lists alone.  Per snapshot, the
        files whose bounds meet ``window`` (all when it is None) are
        read with the manifest's schema.  One read cannot span
        snapshots (Spark rejects leaf files under several partition
        roots), so the reads are joined by name, null-filling a column
        a snapshot lacks (``hilbert_key``).  With no file kept the
        frame is empty, with the schema the reads would have had."""
        reads, schemas = [], []
        for m in sorted(manifests, key=lambda m: m["version"]):
            if m.get("expired"):
                raise RuntimeError(
                    f"snapshot v{m['version']} was expired by "
                    "expire_snapshots(); time travel below the newest "
                    "compaction is no longer available"
                )
            if m["rows"] == 0:
                continue
            if "files" not in m:
                raise ValueError(
                    f"manifest v{m['version']} of {self.path} has no file "
                    "list: re-commit its rows with the current library"
                )
            schema = StructType.fromJson(m["schema"])
            schemas.append(schema)
            kept = [
                self._resolve(f["path"])
                for f in m["files"]
                if window is None or _meets(f["bounds"], window)
            ]
            if kept:
                reads.append(
                    spark.read.schema(schema)
                    .option("basePath", m["snapshot_dir"])
                    .parquet(*kept)
                )
        if not reads:
            # zero paths: an empty scan, listing nothing, of each
            # snapshot's schema plus its ``tile`` partition column
            reads = [spark.read.schema(s.add("tile", IntegerType())).parquet()
                     for s in schemas]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), reads)
