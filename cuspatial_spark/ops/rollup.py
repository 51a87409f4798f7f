"""Continuous time-bucket rollup over a TiledTable — the hypertable
continuous-aggregate pattern (TimescaleDB's caggs, Iceberg
incremental-append consumption) on this engine's snapshot log.

A rollup is a small table of (bucket, keys..., partial aggregates)
maintained INCREMENTALLY: each ``refresh()`` reads only the base
snapshots committed since the last refresh (the TiledTable manifest
log makes the delta explicit), partially aggregates them — one
shuffle over the NEW rows only — and merges with the existing rollup,
whose size is bounded by #buckets x #keys, not by the base table.
At 10^12 base rows the refresh cost is O(new data) + O(rollup size);
a full recompute never touches the historical corpus again.

Only decomposable aggregates are maintained (count / sum / min /
max); avg is derived at read time from sum/count.  Publication is
atomic (write-new-then-``os.replace`` of a version pointer), so a
crashed refresh leaves the previous rollup intact and the next
refresh redoes the same delta (idempotent: processed_through moves
only on successful publish).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.table import TiledTable

_AGGS = ("count", "sum", "min", "max", "avg")


class ContinuousAggregate:
    """Incrementally-refreshed ``(time bucket, keys) -> aggregates``
    rollup of a :class:`TiledTable`.

    aggs: ``{column: [agg, ...]}`` with aggs from count/sum/min/max/avg
    (avg stores sum+count partials).  ``bucket_seconds`` is the bucket
    width over ``time_col``.
    """

    def __init__(
        self,
        base: TiledTable,
        path: str,
        time_col: str,
        aggs: dict[str, list[str]],
        keys: list[str] | None = None,
        bucket_seconds: int = 3600,
    ):
        for col, specs in aggs.items():
            for a in specs:
                if a not in _AGGS:
                    raise ValueError(f"unsupported aggregate {a!r} for {col!r}")
        self.base = base
        self.path = path
        self.time_col = time_col
        self.aggs = {c: list(s) for c, s in aggs.items()}
        self.keys = list(keys or [])
        self.bucket_seconds = int(bucket_seconds)
        os.makedirs(path, exist_ok=True)

    # ---------------------------------------------------------- state
    def _pointer(self) -> dict:
        p = os.path.join(self.path, "POINTER.json")
        if not os.path.exists(p):
            return {"processed_through": 0, "data": None}
        with open(p) as f:
            return json.load(f)

    def _publish(self, data_dir: str, through: int) -> None:
        tmp = os.path.join(self.path, f".ptr-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump({"processed_through": through, "data": data_dir}, f)
        os.replace(tmp, os.path.join(self.path, "POINTER.json"))

    # ------------------------------------------------------- internals
    def _bucket(self):
        # floor (not truncate-toward-zero): pre-1970 timestamps have
        # negative epoch seconds, and a double->long cast would push
        # them into the bucket ABOVE, splitting one true bucket across
        # two rollup rows (ADVICE r5)
        w = self.bucket_seconds
        return F.timestamp_seconds(
            F.floor(F.col(self.time_col).cast("long") / w).cast("long") * w
        ).alias("bucket")

    def _partial_exprs(self):
        out = []
        for col, specs in self.aggs.items():
            need_sum = "sum" in specs or "avg" in specs
            need_cnt = "count" in specs or "avg" in specs
            if need_sum:
                out.append(F.sum(col).alias(f"__sum_{col}"))
            if need_cnt:
                out.append(F.count(col).alias(f"__cnt_{col}"))
            if "min" in specs:
                out.append(F.min(col).alias(f"__min_{col}"))
            if "max" in specs:
                out.append(F.max(col).alias(f"__max_{col}"))
        return out

    def _merge_exprs(self):
        out = []
        for col, specs in self.aggs.items():
            if "sum" in specs or "avg" in specs:
                out.append(F.sum(f"__sum_{col}").alias(f"__sum_{col}"))
            if "count" in specs or "avg" in specs:
                out.append(F.sum(f"__cnt_{col}").alias(f"__cnt_{col}"))
            if "min" in specs:
                out.append(F.min(f"__min_{col}").alias(f"__min_{col}"))
            if "max" in specs:
                out.append(F.max(f"__max_{col}").alias(f"__max_{col}"))
        return out

    def _delta_manifests(self, lo: int, hi: int):
        """Manifests of the append snapshots with lo < version <= hi
        that hold rows, or None when the log can't serve the delta (an
        expired snapshot in range — compaction folded it in; caller
        falls back to full recompute)."""
        mans = [
            m for m in self.base.history()[lo:hi]
            if m.get("compacted_through") is None and m["rows"]
        ]
        return None if any(m.get("expired") for m in mans) else mans

    # ------------------------------------------------------------- api
    def refresh(self, spark: SparkSession) -> dict:
        """Fold base snapshots committed since the last refresh into
        the rollup.  Returns {"processed_through", "refreshed", "mode"}
        — mode "delta" (incremental), "full" (expired-snapshot
        fallback), or "noop"."""
        ptr = self._pointer()
        lo, hi = ptr["processed_through"], self.base.current_version()
        if hi <= lo:
            return {"processed_through": lo, "refreshed": False, "mode": "noop"}
        mans = self._delta_manifests(lo, hi)
        if mans is not None and not mans:
            # only compaction or empty snapshots in range: no new
            # rows — advance the watermark so later deltas stay
            # minimal, keep the data
            if ptr["data"] is not None:
                self._publish(ptr["data"], hi)
                return {"processed_through": hi, "refreshed": False,
                        "mode": "noop"}
            return {"processed_through": lo, "refreshed": False, "mode": "noop"}
        mode = "delta"
        if mans is None:
            new = self.base.read(spark, version=hi)
            prev = None  # full recompute — ignore prior state
            mode = "full"
        else:
            new = self.base._scan(spark, mans)
            prev = (
                spark.read.parquet(ptr["data"]) if ptr["data"] is not None else None
            )
        delta = new.groupBy(self._bucket(), *self.keys).agg(
            *self._partial_exprs()
        )
        merged = (
            delta
            if prev is None
            else prev.unionByName(delta)
            .groupBy("bucket", *self.keys)
            .agg(*self._merge_exprs())
        )
        out_dir = os.path.join(self.path, f"rollup-{hi:05d}-{uuid.uuid4().hex[:8]}")
        merged.write.mode("overwrite").parquet(out_dir)
        old = ptr["data"]
        self._publish(out_dir, hi)
        if old and os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        return {"processed_through": hi, "refreshed": True, "mode": mode}

    def read(self, spark: SparkSession) -> DataFrame:
        """Current rollup with user-facing aggregate columns
        (``<agg>_<col>``; avg derived from the sum/count partials)."""
        ptr = self._pointer()
        if ptr["data"] is None:
            raise ValueError("rollup has never been refreshed")
        df = spark.read.parquet(ptr["data"])
        cols = [F.col("bucket"), *[F.col(k) for k in self.keys]]
        for col, specs in self.aggs.items():
            if "count" in specs:
                cols.append(F.col(f"__cnt_{col}").alias(f"count_{col}"))
            if "sum" in specs:
                cols.append(F.col(f"__sum_{col}").alias(f"sum_{col}"))
            if "min" in specs:
                cols.append(F.col(f"__min_{col}").alias(f"min_{col}"))
            if "max" in specs:
                cols.append(F.col(f"__max_{col}").alias(f"max_{col}"))
            if "avg" in specs:
                cols.append(
                    (F.col(f"__sum_{col}") / F.col(f"__cnt_{col}")).alias(
                        f"avg_{col}"
                    )
                )
        return df.select(*cols)
