"""Benchmark plumbing: the Spark session, the noop sink, executed-plan
counters, benchmark-side spans and the peak-RSS sampler.

Nothing here is part of the engine; it only drives ``cuspatial_spark``
from outside and reads what Spark already records.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

# Spark plan nodes that cross the JVM/Python boundary over Arrow (or
# pickled rows, for the last one).
PYTHON_NODES = {
    "MapInPandasExec", "MapInArrowExec", "ArrowEvalPythonExec",
    "FlatMapGroupsInPandasExec", "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec", "WindowInPandasExec", "BatchEvalPythonExec",
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def highest_valid_percentile(n: int) -> int:
    """The highest whole percentile with at least ten samples beyond it
    (0 when fewer than eleven samples exist)."""
    if n < 11:
        return 0
    return int(100 * (1 - 10 / n))


# ------------------------------------------------------------- session

HEAP = "1536m"
MAX_YOUNG = "256m"


def start_spark(root: str, work: str, cores: int):
    """A local session whose every scratch file lands under ``work``.
    Python workers import the engine from ``root``."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM of the run (the launcher's included) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData") if p
    )
    # few malloc arenas: the JVM's native memory (parquet, codegen) then
    # does not scatter over per-thread arenas whose growth varies by run
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    # The young generation is capped: G1 otherwise sizes it from pause
    # times, and the heap's peak use then spread by 20-30 % between runs.
    # With the cap, the peak follows what the program keeps.
    java_opts = (
        f"-XX:MaxNewSize={MAX_YOUNG} "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'tmp')}"
    )
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, the JVM and the Python workers, and wait until
    each process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in children:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False
    return state not in ("Z", "X")


# ------------------------------------------------------------- memory


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User plus system CPU time used so far by this process and every
    process it started (the JVM and its Python workers), exited workers
    included.  Time the hypervisor stole from the vCPUs is not in it
    (with paravirtual steal accounting, as on KVM guests)."""
    total = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def clock() -> tuple[float, float]:
    """(wall seconds, CPU seconds) now; an op's cost is the difference."""
    return time.perf_counter(), cpu_seconds()


class RssSampler:
    """Samples the summed resident set of every process this one
    started (the JVM and its Python workers) and keeps the peak.  The
    process tree is rescanned every few samples only: the sampler runs
    in the driver's interpreter and should take little of its time."""

    def __init__(self, interval: float = 0.25, rescan_every: int = 8):
        self.interval = interval
        self.rescan_every = rescan_every
        self.peak_bytes = 0
        self._pids: list[int] = []
        self._n = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self, rescan: bool = True) -> int:
        if rescan or not self._pids:
            self._pids = descendants(os.getpid())
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self):
        while not self._stop.wait(self.interval):
            self._n += 1
            self.sample(rescan=self._n % self.rescan_every == 0)


# --------------------------------------------------- executing and plans


def execute(df):
    """Noop sink: run ``df``'s whole physical plan inside the JVM and
    discard the rows.  Returns (rows, QueryExecution); the query
    execution then holds the final adaptive plan and its metrics."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    return rows, qe


def observed(qe, name: str) -> list:
    """Values of the ``df.observe(name, ...)`` aggregate."""
    opt = qe.observedMetrics().get(name)
    if opt.isEmpty():
        raise RuntimeError(f"no observed metrics named {name!r}")
    row = opt.get()
    return [row.get(i) for i in range(row.length())]


def plan_counters(qe) -> dict[str, float]:
    """Counters Spark keeps on the executed (final adaptive) plan:
    shuffle exchanges and their bytes, Arrow/Python crossings and their
    bytes, file-scan files and rows."""
    c = dict(exchanges=0, exchange_bytes=0, arrow_crossings=0,
             python_bytes_sent=0, python_bytes_returned=0,
             scan_files=0, scan_rows=0)
    stack = [qe.executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its work is counted once, at the exchange it reuses
        m = p.metrics()
        if cls == "ShuffleExchangeExec":
            c["exchanges"] += 1
            c["exchange_bytes"] += m.apply("dataSize").value()
        elif cls in PYTHON_NODES:
            c["arrow_crossings"] += 1
            c["python_bytes_sent"] += m.apply("pythonDataSent").value()
            c["python_bytes_returned"] += m.apply("pythonDataReceived").value()
        elif cls == "FileSourceScanExec":
            c["scan_files"] += m.apply("numFiles").value()
            c["scan_rows"] += m.apply("numOutputRows").value()
        kids = p.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return c


def jvm_peak_heap(spark) -> int:
    """Peak bytes used in the JVM's heap since it started: the sum of
    each heap memory pool's peak use (eden, survivor, old)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().toString() == "Heap memory")


def working_set(spark) -> tuple[int, int]:
    """(bytes of cached data, driver heap limit in bytes)."""
    sc = spark.sparkContext
    cached = sum(info.memSize() for info in sc._jsc.sc().getRDDStorageInfo())
    return cached, sc._jvm.java.lang.Runtime.getRuntime().maxMemory()


# ---------------------------------------------------------------- spans


class Tracer:
    """Benchmark-side spans around calls into the engine's layers.
    Kept in memory; ``dump`` writes them out when the run ends.  A
    disabled tracer records nothing."""

    def __init__(self, workload: str, run_id: str, enabled: bool):
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = dict(id=len(self.spans), name=name, start=time.perf_counter(), end=None,
                   parent=self._stack[-1] if self._stack else None,
                   workload=self.workload, run=self.run_id)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, root_name: str) -> dict[str, list[float]]:
        """Per layer (the span name up to its first dot), the self time
        summed over each ``root_name`` span's subtree: one value per
        root span.  Self time is a span's duration minus the part of it
        its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for root in (s for s in self.spans if s["name"] == root_name):
            per_layer: dict[str, float] = {}
            stack = [root]
            while stack:
                s = stack.pop()
                ch = sorted(kids.get(s["id"], []), key=lambda k: k["start"])
                covered, edge = 0.0, s["start"]
                for k in ch:
                    lo, hi = max(k["start"], edge), min(k["end"], s["end"])
                    if hi > lo:
                        covered += hi - lo
                        edge = hi
                layer = s["name"].split(".", 1)[0]
                per_layer[layer] = per_layer.get(layer, 0.0) + (s["end"] - s["start"]) - covered
                stack.extend(ch)
            for layer, v in per_layer.items():
                out.setdefault(layer, []).append(v)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        if not self.spans:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
