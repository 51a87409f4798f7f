"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pip_broadcast --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics BENCHMARK.json names, measured untraced; ``--trace 1`` prints its
per-layer metrics from a run whose second half is traced.  The last line
of standard output is one JSON object: correct, attempted, failed,
metrics.  The exit code is 1 when any operation's output was wrong, and
2 when the benchmark cannot run at all (no engine source beside it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cuspatial_spark", "__init__.py")):
        print(f"no cuspatial_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.harness import (RssSampler, Tracer, highest_valid_percentile, host_cpu_ticks,
                                   jvm_peak_heap, start_spark, stop_spark, working_set)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    cores = min(4, os.cpu_count() or 1)
    tracer = Tracer(args.workload, run_id, enabled=False)
    t0 = time.perf_counter()
    steal0, ticks0 = host_cpu_ticks()
    with RssSampler() as rss:
        spark = start_spark(ROOT, work, cores)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
            out = wl.run(args.seconds, bool(args.trace))
            cached, heap = working_set(spark)
            peak_heap = jvm_peak_heap(spark)
            rss.sample()
            steal1, ticks1 = host_cpu_ticks()
        finally:
            stop_spark(spark)
            tracer.dump(os.path.join(ROOT, ".bench_work", "spans", run_id + ".jsonl"))
            shutil.rmtree(work, ignore_errors=True)

    attempted = len(wl.ops)
    failed = sum(not o.ok for o in wl.ops)
    e2e = dict(out.e2e, peak_rss_mb=(rss.peak_bytes / 2**20, "MB"),
               peak_heap_mb=(peak_heap / 2**20, "MB"))
    extra = dict(out.extra, fail_ratio=(failed / attempted, "ratio"),
                 cached_mb=(cached / 2**20, "MB"),
                 working_set_share=(cached / heap, "ratio"),
                 session_s=(session_s, "s"),
                 # CPU time the hypervisor gave to other guests while this
                 # run wanted it: the main reason runs of one seed differ
                 host_steal_share=((steal1 - steal0) / max(1, ticks1 - ticks0), "ratio"))

    # human-readable report, then the one-line result
    n = out.measured_ops
    print(f"workload {args.workload}  seed {args.seed}  ops {attempted}  failed {failed}  "
          f"latency samples {n} (highest percentile with ten beyond it: "
          f"p{highest_valid_percentile(n)})")
    for name, (value, unit) in {**e2e, **extra, **out.layers}.items():
        print(f"  {name:36s} {value:>16.6g} {unit}")
    print("  op_ms " + " ".join(f"{o.seconds * 1e3:.0f}" for o in wl.ops))
    for name, secs in wl.phases.items():
        print(f"  phase {name:30s} {secs:>16.3f} s")
    for note in wl.notes:
        print(f"  note: {note}")
    for err in wl.errors:
        print(f"  FAILED: {err}", file=sys.stderr)

    if args.trace:
        wanted, have = spec["per_layer"], out.layers
    else:
        wanted, have = spec["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        value = have.get(m["name"], (0.0, m["unit"]))[0]
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
