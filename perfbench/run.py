"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Generates the workload's
inputs from ``--seed``, runs it against the engine in one process
(``local[nproc]``), checks every output, prints each metric with its
unit and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
the tracing overhead, and writes every span to
``.perfbench_work/traces/<workload>-seed<seed>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the JVM it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mrgo_spark")):
        print(f"perfbench: no mrgo_spark package under {ROOT}", file=sys.stderr)
        return 2

    # the engine and Spark are imported lazily, after the environment below
    from harness import Bench, nproc
    from spans import Tracer
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep every file the run, the JVM and the Python workers write
    # inside the checkout.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    sys.path.insert(0, ROOT)

    b = Bench(work, Tracer(enabled=bool(args.trace)))
    load0 = os.getloadavg()
    t0 = time.perf_counter()
    try:
        res = workloads.WORKLOADS[args.workload](b, args.seed, args.seconds)
        workloads.finish_layers(b, res)
    finally:
        b.phase("finish")
        b.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        b.phase("shutdown")
    wall = time.perf_counter() - t0

    failed = sum(b.errors.values())
    out = sys.stdout
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds}"
          f" trace {args.trace}", file=out)
    print(f"# nproc {b.cpus} master local[{b.cpus}] load_avg_start {load0}"
          f" load_avg_end {os.getloadavg()} wall_s {wall:.3f}", file=out)
    print(f"# inputs {json.dumps(res['props'], sort_keys=True)}", file=out)
    print(f"# counts {json.dumps(res['counts'], sort_keys=True)}", file=out)
    print(f"# phases_s {json.dumps(b.phases)}", file=out)
    for f in b.failures[:20]:
        print(f"# FAILED {f}", file=out)
    error_rate = failed / max(1, b.attempted)
    print(f"error_rate {error_rate} ratio ({failed} of {b.attempted} operations)", file=out)
    if args.trace:
        units = {name: unit for name, unit, _ in workloads.PER_LAYER}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
        print(f"# spans {len(b.tr.spans)}", file=out)
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        b.tr.dump(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": metrics},
        )
    else:
        units = {name: unit for name, unit, _ in workloads.E2E}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["e2e"].items()}
        print(res["tail"], file=out)
        print(f"cold_pass_s {res['cold_pass_s']} s (first pass; not gated, see README)", file=out)
        if "build_s" in res:
            print(f"build_s {res['build_s']} s (BM25Index.build + IVFIndex.build;"
                  f" not gated, see README)", file=out)
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}", file=out)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": b.attempted,
        "failed": failed,
        "metrics": metrics,
    }), file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
