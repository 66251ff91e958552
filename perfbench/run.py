"""Crawl benchmark: run one workload, check its outputs, print its metrics.

    python3 perfbench/run.py --workload frontier_1m --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. Prints a report line (every figure the run
measured, with sample counts) and, as the LAST line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 `metrics` holds the end-to-end metrics, with --trace 1 the
per-layer metrics of a separate traced run, whose spans are written to
.perfbench_work/results/. --smoke runs tiny inputs (the benchmark's own
tests use it). Exits non-zero, printing no result, if the grawler package
is not next to perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import harness  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "urls_per_s": "URLs/s",
    "state_bytes_per_url": "B/URL",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    p.add_argument("--scaling-child", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def run(args) -> dict:
    from perfbench import layers, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from "
                         f"{sorted(workloads.WORKLOADS)}")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(harness.cores()))
    child = json.loads(args.scaling_child) if args.scaling_child else None
    work = harness.Workdir(args.workload + ("-1core" if child else ""))
    spark = None
    try:
        traced = bool(args.trace)
        spark, session_s = harness.open_session(
            work, f"perfbench-{args.workload}", traced=traced,
            master_cores=1 if child else None)
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            session_s=session_s,
            size=workloads.SIZES["smoke" if args.smoke else "full"],
            traced=traced, tracer=Tracer() if traced else None)
        if child:
            return workloads.scaling_child(ctx, child)
        t0 = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](ctx)
        report = {"workload": args.workload, "seed": args.seed,
                  "cores": harness.cores(),
                  "run_wall_s": time.perf_counter() - t0 + session_s,
                  "ops_failed_share": (out.failed / out.attempted
                                       if out.attempted else 1.0),
                  **out.e2e, **out.report}
        if traced:
            path = os.path.join(
                work.results, f"{args.workload}-seed{args.seed}-spans.json")
            ctx.tracer.write(path)
            report["span_file"] = os.path.relpath(path, harness.ROOT)
            report["spans"] = len(ctx.tracer.spans)
            metrics = {k: (out.per_layer.get(k, 0.0), unit)
                       for k, unit in layers.PER_LAYER.items()}
        else:
            metrics = {k: (out.e2e[k], unit) for k, unit in E2E_UNITS.items()}
        if out.errors:
            report["errors"] = out.errors[:20]
        print(json.dumps({"report": report}, default=str))
        return {
            "correct": out.failed == 0 and out.attempted > 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        harness.stop_jvm()
        work.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.package_present():
        print("perfbench: the grawler package is not next to perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
