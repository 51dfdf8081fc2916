#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository; the engine is imported
from that checkout's source. With ``--trace 0`` the result carries the
end-to-end metrics (tracing off); with ``--trace 1`` it carries the
per-layer metrics of a traced pass. The last line of standard output is
the result; everything else (Spark included) goes to standard error. The
exit code is non-zero when any output failed its correctness check."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {
    "cpu_s_per_op": "s",
    "setup_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tail", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="shrink inputs for the harness self-test; "
                         "figures are not comparable with full runs")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "multiversx_etl_spark", "__init__.py")):
        print(f"error: no engine source (multiversx_etl_spark/) under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the JVM inherits fd 1: park the real stdout so only the result line
    # reaches it
    real_stdout = os.dup(1)
    saved_stdout = sys.stdout
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from perfbench import layers
    from perfbench.common import Run
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    run = Run(root=ROOT, workload=args.workload, seed=args.seed,
              seconds=args.seconds, trace=bool(args.trace), tiny=args.tiny)
    result = None
    try:
        run.start()
        run.tracer = Tracer(run.spark, layers.install) if run.trace else NullTracer()
        io0, gc0 = run.jvm_io(), run.jvm_gc_s()
        t_run = time.perf_counter()
        metrics, ctx = WORKLOADS[args.workload](run)
        if run.trace:
            out = layers.compute(run, ctx, io0, gc0)
            run.tracer.write(sys.stderr)
        else:
            out = dict(metrics)
            out["setup_s"] = run.setup_s()
        print(f"run wall {time.perf_counter() - t_run:.1f}s, "
              f"setup {run.setup_s():.2f} CPU s, errors: {run.errors}", file=sys.stderr)
        units = UNITS if not run.trace else layers.UNITS
        result = {
            "correct": run.failed == 0 and not run.errors,
            "attempted": max(1, run.attempted),
            "failed": run.failed,
            "metrics": {k: {"value": float(out[k]), "unit": units[k]} for k in units},
        }
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
    finally:
        run.stop()
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        sys.stdout = saved_stdout
    if result is None:
        return 1
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
