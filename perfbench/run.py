"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload chat_tables --seed 1 --seconds 10 --trace 0

From the repository root.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it is a JSON detail record (host CPUs,
corpus sizes, every pass time, failed_share, codegen_failures).  Exits
non-zero, printing no result, when a workload cannot run."""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_SPEC = os.path.join(ROOT, "BENCHMARK.json")
_MB = 2**20


def _metric_specs():
    with open(_SPEC) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def _end_to_end(run, work) -> dict:
    from perfbench.harness import median

    pass_s = median(work["pass_times"])
    return {
        "setup_s": median(run.setup_reps),
        "pass_s": pass_s,
        "turns_per_s": work["turns"] / pass_s,
        "cells_per_s": work["cells"] / pass_s,
        "peak_rss_mb": work["peak_rss_bytes"] / _MB,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tablestructurerec_spark", "__init__.py")):
        print(f"perfbench: no tablestructurerec_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.harness import Run
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    end_to_end, per_layer = _metric_specs()

    run = Run(args.workload, bool(args.trace))
    error = None
    try:
        run.start()
        work = WORKLOADS[args.workload](run, args.seed, args.seconds)
        run.stop_spark()
        run.phase("finish")
        codegen_failures = run.codegen_failures()
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        error = traceback.format_exc() + run.stderr_tail()
    finally:
        run.close()
    if error is not None:
        print(error, file=sys.stderr)
        return 1

    if args.trace:
        run.layers["spark.codegen_failures"] = codegen_failures
        run.layers["trace.overhead_share"] = run.layers["trace.pass_s"] / run.layers["trace.untraced_pass_s"] - 1
        values = {m["name"]: run.layers.get(m["name"], 0.0) for m in per_layer}
        units = {m["name"]: m["unit"] for m in per_layer}
    else:
        values = _end_to_end(run, work)
        units = {m["name"]: m["unit"] for m in end_to_end}
        values = {name: values[name] for name in units}
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": run.cpus,
        "work": {k: v for k, v in work.items() if k not in ("pass_times", "peak_rss_bytes")},
        "pass_times": work.get("pass_times"),
        "setup_reps": run.setup_reps,
        "phases": run.phases,
        "failed_share": run.failed / run.attempted if run.attempted else 1.0,
        "codegen_failures": codegen_failures,
        "first_failures": run.failures,
        "layers": run.layers,
        "metrics": {k: v["value"] for k, v in metrics.items()},
    }
    print(json.dumps(detail, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
