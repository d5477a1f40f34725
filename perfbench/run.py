"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,serve} --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. Builds its inputs from ``--seed``, measures
for ``--seconds``, checks the outputs, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a separate
traced repetition with ``--trace 1``. The line before it carries the host
(nproc, RAM), the seed and the workload's named figures. ``--smoke`` runs a
tiny input with one repetition, for the benchmark's own tests.

Scratch files go under ``.perfbench/`` in the repository root and are
removed at exit, except the traced run's span file
``.perfbench/spans-<workload>-<seed>-<pid>.jsonl`` (one JSON span a line).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import common

END_TO_END = {
    "op_median_ms": "ms",
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "retained_heap_mb": "MB",
}

# the workloads' figures under the names users know them by, printed on the
# info line; each workload fills the ones it measures
NAMED = {
    "backfill_s": "s",
    "backfill_rows_per_s": "1/s",
    "fetch_p50_ms": "ms",
    "fetch_p90_ms": "ms",
    "fetch_keys_per_s": "1/s",
}

PER_LAYER = {
    "sources.scan_plan_ms": "ms",
    "sources.scan_files": "count",
    "sources.scan_rows": "count",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.write_mb": "MB",
    "sessionize.self_s": "s",
    "sessionize.shuffle_mb": "MB",
    "sessionize.rows_in": "count",
    "groupby.self_s": "s",
    "groupby.cpu_s": "s",
    "groupby.plan_ms": "ms",
    "groupby.shuffle_mb": "MB",
    "groupby.spill_mb": "MB",
    "groupby.gc_s": "s",
    "groupby.task_skew": "ratio",
    "join.part_s": "s",
    "join.assemble_s": "s",
    "join.plan_ms": "ms",
    "upload.self_s": "s",
    "upload.rows_out": "count",
    "online.ir_cache_hit_ratio": "ratio",
    "online.plan_ms": "ms",
    "service.request_frame_ms": "ms",
    "service.execute_ms": "ms",
    "service.queue_ms": "ms",
    "service.spark_jobs_per_request": "count",
    "service.tasks_per_request": "count",
    "trace.overhead_ms": "ms",
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=("backfill", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)

    common.import_program()
    scratch = os.path.join(common.ROOT, ".perfbench")
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(scratch, tag)
    os.makedirs(work)
    shape = common.SMOKE_SHAPE if args.smoke else common.FULL_SHAPE
    try:
        if args.workload == "backfill":
            import backfill

            result, info = backfill.run(args, shape, work)
        else:
            import serve

            result, info = serve.run(args, shape, work)
        if args.trace:
            # the span file outlives the run's scratch directory
            info["span_file"] = shutil.copy(
                info["span_file"], os.path.join(scratch, f"spans-{tag}.jsonl")
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    # layers a workload does not exercise report 0
    metrics = {name: result["metrics"].get(name, 0.0) for name in units}
    named = {n: {"value": info[n], "unit": u} for n, u in NAMED.items() if n in info}
    named["failed_ratio"] = {"value": result["failed"] / result["attempted"], "unit": "ratio"}
    if not args.trace:
        for n in ("setup_s", "peak_rss_mb", "retained_heap_mb"):
            named[n] = {"value": metrics[n], "unit": units[n]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": common.host(),
                      "shape": shape, "named": named, **info}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
