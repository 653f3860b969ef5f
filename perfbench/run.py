"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository: it imports the
engine from there and keeps every file it writes under
``.bench_work/`` (removed when the run ends) and, for traced runs,
the span file under ``.bench_out/``. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Everything else goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine must come from this checkout, in this process and in
    # Spark's Python workers alike; fail before starting anything if it
    # is not there.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import airflow_iceberg_pipeline_stock_tracker_spark  # noqa: F401

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            e2e = workloads.WORKLOADS[args.workload](run)
            if run.tracer is not None:
                out_dir = os.path.join(ROOT, ".bench_out")
                os.makedirs(out_dir, exist_ok=True)
                run.tracer.write(
                    os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                    {"end_to_end": e2e, "layers": run.layers},
                )
    finally:
        with contextlib.redirect_stdout(sys.stderr):
            run.finish()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {
            k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
            for k, u in workloads.LAYER_METRICS.items()
        }
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in workloads.END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
