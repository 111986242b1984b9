#!/usr/bin/env python3
"""KG-construction benchmark for vectrain_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0

One process drives ``local[nproc]``. It generates the workload's inputs from
``--seed``, runs the workload's operation in a closed loop (one caller) for
``--seconds``, checks the outputs, and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` also runs one traced operation and reports the per-layer
metrics (see perfbench/README.md).

Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("triples_per_s", "1/s", "higher"),
    ("write_amp", "ratio", "lower"),
    ("driver_peak_rss_mb", "MB", "lower"),
]

_COMMON = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("task_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("core_util", "ratio", "higher"),
]
_EXTRA = {
    "extract.html": [("py_mb", "MB", "lower"), ("pages", "count", "higher"),
                     ("quarantine_ratio", "ratio", "lower")],
    "extract.triples": [("py_mb", "MB", "lower"), ("triples", "count", "higher")],
    "linking": [("py_mb", "MB", "lower"), ("setup_s", "s", "lower"),
                ("surfaces", "count", "lower"), ("hit_ratio", "ratio", "higher"),
                ("path_join", "flag", "lower")],
    "canonicalize": [("branch_distributed", "flag", "lower"),
                     ("dedup_ratio", "ratio", "lower")],
    "catalog": [],
    "pipeline": [("groups", "count", "lower"), ("group_p50_s", "s", "lower"),
                 ("group_max_s", "s", "lower"), ("finalize_s", "s", "lower"),
                 ("driver_s", "s", "lower"), ("leaked_rdds", "count", "lower")],
}


def per_layer_spec() -> list[tuple[str, str, str]]:
    from tracing import CATALOG_TABLES, PIPELINE_LAYERS
    from workloads import QUERY_LAYERS

    spec = []
    for layer in PIPELINE_LAYERS:
        spec += [(f"{layer}.{n}", u, b) for n, u, b in _COMMON + _EXTRA[layer]]
    for table in CATALOG_TABLES:
        spec += [(f"catalog.{table}.mb", "MB", "lower"),
                 (f"catalog.{table}.files", "count", "lower"),
                 (f"catalog.{table}.commits", "count", "lower")]
    for layer in QUERY_LAYERS:
        spec += [(f"{layer}.{n}", u, b) for n, u, b in _COMMON]
    spec += [("session.launch_s", "s", "lower"), ("session.start_s", "s", "lower"),
             ("session.workers_s", "s", "lower"),
             ("trace.overhead_s", "s", "lower"), ("host.control_s", "s", "lower"),
             ("run.wall_raw_s", "s", "lower"), ("run.setup_raw_s", "s", "lower"),
             ("run.fail_ratio", "ratio", "lower")]
    return spec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "min"), default="full",
                    help="min: smallest inputs, for the smoke test")
    ap.add_argument("--expect-offset", type=int, default=0,
                    help="add to the expected triple count (smoke test of the checks)")
    ap.add_argument("--trace-out", default=None, help="where --trace 1 writes its spans")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import vectrain_spark.driver_queries  # noqa: F401
        import vectrain_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from harness import stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    cls, wl = WORKLOADS[args.workload]
    bench = cls(args, wl)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
    attempted, failed = result["attempted"], result["failed"]
    spec = per_layer_spec() if args.trace else END_TO_END
    units = {n: u for n, u, _b in spec}
    metrics = result["metrics"]
    if args.trace and metrics:
        # layers of the other workload did not run: they read 0
        metrics = {n: metrics.get(n, 0.0) for n in units}
    missing = [n for n in units if n not in metrics]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
