#!/usr/bin/env python
"""Same-window A/B of the KG pipeline across code versions.

VERDICT r2 "Next round #1": BENCH_r02's kg_pipeline (215 s) vs BENCH_r01's
(61 s) could not be reconciled through the host-drift control alone, so
this tool measures the candidate code versions IN THE SAME HOST WINDOW,
with the bias controls the round-1 review demanded:

  * every leg reads the IDENTICAL pre-generated corpus files (generated
    once, by the parent, with head's fixtures — generation excluded);
  * legs run INTERLEAVED (A B C A B C, never A A B B C C), so slow host
    windows cannot correlate with one code version;
  * each trial is a fresh subprocess (fresh JVM, fresh python workers)
    whose no-Spark host-capacity control is measured immediately before
    its timed run and stamped into its result row;
  * identical trial counts per leg, per-leg medians.

A "leg" is name:pythonpath[:mcg=N] — the subprocess imports
``vectrain_spark`` from that path, so any commit checked out into a git
worktree is measurable against head without touching the main tree.
mcg=N overrides PipelineConfig.max_concurrent_groups (the r2 1->4 change
is the prime suspect), when the field exists at that commit; a leg without
it takes that commit's default (derived from the input since the default
became ``pipeline.group_workers``).

Usage:
  python tools/ab_kg.py --pages 200000 --cores 32 --trials 2 \
      --legs r1:/root/repo/.ab_r1 head:/root/repo head_mcg1:/root/repo:mcg=1
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _burn(_):
    s = 0
    for i in range(4_000_000):
        s += i * i
    return s


def machine_capacity(n: int) -> float:
    """Pure-CPU multiprocessing control (same as bench.py): units/sec."""
    import multiprocessing as mp

    with mp.Pool(n) as p:
        t0 = time.time()
        p.map(_burn, range(n * 4))
        return (n * 4) / (time.time() - t0)


def child(args) -> None:
    sys.path.insert(0, args.path)
    host_control = round(machine_capacity(args.cores), 1)

    import pandas as pd  # noqa: E402

    from vectrain_spark.pipeline import PipelineConfig, run_pipeline
    from vectrain_spark.session import get_spark

    spark = get_spark(app_name="ab_kg", cores=args.cores)
    try:
        pages = spark.read.parquet(args.corpus)
        aliases = spark.createDataFrame(pd.read_parquet(args.aliases))
        # same UDF-worker warmup as bench.py, excluded from timing
        spark.range(256).repartition(64).mapInPandas(
            lambda it: it, schema="id long"
        ).count()
        cfg = PipelineConfig(n_groups=4)
        if args.mcg is not None and hasattr(cfg, "max_concurrent_groups"):
            cfg.max_concurrent_groups = args.mcg
        shutil.rmtree(args.out, ignore_errors=True)
        t0 = time.time()
        stats = run_pipeline(spark, pages, aliases, args.out, cfg)
        wall = time.time() - t0
    finally:
        spark.stop()
    print(
        "ABRESULT "
        + json.dumps(
            {
                "wall_sec": round(wall, 3),
                "triples": stats["total_triples"],
                "canonical": stats["canonical_triples"],
                "triples_per_sec": round(stats["total_triples"] / wall, 1),
                "host_control_units_per_sec": host_control,
            }
        )
    )


def ensure_corpus(pages: int, cores: int) -> tuple[str, str]:
    """Generate the shared corpus once with HEAD's bench harness."""
    sys.path.insert(0, REPO)
    import bench

    from vectrain_spark.session import get_spark

    spark = get_spark(app_name="ab_corpus", cores=cores)
    try:
        corpus_dir, alias_path = bench.ensure_corpus(spark, pages)
    finally:
        spark.stop()
    return corpus_dir, alias_path


def parent(args) -> None:
    legs = []
    for spec in args.legs:
        parts = spec.split(":")
        name, path = parts[0], parts[1]
        mcg = None
        for extra in parts[2:]:
            if extra.startswith("mcg="):
                mcg = int(extra[4:])
        legs.append((name, path, mcg))

    corpus_dir, alias_path = ensure_corpus(args.pages, args.cores)
    print(f"corpus ready: {corpus_dir}", flush=True)

    results: dict[str, list[dict]] = {name: [] for name, _, _ in legs}
    for trial in range(args.trials):
        for name, path, mcg in legs:
            cmd = [
                sys.executable,
                os.path.abspath(__file__),
                "--child",
                "--path",
                path,
                "--corpus",
                corpus_dir,
                "--aliases",
                alias_path,
                "--cores",
                str(args.cores),
                "--out",
                f"/tmp/vectrain_ab_{name}",
            ]
            if mcg is not None:
                cmd += ["--mcg", str(mcg)]
            env = dict(os.environ)
            env["SPARK_GRAFT_CPUS"] = str(args.cores)
            env.pop("PYTHONPATH", None)
            out = subprocess.run(
                cmd, capture_output=True, text=True, env=env, check=False
            )
            row = None
            for line in out.stdout.splitlines():
                if line.startswith("ABRESULT "):
                    row = json.loads(line[len("ABRESULT "):])
            if row is None:
                print(f"LEG FAILED {name} trial {trial}:", file=sys.stderr)
                print(out.stdout[-2000:], file=sys.stderr)
                print(out.stderr[-4000:], file=sys.stderr)
                sys.exit(1)
            results[name].append(row)
            print(f"trial {trial} {name}: {row}", flush=True)

    summary = {}
    for name, _, _ in legs:
        rows = results[name]
        thr = median(r["triples_per_sec"] for r in rows)
        hc = median(r["host_control_units_per_sec"] for r in rows)
        summary[name] = {
            "median_triples_per_sec": thr,
            "median_host_control": hc,
            "thr_per_host_unit": round(thr / hc, 1) if hc else None,
            "walls": [r["wall_sec"] for r in rows],
            "triples": sorted({r["triples"] for r in rows}),
        }
    print(json.dumps({"pages": args.pages, "cores": args.cores, "legs": summary}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--path")
    ap.add_argument("--corpus")
    ap.add_argument("--aliases")
    ap.add_argument("--out")
    ap.add_argument("--mcg", type=int, default=None)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--pages", type=int, default=200_000)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--legs", nargs="+", default=[])
    args = ap.parse_args()
    if args.child:
        child(args)
    else:
        parent(args)


if __name__ == "__main__":
    main()
