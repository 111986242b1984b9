#!/usr/bin/env python
"""spark-submit entry point for the KG construction pipeline.

Launch (north_rule contract):

    python tools/package.py                      # builds dist/job.zip
    spark-submit --master local[32] \
        --py-files dist/job.zip main.py \
        --pages /path/pages_parquet --aliases /path/aliases.parquet \
        --out /path/warehouse --n-groups 8

or, for a self-contained demo on a generated corpus:

    spark-submit --py-files dist/job.zip main.py --generate 5000 --out /tmp/kg

Replaces the reference's long-running service boot
(/root/reference/cmd/vectrain/main.go:22-122 — config, REST control plane,
start/stop loop) with batch-job orchestration: the control plane is
spark-submit / kill / re-submit, and restart resumes from the group
checkpoint manifest instead of replaying from offset zero.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="vectrain_spark KG pipeline")
    p.add_argument("--config", default=None,
                   help="YAML job config (the reference's --config surface, "
                        "internal/config/config.go:56-63); explicit CLI flags "
                        "override config values")
    p.add_argument("--pages", help="parquet dir/file with (url, warc_ts, html, lang)")
    p.add_argument("--aliases", help="parquet with (entity_id, alias)")
    p.add_argument("--generate", type=int, default=0,
                   help="generate a deterministic synthetic corpus of N pages instead of --pages/--aliases")
    p.add_argument("--out", default=None, help="output warehouse root")
    p.add_argument("--n-groups", type=int, default=None)
    p.add_argument("--max-concurrent-groups", type=int, default=None)
    p.add_argument("--broadcast-dict-max", type=int, default=None,
                   help="dictionaries up to this many rows broadcast (linker probe, "
                        "mention maps, canonical mapping); bigger ones take the "
                        "shuffle-join path. Default: PipelineConfig.broadcast_dict_max")
    p.add_argument("--wave", default=None,
                   help="incremental MERGE wave id: process only pages not already "
                        "committed to --out (per-bucket url anti-join); overlapping "
                        "input is safe, re-running the same wave id resumes it")
    p.add_argument("--maintain", default=None,
                   choices=["compact", "expire", "cluster", "delete"],
                   help="run a catalog maintenance op on --out instead of the "
                        "pipeline (needs --table; delete needs --predicate, "
                        "cluster needs --cols)")
    p.add_argument("--table", default="triples")
    p.add_argument("--predicate", default=None,
                   help="SQL boolean for --maintain delete")
    p.add_argument("--cols", default=None,
                   help="comma-separated columns for --maintain cluster")
    p.add_argument("--keep-last", type=int, default=2,
                   help="snapshots to retain for --maintain expire")
    p.add_argument("--zorder", action="store_true",
                   help="Z-order interleave for --maintain cluster "
                        "(exactly 2 NUMERIC --cols); default is plain "
                        "range-partition + sort clustering")
    p.add_argument("--query", default=None,
                   help="run one registered analytics query by name over "
                        "--sf-dir instead of the pipeline; result is written "
                        "to <out>/queries/<name> as parquet")
    p.add_argument("--list-queries", action="store_true",
                   help="print every registered analytics query name and exit")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="driver-table directory for --query")
    p.add_argument("--explain", action="store_true",
                   help="with --query: print the result's formatted physical "
                        "plan and skip the output write. Scan/agg/join "
                        "queries are plan-only (check PushedFilters / "
                        "WholeStageCodegen / Exchange count); ITERATIVE "
                        "queries (pagerank, mst, diameter, ...) still "
                        "execute their checkpointed rounds while the plan is "
                        "built, and the printed plan starts from the "
                        "checkpointed stages")
    args = p.parse_args(argv)
    if args.list_queries:
        return args
    if args.explain and not args.query:
        p.error("--explain requires --query")
    if args.query and not args.explain and not (args.out or args.config):
        p.error("--query needs a sink: pass --out (or sink.out via"
                " --config), or use --explain for a plan-only run")
    if args.maintain == "cluster" and not args.cols:
        p.error("--maintain cluster requires --cols")
    if args.maintain == "delete" and not args.predicate:
        p.error("--maintain delete requires --predicate")
    if not args.query and not args.config and not args.out:
        # pipeline/maintenance modes need a sink root; --query carries its
        # own sink check above, and --explain is plan-only by design
        p.error("--out is required (or provide sink.out via --config)")
    return args


def run_maintenance(spark, args) -> dict:
    from vectrain_spark.catalog import Catalog

    cat = Catalog(args.out)
    if args.maintain == "compact":
        snap = cat.compact(spark, args.table)
        return {"op": "compact", "table": args.table, "snapshot": snap}
    if args.maintain == "expire":
        n = cat.expire_snapshots(args.table, keep_last=args.keep_last)
        return {"op": "expire", "table": args.table, "expired": n}
    if args.maintain == "cluster":
        cols = [c.strip() for c in args.cols.split(",")]
        snap = cat.cluster(spark, args.table, cols, zorder=args.zorder)
        return {"op": "cluster", "table": args.table, "cols": cols, "snapshot": snap}
    snap = cat.delete_where(spark, args.table, args.predicate)
    return {"op": "delete", "table": args.table, "snapshot": snap}


def pipeline_config(args: argparse.Namespace, job=None):
    """The run's PipelineConfig: the job file's ``pipeline`` section (or
    the engine defaults with 8 groups), then every CLI flag that was given.
    An unset flag keeps the default, so ``max_concurrent_groups`` stays
    derived from the input unless ``--max-concurrent-groups`` is passed."""
    from vectrain_spark.pipeline import PipelineConfig

    cfg = job.pipeline if job else PipelineConfig(n_groups=8)
    for key in ("n_groups", "max_concurrent_groups", "broadcast_dict_max"):
        if getattr(args, key) is not None:
            setattr(cfg, key, getattr(args, key))
    return cfg


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if args.list_queries:
        from vectrain_spark.driver_queries import QUERIES

        for name in sorted(QUERIES):
            print(name)
        return 0
    from pyspark.sql import SparkSession

    from vectrain_spark.pipeline import run_pipeline

    # declarative job config (reference: YAML AppConfig + typed sections,
    # internal/config/config.go:16-54); explicit CLI flags win over it
    job = None
    if args.config:
        from vectrain_spark.config import ConfigError, load_config

        try:
            job = load_config(args.config)
        except ConfigError as e:
            print(str(e), file=sys.stderr)
            return 2

    builder = SparkSession.builder.appName(
        job.name if job else "vectrain_spark_kg"
    )
    if job:
        for k, v in job.spark.conf.items():
            builder = builder.config(k, str(v))
        if job.spark.shuffle_partitions:
            builder = builder.config(
                "spark.sql.shuffle.partitions", str(job.spark.shuffle_partitions)
            )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(
        {"debug": "INFO", "info": "WARN", "warn": "WARN", "error": "ERROR"}[
            job.log_level
        ]
        if job
        else "WARN"
    )

    out = args.out or (job.sink.out if job else None)
    if args.query:
        from vectrain_spark.driver_queries import QUERIES

        if args.query not in QUERIES:
            print(f"unknown query {args.query!r}; see --list-queries",
                  file=sys.stderr)
            spark.stop()
            return 2
        df = QUERIES[args.query](spark, args.sf_dir)
        if args.explain:
            df.explain(mode="formatted")
            spark.stop()
            return 0
        if not out:
            print("--query needs a sink: the --config file has no sink.out"
                  " and --out was not given", file=sys.stderr)
            spark.stop()
            return 2
        dest = f"{out}/queries/{args.query}"
        df.write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
        print(json.dumps({"query": args.query, "rows": n, "out": dest}))
        spark.stop()
        return 0
    if args.maintain:
        args.out = out
        print(json.dumps(run_maintenance(spark, args)))
        spark.stop()
        return 0

    gen_n = args.generate or (
        job.source.n_pages if job and job.source.type == "generate" else 0
    )
    pages_path = args.pages or (
        job.source.path if job and job.source.type in ("parquet", "push") else None
    )
    aliases_path = args.aliases or (job.source.aliases if job else None)
    if gen_n:
        from vectrain_spark.fixtures import pages_spark

        pages, alias_pdf = pages_spark(spark, gen_n)
        aliases = spark.createDataFrame(alias_pdf[["entity_id", "alias"]])
    else:
        if not pages_path or not aliases_path:
            print("either --generate N or both --pages and --aliases are required",
                  file=sys.stderr)
            return 2
        pages = spark.read.parquet(pages_path)
        aliases = spark.read.parquet(aliases_path)

    cfg = pipeline_config(args, job)
    wave = args.wave or (job.wave if job else None)
    stats = run_pipeline(spark, pages, aliases, out, cfg, wave=wave)
    print(json.dumps({
        "wave": wave,
        "resumed_from": stats["resumed_from"],
        "groups_run": len(stats["groups"]),
        "link_strategy": stats["link_strategy"],
        "stopped_early": stats.get("stopped_early", False),
        "total_triples": stats["total_triples"],
        "canonical_triples": stats["canonical_triples"],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
