"""The two workloads of the benchmark, each a subclass of ``harness.Bench``.

``PipelineBench`` (``build``): ``run_pipeline`` into an empty warehouse
over bench-shaped pages made by the fixture generators.

``QueriesBench`` (``queries``): one pass over a curated set of
``driver_queries.QUERIES`` on a generated documents/embeddings set,
preceded by a rebuild of the shared edge table those graph queries read.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from harness import WORK, Bench, dir_bytes, persistent_rdds
from tracing import CATALOG_TABLES, PIPELINE_LAYERS, Tracer, group_shuffle_write_bytes

# bench.CORPUS_PARAMS: Common-Crawl-weight pages, ~40 KB of html each
BENCH_PAGES = {"min_sent": 40, "max_sent": 120, "junk_blocks": 30}
MIN_PAGES = 24
SAMPLE_PAGES = 16

# a graph operator (small-graph dispatch) and a dedup operator
QUERY_SET = ("kg_scc", "dedup_minhash")
EDGES_LAYER = "queries.edges_cache"
QUERY_LAYERS = (EDGES_LAYER,) + tuple(f"queries.{q}" for q in QUERY_SET)

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.43, 0.14, 0.15, 0.14, 0.14)
EMBED_DIM = 64


def gen_documents(n: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A ``documents`` and an ``embeddings`` table shaped like the gate's
    test data: 10-100 words from a small vocabulary with ~5% appended-token
    near-duplicates, five languages, twenty sources; unit-norm 64-d
    vectors with ten labels."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 100))) for _ in range(n)]
    for i in range(1, n):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(i))] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vec = rng.standard_normal((n, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n).astype("int32"),
    })
    return docs, emb


class PipelineBench(Bench):
    """``build``: run_pipeline over bench-shaped pages, broadcast linking."""

    layers = PIPELINE_LAYERS

    def make_inputs(self) -> None:
        """The corpus ``fixtures.pages_spark`` makes for this seed (same
        per-page generator, same dictionary), generated in this process and
        written as parquet without a Spark job: set-up stays short, and no
        input-generation job warms the JVM before the timed operation."""
        from vectrain_spark.fixtures import (
            _entity_lookup, gen_aliases, gen_page_row, n_entities_for,
        )

        seed = self.args.seed
        self.aliases_pdf = gen_aliases(n_entities_for(self.size), seed=seed)
        by_entity, eids = _entity_lookup(self.aliases_pdf)
        rows = [
            gen_page_row(k, by_entity, eids, seed=seed, **BENCH_PAGES)[0]
            for k in range(self.size)
        ]
        pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
        # a UTC-adjusted parquet timestamp reads back as Spark's `timestamp`
        pages["warc_ts"] = pages["warc_ts"].dt.tz_localize("UTC")
        self.pages_dir = os.path.join(WORK, "inputs", "pages")
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        os.makedirs(self.pages_dir)
        pages.drop(columns="text").to_parquet(
            os.path.join(self.pages_dir, "part-0.parquet"), index=False, coerce_timestamps="us"
        )
        self.out = os.path.join(WORK, "out")

    def load(self) -> None:
        from pyspark.sql import functions as F

        self.pages = self.spark.read.parquet(self.pages_dir)
        self.input_bytes = self.pages.agg(F.sum(F.length("html"))).collect()[0][0]
        self.aliases = self.spark.createDataFrame(self.aliases_pdf[["entity_id", "alias"]])

    def one_op(self) -> dict:
        from vectrain_spark import pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        before = persistent_rdds(self.spark)
        t0 = time.perf_counter()
        cfg = pipeline.PipelineConfig(n_groups=self.wl["n_groups"])
        stats = pipeline.run_pipeline(self.spark, self.pages, self.aliases, self.out, cfg)
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "triples": stats["total_triples"],
            "canonical_triples": stats["canonical_triples"],
            "bytes_written": dir_bytes(self.out)[0],
            "leaked_rdds": persistent_rdds(self.spark) - before,
        }

    def traced_op(self, tracer: Tracer) -> dict:
        tracer.install()
        try:
            return self.one_op()
        finally:
            tracer.uninstall()

    def run_checks(self) -> list[tuple[str, bool, str]]:
        from checks import counts_check, expected_triples, sample_check

        pages_pdf = self.pages.select("url", "warc_ts", "html", "lang").toPandas()
        expected = expected_triples(pages_pdf) + self.args.expect_offset
        return [counts_check(self.ops, expected)] + sample_check(
            self.spark, pages_pdf, self.aliases_pdf, self.out, self.args.seed, SAMPLE_PAGES
        )

    def per_layer(self, traced: dict) -> dict:
        from pyspark.sql import functions as F

        from vectrain_spark.catalog import Catalog

        rep, op = traced["report"], traced["op"]
        m = self.layer_metrics(rep)
        cat = Catalog(self.out)
        ext = cat.read(self.spark, "extracted")
        n_pages = ext.count()
        m["extract.html.pages"] = n_pages
        m["extract.html.quarantine_ratio"] = ext.filter("error IS NOT NULL").count() / n_pages
        m["extract.triples.triples"] = op["triples"]
        tri = cat.read(self.spark, "triples")
        links = (
            tri.select(F.col("subj").alias("s"), F.col("subj_id").alias("e"))
            .union(tri.select(F.col("obj").alias("s"), F.col("obj_id").alias("e")))
            .distinct()
            .toPandas()
        )
        # exact = the surface is an alias, lsh = it linked to a dictionary
        # entity, else a fallback id was minted
        aliases = set(self.aliases_pdf["alias"])
        eids = set(self.aliases_pdf["entity_id"].astype(int))
        hits = sum(s in aliases or int(e) in eids for s, e in zip(links["s"], links["e"]))
        m["linking.surfaces"] = len(links)
        m["linking.hit_ratio"] = hits / max(len(links), 1)
        m["linking.setup_s"] = rep["self_s_by_span"].get("linking.setup", 0.0)
        m["linking.path_join"] = float("join" in rep["link_paths"])
        m["canonicalize.branch_distributed"] = float(bool(rep["canon_branches"]))
        m["canonicalize.dedup_ratio"] = op["canonical_triples"] / op["triples"]
        for table in CATALOG_TABLES:
            size, files = dir_bytes(os.path.join(self.out, table))
            m[f"catalog.{table}.mb"] = size / 2**20
            m[f"catalog.{table}.files"] = files
            m[f"catalog.{table}.commits"] = (
                len(cat.snapshots(table)) if cat.exists(table) else 0
            )
        return m


class QueriesBench(Bench):
    """``queries``: the edge-table rebuild plus QUERY_SET, collected."""

    layers = QUERY_LAYERS

    def make_inputs(self) -> None:
        self.sf = os.path.join(WORK, "inputs", "sf")
        os.makedirs(self.sf, exist_ok=True)
        docs, emb = gen_documents(self.size, self.args.seed)
        for name, pdf in (("documents", docs), ("embeddings", emb)):
            pdf.to_parquet(os.path.join(self.sf, f"{name}.parquet"), index=False)
        self.input_bytes = dir_bytes(self.sf)[0]

    def load(self) -> None:
        for name in ("documents", "embeddings"):
            self.spark.read.parquet(os.path.join(self.sf, f"{name}.parquet")).count()

    def _pass(self, step) -> dict:
        """Drop the shared edge table, rebuild it, then run and collect
        every query of QUERY_SET. ``step(layer, fn)`` runs one of them."""
        from vectrain_spark import driver_queries as dq

        for df in dq._EDGES_CACHE.values():
            df.unpersist()
        dq._EDGES_CACHE.clear()
        before = persistent_rdds(self.spark)
        op: dict = {"results": {}, "steps": {}}
        t0 = time.perf_counter()
        edges = step(EDGES_LAYER, lambda: dq._materialized_edges(self.spark, self.sf))
        op["steps"][EDGES_LAYER] = time.perf_counter() - t0
        for q in QUERY_SET:
            t1 = time.perf_counter()
            op["results"][q] = step(
                f"queries.{q}", lambda q=q: dq.QUERIES[q](self.spark, self.sf).toPandas()
            )
            op["steps"][f"queries.{q}"] = time.perf_counter() - t1
        op["wall_s"] = time.perf_counter() - t0
        # the rebuilt edge table stays persisted by design
        op["leaked_rdds"] = persistent_rdds(self.spark) - len(dq._EDGES_CACHE) - before
        op["edges"] = edges.toPandas()
        op["triples"] = int(op["edges"]["cnt"].sum())
        return op

    def one_op(self) -> dict:
        sc = self.spark.sparkContext
        group = f"perfbench-pass-{len(self.ops)}"
        sc.setJobGroup(group, "timed pass")
        try:
            op = self._pass(lambda name, fn: fn())
        finally:
            sc.setJobGroup("perfbench-untraced", "untraced")
        op["bytes_written"] = group_shuffle_write_bytes(sc, group)
        return op

    def traced_op(self, tracer: Tracer) -> dict:
        try:
            return self._pass(lambda name, fn: tracer.eager(name, name)(fn)())
        finally:
            tracer.uninstall()

    def run_checks(self) -> list[tuple[str, bool, str]]:
        from checks import query_checks

        return query_checks(self.sf, self.ops, QUERY_SET, self.args.expect_offset)

    def per_layer(self, traced: dict) -> dict:
        return self.layer_metrics(traced["report"])


# name -> (class, {"size": full input size, "min_size": --size min, ...})
WORKLOADS = {
    "build": (PipelineBench, {"size": 400, "min_size": MIN_PAGES, "n_groups": 2}),
    "queries": (QueriesBench, {"size": 300, "min_size": 60}),
}
