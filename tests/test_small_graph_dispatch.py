"""The shared small-graph dispatch (canonicalize.collect_small_graph and
SMALL_GRAPH_ROWS): its boundary, no leaked blocks on the local branch of
CC / SCC / Brandes, and the shortest_paths broadcast gate on the bound of
the dist table."""

from __future__ import annotations

import pytest

from vectrain_spark.operators import canonicalize, graph
from vectrain_spark.operators.canonicalize import collect_small_graph
from vectrain_spark.session import release


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _chain(spark, n: int, dup: int = 0):
    """n distinct (i, i+1) pairs, the first ``dup`` of them repeated."""
    pairs = [(i, i + 1) for i in range(n)]
    return pairs, spark.createDataFrame(pairs + pairs[:dup], "src long, dst long")


def test_collect_small_graph_boundary(spark, monkeypatch):
    """Exactly ``limit`` distinct pairs are collected (duplicates do not
    count) and the checkpoint is released; ``limit + 1`` pairs return the
    checkpointed scale frame. The default limit is SMALL_GRAPH_ROWS."""
    monkeypatch.setattr(canonicalize, "SMALL_GRAPH_ROWS", 5)
    before = _persistent(spark)
    pairs, df = _chain(spark, 5, dup=3)
    got, frame = collect_small_graph(df)
    assert frame is None and sorted(got) == pairs
    assert _persistent(spark) == before

    pairs, df = _chain(spark, 6)
    got, frame = collect_small_graph(df)
    assert got is None
    assert sorted(tuple(r) for r in frame.collect()) == pairs
    release(frame)
    assert _persistent(spark) == before

    # an explicit limit wins over the constant
    got, frame = collect_small_graph(df, limit=6)
    assert frame is None and sorted(got) == pairs


def test_collect_small_graph_empty_takes_scale_path(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    got, frame = collect_small_graph(empty)
    assert got is None and frame.count() == 0
    release(frame)


def _spy(monkeypatch, module) -> list[tuple]:
    """Record what each collect_small_graph call through ``module``
    returned: (pairs, frame), one of them None."""
    calls: list[tuple] = []
    orig = module.collect_small_graph

    def spy(*args, **kwargs):
        calls.append(orig(*args, **kwargs))
        return calls[-1]

    monkeypatch.setattr(module, "collect_small_graph", spy)
    return calls


def _run(spark, op: str, **kwargs):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("e", "f")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",), ("e",)], "seed string")
    if op == "cc":
        return canonicalize.connected_components(edges, **kwargs)
    if op == "scc":
        return graph.strongly_connected_components(edges, **kwargs)
    return graph.betweenness_sampled(edges, seeds, **kwargs)


@pytest.mark.parametrize("op", ["cc", "scc", "betweenness"])
def test_local_branch_leaves_no_persisted_rdds(spark, monkeypatch, op):
    calls = _spy(monkeypatch, canonicalize if op == "cc" else graph)
    before = _persistent(spark)
    rows = _run(spark, op).collect()
    assert len(calls) == 1 and calls[0][0] is not None and rows
    assert _persistent(spark) == before


@pytest.mark.parametrize("op", ["cc", "scc", "betweenness"])
def test_scale_path_releases_pair_checkpoint(spark, monkeypatch, op):
    """The scale path releases the distinct-pair checkpoint the helper
    hands it once the frames built from it have materialized."""
    calls = _spy(monkeypatch, canonicalize if op == "cc" else graph)
    assert _run(spark, op, small_graph_max_edges=0).collect()
    pair_rdd = calls[0][1]._fresh_ckpt_jrdd.id()
    persistent = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    assert pair_rdd not in {int(k) for k in persistent}


@pytest.mark.parametrize("op", ["cc", "scc", "betweenness"])
def test_local_branch_schema_matches_scale_path(spark, op):
    """The driver-built frame carries the scale path's schema, nullability
    included (SCC's scc_size is a non-nullable count on both)."""
    assert _run(spark, op).schema == _run(spark, op, small_graph_max_edges=0).schema


def _sssp_broadcasts(spark, monkeypatch, edges, seeds) -> tuple[bool, set]:
    """Run shortest_paths and report whether its dist side carried the
    broadcast hint (read from the analyzed plan of the final frame)."""
    plans: list[str] = []
    orig = graph.checkpoint_result

    def spy(out, *working):
        plans.append(out._jdf.queryExecution().analyzed().toString())
        return orig(out, *working)

    monkeypatch.setattr(graph, "checkpoint_result", spy)
    rows = {tuple(r) for r in graph.shortest_paths(edges, seeds).collect()}
    return "strategy=broadcast" in plans[0], rows


def test_shortest_paths_broadcasts_small_dist(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (4,)], "seed long")
    hinted, rows = _sssp_broadcasts(spark, monkeypatch, edges, seeds)
    assert hinted
    # bound = 2 seeds x (9 edges + 1): exactly at the limit still broadcasts
    monkeypatch.setattr(graph, "SMALL_GRAPH_ROWS", 20)
    assert _sssp_broadcasts(spark, monkeypatch, edges, seeds) == (True, rows)


def test_shortest_paths_shuffles_dist_above_bound(spark, monkeypatch):
    """The gate is seeds x (edges + 1), not the edge count: 9 edges fit a
    limit of 19, but 2 seeds can reach 20 dist rows, so dist is not
    broadcast — and the rows do not change."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (4,)], "seed long")
    _, want = _sssp_broadcasts(spark, monkeypatch, edges, seeds)
    monkeypatch.setattr(graph, "SMALL_GRAPH_ROWS", 19)
    hinted, rows = _sssp_broadcasts(spark, monkeypatch, edges, seeds)
    assert not hinted
    assert rows == want
