"""Fixed-round operators whose loop unrolls into ONE lazy plan must grow
that plan linearly in the round count. A round that reads the previous
state twice doubles the plan per round, and planning then goes
exponential long before any data moves; this catches it on a tiny graph
in seconds instead of as a driver OOM."""

from __future__ import annotations

import pytest

from vectrain_spark.operators import graph
from vectrain_spark.session import release


def _edges(spark):
    return spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (2, 5)], "src long, dst long"
    )


def _seeds(spark):
    return spark.createDataFrame([(0,), (3,)], "seed long")


OPS = {
    "pagerank": lambda s, r: graph.pagerank(_edges(s), n_iter=r),
    "katz_centrality": lambda s, r: graph.katz_centrality(_edges(s), n_iter=r),
    "personalized_pagerank": lambda s, r: graph.personalized_pagerank(
        _edges(s), _seeds(s), n_iter=r
    ),
    "shortest_paths": lambda s, r: graph.shortest_paths(_edges(s), _seeds(s), rounds=r),
}


def _plan_nodes(spark, monkeypatch, op, rounds: int) -> int:
    """Analyzed-plan node count of the lazy result the operator hands to
    checkpoint_result (a shared subtree counts once per reference)."""
    sizes: list[int] = []
    orig = graph.checkpoint_result

    def spy(out, *working):
        sizes.append(len(out._jdf.queryExecution().analyzed().treeString().splitlines()))
        return orig(out, *working)

    monkeypatch.setattr(graph, "checkpoint_result", spy)
    release(op(spark, rounds))
    return sizes[-1]


@pytest.mark.parametrize("name", sorted(OPS))
def test_unrolled_plan_grows_linearly(spark, monkeypatch, name):
    small = _plan_nodes(spark, monkeypatch, OPS[name], 3)
    big = _plan_nodes(spark, monkeypatch, OPS[name], 6)
    assert big <= 2.5 * small, (small, big)


def _executed_joins(spark, monkeypatch, op, rounds: int) -> dict[str, int]:
    """Join operators in the executed plan of the lazy result the operator
    hands to checkpoint_result."""
    plans: list[str] = []
    orig = graph.checkpoint_result

    def spy(out, *working):
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return orig(out, *working)

    monkeypatch.setattr(graph, "checkpoint_result", spy)
    release(op(spark, rounds))
    joins = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    return {j: plans[-1].count(j) for j in joins}


@pytest.mark.parametrize(
    "name, per_round",
    [("pagerank", 3), ("katz_centrality", 2), ("personalized_pagerank", 5)],
)
def test_small_graph_rounds_broadcast_every_join(spark, monkeypatch, name, per_round):
    """A graph that fits SMALL_GRAPH_ROWS broadcasts every join of every
    round: one more round adds exactly ``per_round`` BroadcastHashJoins
    (the state, out-degree and in-sum joins; each round's scan of ppr's
    cached base table also prints that table's seed broadcast twice, in
    its final and its initial plan) and the plan holds no shuffled join
    against the cached edge table."""
    three = _executed_joins(spark, monkeypatch, OPS[name], 3)
    four = _executed_joins(spark, monkeypatch, OPS[name], 4)
    assert four["BroadcastHashJoin"] - three["BroadcastHashJoin"] == per_round, (
        three,
        four,
    )
    for joins in (three, four):
        assert joins["SortMergeJoin"] == 0 and joins["ShuffledHashJoin"] == 0, joins
