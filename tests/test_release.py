"""Operators leave no working set behind in a shared session: after an
operator's result is collected, the only persisted RDD it may have added
is the result's own checkpoint (session.checkpoint_result), which the
caller owns. Checked on RDD ids rather than counts: JVM garbage
collection can only remove ids, so the check is deterministic."""

from __future__ import annotations

import pytest

from vectrain_spark.operators import canonicalize, dedup, graph, similarity
from vectrain_spark.session import release


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _edges(spark):
    # two 3-cycles joined one way, a tail and a separate pair: several
    # SCCs, bow-tie IN/OUT/other classes, and more than one LPA label
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("e", "f"), ("f", "d"), ("f", "g"), ("x", "y")],
        "src string, dst string",
    )


def _seeds(spark):
    return spark.createDataFrame([("a",), ("x",)], "seed string")


def _corpus(spark):
    base = [" ".join(f"w{(i * k) % 23}" for i in range(30)) for k in (1, 2, 3)]
    rows = [(j, t) for j, t in enumerate(base, start=1)]
    rows += [(j + 10, t + " tail words here") for j, t in rows]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _embeddings(spark):
    rows = [
        (i, [float((i * 7 + d * 3) % 11) / 11.0 + 0.01 for d in range(8)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


def _lpa(spark):
    e = _edges(spark)
    return graph.label_propagation(e.select(e.src.alias("a"), e.dst.alias("b")), 2)


# every caller of checkpoint_result, on inputs built inside the call
# (building a frame persists nothing)
OPS = {
    "minhash_pairs": lambda s: dedup.minhash_pairs(_corpus(s)),
    "ngram_jaccard_pairs": lambda s: dedup.ngram_jaccard_pairs(_corpus(s), 0.5),
    "containment_pairs": lambda s: dedup.containment_pairs(_corpus(s), 0.5),
    "simhash_pairs": lambda s: dedup.simhash_pairs(_corpus(s)),
    "pagerank": lambda s: graph.pagerank(_edges(s)),
    "katz_centrality": lambda s: graph.katz_centrality(_edges(s)),
    "hits": lambda s: graph.hits(_edges(s), n_iter=2),
    "label_propagation": _lpa,
    "shortest_paths": lambda s: graph.shortest_paths(_edges(s), _seeds(s), rounds=3),
    "personalized_pagerank": lambda s: graph.personalized_pagerank(_edges(s), _seeds(s)),
    "scc_scale_path": lambda s: graph.strongly_connected_components(
        _edges(s), small_graph_max_edges=0
    ),
    "bowtie_classes": lambda s: graph.bowtie_classes(_edges(s)),
    "ann_ivf": lambda s: similarity.ann_ivf(s, _embeddings(s), n_queries=3, n_cells=4),
    "pq_topk": lambda s: similarity.pq_topk(s, _embeddings(s), n_queries=3),
    "ivfpq_topk": lambda s: similarity.ivfpq_topk(
        s, _embeddings(s), n_cells=4, n_queries=3
    ),
}


def _check_only_result_kept(spark, op) -> None:
    before = _persisted(spark)
    res = op(spark)
    assert res.collect()
    own = getattr(res, "_fresh_ckpt_jrdd", None)
    allowed = {own.id()} if own is not None else set()
    assert _persisted(spark) - before <= allowed
    release(res)


@pytest.mark.parametrize("op", sorted(OPS))
def test_operator_keeps_only_its_result_checkpoint(spark, op):
    _check_only_result_kept(spark, OPS[op])


def test_bowtie_on_scc_scale_path_keeps_only_its_result(spark, monkeypatch):
    """bowtie_classes re-checkpoints the SCC result; on the scale path
    that result is itself a checkpoint, which bowtie must free."""
    monkeypatch.setattr(canonicalize, "SMALL_GRAPH_ROWS", 0)
    _check_only_result_kept(spark, OPS["bowtie_classes"])


@pytest.mark.parametrize("op", ["pq_topk", "ivfpq_topk"])
def test_pq_rejects_indivisible_dims_without_caching(spark, op):
    vecs = _embeddings(spark)  # 8 dims: m=3 does not divide them
    before = _persisted(spark)
    with pytest.raises(ValueError):
        getattr(similarity, op)(spark, vecs, m=3)
    assert _persisted(spark) - before == set()
