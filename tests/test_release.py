"""Operators leave no working set behind in a shared session: after an
operator's result is collected, the only persisted RDD it may have added
is the result's own checkpoint (session.checkpoint_result), which the
caller owns. Checked on RDD ids rather than counts: JVM garbage
collection can only remove ids, so the check is deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectrain_spark.operators import (
    canonicalize,
    corpus,
    dedup,
    events,
    fusion,
    graph,
    linking,
    pareto,
    similarity,
    textstats,
    webcorpus,
)
from vectrain_spark.session import checkpoint_result, fresh_checkpoint, release


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


def _pairs(spark):
    # undirected a < b: a 4-clique (a..d) with a tail, a triangle and a
    # separate pair — triangles, 4-truss support and more than one core
    return spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e"), ("e", "f"), ("e", "g"), ("f", "g"),
         ("x", "y")],
        "a string, b string",
    )


def _wedges(spark):
    p = _pairs(spark)
    return p.withColumn("w", (F.length(F.concat("a", "b")) + F.ascii("b")).cast("long"))


def _rpq_edges(spark):
    return spark.createDataFrame(
        [("s0", "a", "s"), ("a", "b", "m"), ("b", "c", "m"), ("c", "a", "m"),
         ("b", "t1", "e"), ("c", "t2", "e")],
        "src string, dst string, pred string",
    )


def _events(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), 1, "view"),
        (2, dt.datetime(2024, 1, 1, 1), 1, "click"),
        (3, dt.datetime(2024, 1, 1, 2), 1, "purchase"),
        (4, dt.datetime(2024, 1, 1, 0), 2, "view"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def _claims(spark):
    return spark.createDataFrame(
        [("u1", "s", "p", "x"), ("u2", "s", "p", "y"), ("u3", "s", "p", "x"),
         ("u1", "t", "p", "z")],
        "source string, subj string, pred string, obj string",
    )


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


def _kg_edges(spark):
    pred = F.when(F.col("src") < "d", "p").otherwise("q")
    return _edges(spark).select("src", pred.alias("pred"), "dst")


def _records(spark):
    return spark.createDataFrame(
        [(i, f"name{i % 4}") for i in range(12)], "id long, name string"
    )


def _lpa(spark):
    e = _edges(spark)
    return graph.label_propagation(e.select(e.src.alias("a"), e.dst.alias("b")), 2)


# every operator that checkpoints, on inputs built inside the call
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
    "cc_scale_path": lambda s: canonicalize.connected_components(
        _edges(s), small_graph_max_edges=0
    ),
    "k_core": lambda s: graph.k_core(_pairs(s), k=2, rounds=3),
    "transitive_closure": lambda s: graph.transitive_closure(_edges(s)),
    "triangle_counts": lambda s: graph.triangle_counts(_pairs(s)),
    "local_clustering": lambda s: graph.local_clustering(_pairs(s)),
    "wl_refinement": lambda s: graph.wl_refinement(_pairs(s)),
    "neighbor_jaccard": lambda s: graph.neighbor_jaccard(_pairs(s)),
    "adamic_adar": lambda s: graph.adamic_adar(_pairs(s)),
    "k_truss": lambda s: graph.k_truss(_pairs(s), k=3, rounds=2),
    "label_spread": lambda s: graph.label_spread(
        _pairs(s),
        s.createDataFrame([("a", "org"), ("x", "person")], "id string, type string"),
        2,
    ),
    "modularity": lambda s: graph.modularity(
        _pairs(s),
        s.createDataFrame([("a", 1), ("b", 1), ("e", 2)], "id string, label int"),
    ),
    "random_walks": lambda s: graph.random_walks(_edges(s)),
    "negative_edges": lambda s: graph.negative_edges(_edges(s)),
    "transe_eval": lambda s: graph.transe_eval(_kg_edges(s), _embeddings(s), n_neg=2),
    "random_walks_node2vec": lambda s: graph.random_walks_node2vec(_edges(s)),
    "neighbor_minhash": lambda s: graph.neighbor_minhash(_pairs(s)),
    "hyperball": lambda s: graph.hyperball(_edges(s), max_t=2),
    "simrank": lambda s: graph.simrank(_edges(s), rounds=2),
    "betweenness_scale_path": lambda s: graph.betweenness_sampled(
        _edges(s), _seeds(s), small_graph_max_edges=0
    ),
    "luby_mis": lambda s: graph.luby_mis(_pairs(s), rounds=2),
    "boruvka_msf": lambda s: graph.boruvka_msf(_wedges(s), rounds=2),
    "rpq_bounded": lambda s: graph.rpq_bounded(_rpq_edges(s), "s", "m", "e"),
    "pseudo_diameter": lambda s: graph.pseudo_diameter(_edges(s), rounds=3),
    "resolve_redirects": lambda s: webcorpus.resolve_redirects(_edges(s), max_rounds=3),
    "mmr_rerank": lambda s: similarity.mmr_rerank(
        _embeddings(s), n_queries=2, pool=6, k=3
    ),
    "kmeans_parallel_seed": lambda s: similarity.kmeans_parallel_seed(
        _embeddings(s), l=3
    ),
    "unigram_lm_train": lambda s: textstats.unigram_lm_train(_corpus(s), iters=1),
    "bpe_train": lambda s: textstats.bpe_train(_corpus(s), merges=2),
    "ccnet_buckets": lambda s: textstats.ccnet_buckets(_corpus(s)),
    "snm_candidates": lambda s: linking.snm_candidates(
        _records(s), "name", "id", window=3
    ),
    "bpe_encode_tokens": lambda s: textstats.bpe_encode_tokens(_corpus(s), merges=2),
    "attribution_removal_effect": lambda s: events.attribution_removal_effect(
        _events(s)
    ),
    "pack_sequences": lambda s: corpus.pack_sequences(
        _corpus(s).withColumn("lang", F.lit("en")), capacity=16
    ),
    "fuse_facts": lambda s: fusion.fuse_facts(_claims(s)),
    "skyline_2d": lambda s: pareto.skyline_2d(
        s.createDataFrame(
            [(1, 1.0, 10), (2, 2.0, 20), (3, 3.0, 15)],
            "id long, price double, size int",
        ),
        "price",
        "size",
    ),
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


def _estimate(df) -> int:
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_checkpoint_keeps_a_small_estimate_and_bounds_a_growing_one(spark):
    """A checkpoint keeps a small frame's size estimate, so it still
    plans static broadcast joins; in a loop that joins its state with
    itself the inherited estimate squares per round (SPARK-39834), and
    the checkpoint caps it at the engine default instead."""
    limit = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    small = spark.range(100).selectExpr("id AS a", "id % 10 AS b")
    state = fresh_checkpoint(small)
    assert _estimate(state) == _estimate(small) < limit
    grown = []
    for _ in range(4):
        nxt = (
            state.join(state.withColumnRenamed("a", "c"), "b")
            .selectExpr("a", "c % 10 AS b")
            .distinct()
        )
        grown.append(_estimate(nxt))
        state = checkpoint_result(nxt, state)
        assert _estimate(state) <= limit
    assert max(grown) > limit  # the bound was needed
    assert state.count() == 100
    release(state)


def _method_calls(path, names: set[str]) -> list[tuple[int, str]]:
    """(line, name) of every ``.name(`` call in the code of ``path``:
    tokenizing keeps comments, docstrings and other strings out."""
    import tokenize

    skip = {tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT, tokenize.INDENT,
            tokenize.DEDENT}
    with open(path) as f:
        toks = [t for t in tokenize.generate_tokens(f.readline) if t.type not in skip]
    return [
        (tok.start[0], tok.string)
        for dot, tok, paren in zip(toks, toks[1:], toks[2:])
        if dot.string == "." and tok.type == tokenize.NAME
        and tok.string in names and paren.string == "("
    ]


def test_only_session_cuts_and_frees_lineage():
    """session.py owns how lineage is cut and freed: no other module
    calls ``.localCheckpoint(`` (which skips the estimate bound and leaves
    blocks release cannot free) or ``.unpersist(``."""
    from pathlib import Path

    import vectrain_spark

    root = Path(vectrain_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{line} .{name}("
        for p in sorted(root.rglob("*.py"))
        if p.name != "session.py"
        for line, name in _method_calls(p, {"localCheckpoint", "unpersist"})
    ]
    assert hits == []


def test_only_sketch_hash60_converts_bases():
    """One engine-portable hash: ``sketch._hash60`` is the only place that
    spells the md5-60 rule (first 15 hex chars of md5 as a bigint), so no
    other module calls ``.conv(``."""
    from pathlib import Path

    import vectrain_spark

    root = Path(vectrain_spark.__file__).parent
    hits = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        for _call in _method_calls(p, {"conv"})
    ]
    assert hits == ["operators/sketch.py"]


def test_edges_cache_is_keyed_by_application(spark, monkeypatch):
    """The shared edge frame one application cached (a stopped session's,
    say) is never handed to another application on the same sf_dir."""
    from vectrain_spark import driver_queries as dq

    app = ["app-old"]
    monkeypatch.setattr(
        type(spark.sparkContext), "applicationId", property(lambda sc: app[0])
    )
    monkeypatch.setattr(dq, "q_kg_edges", lambda s, sf_dir: _edges(s))
    monkeypatch.setattr(dq, "_EDGES_CACHE", {})
    try:
        old = dq._materialized_edges(spark, "sf")
        assert dq._materialized_edges(spark, "sf") is old
        app[0] = "app-new"
        assert dq._materialized_edges(spark, "sf") is not old
    finally:
        release(*dq._EDGES_CACHE.values())
