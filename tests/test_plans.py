"""Physical-plan assertions: the plans we'd want at 100 TB, not just plans
that pass. Checks column pruning into the parquet scan, broadcast joins on
dictionary-sized sides, whole-stage codegen on JVM operators, and shuffle
counts."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from vectrain_spark.operators.dedup import dedup_corpus, exact_dedup, simhash_docs
from vectrain_spark.operators.extract import extract_pages, extract_triples_df, split_quarantine
from vectrain_spark.operators.canonicalize import apply_canonical
from vectrain_spark.operators.textstats import lang_id

DOCS = "/root/testdata/sf0.001/documents.parquet"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _lazy_plans(monkeypatch, *modules, plan=_plan, run=False) -> list[str]:
    """Plans of every lazy frame the operators in ``modules`` hand to
    session.checkpoint_result, in call order: the operator's own
    dataflow, planned before it is checkpointed (the returned result is
    a checkpoint scan). ``run`` executes the frame first, so adaptive
    execution has settled the plan being read."""
    plans: list[str] = []
    for module in modules:
        orig = module.checkpoint_result

        def spy(out, *working, _orig=orig):
            if run:
                out.collect()
            plans.append(plan(out))
            return _orig(out, *working)

        monkeypatch.setattr(module, "checkpoint_result", spy)
    return plans


def test_extract_prunes_columns(spark, pages_df):
    """The pages scan must read only (url, warc_ts, html, lang) — never a
    full-row materialization (ReadSchema check ~ column pruning)."""
    ext = extract_pages(pages_df)
    plan = _plan(ext)
    assert "html" in plan
    # triples come out of the SAME Arrow pass as the text and are exploded
    # in the JVM: the extract->triples chain is one Python map node in a
    # single pipelined stage with no Exchange
    good, _ = split_quarantine(extract_pages(pages_df, triples=True))
    tri_plan = _plan(extract_triples_df(good))
    assert "Exchange" not in tri_plan, tri_plan
    assert tri_plan.count("MapInArrow") == 1, tri_plan
    assert "Generate inline" in tri_plan, tri_plan


def test_scan_pushdown_on_parquet(spark):
    docs = spark.read.parquet(DOCS)
    q = docs.filter(F.col("doc_id") % 97 != 3).select("doc_id", "text")
    plan = _plan(q)
    assert "ReadSchema" in plan
    # only the two needed columns reach the scan
    schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in schema_part and "text" in schema_part
    assert "lang" not in schema_part and "source" not in schema_part


def test_filter_pushed_to_scan(spark):
    docs = spark.read.parquet(DOCS)
    q = docs.filter(F.col("doc_id") < 100).select("doc_id")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or (
        "PushedFilters" in plan and "LessThan(doc_id,100)" in plan
    ), plan


def test_canonical_mapping_join_is_broadcast(spark):
    linked = spark.createDataFrame(
        pd.DataFrame({"subj_id": [1, 2], "obj_id": [3, 4], "pred": ["a", "b"]})
    )
    mapping = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 4], "canon": [1, 1, 3, 3]}))
    plan = _plan(apply_canonical(linked, mapping))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_textstats_whole_stage_codegen_no_python(spark):
    """Text analysis must stay JVM-side: no Python/Arrow eval nodes, and the
    work runs inside WholeStageCodegen spans."""
    docs = spark.read.parquet(DOCS)
    spark.catalog.clearCache()
    for op in (lang_id, exact_dedup, simhash_docs):
        df = op(docs if op is lang_id else dedup_corpus(docs))
        df.collect()  # finalize AQE so codegen spans are visible
        plan = _plan(df)
        # "*(n)" is the WholeStageCodegen marker in the plan string
        assert "*(" in plan, f"{op.__name__}: no codegen span\n{plan[:500]}"
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, op.__name__


def test_exact_dedup_single_shuffle(spark):
    spark.catalog.clearCache()  # cached frames from other modules change plan shape
    docs = spark.read.parquet(DOCS)
    plan = _plan(exact_dedup(dedup_corpus(docs)))
    # one hash-aggregate pair around exactly one exchange (partial -> final)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_simhash_partial_aggregation(spark):
    """The 60 conditional sums must use map-side partial aggregation (the
    skew answer for hub keys: combine before exchange)."""
    spark.catalog.clearCache()
    docs = spark.read.parquet(DOCS)
    plan = _plan(simhash_docs(dedup_corpus(docs)))
    # exactly one AGGREGATION shuffle (hashpartitioning); spread() may add
    # one round-robin fan-out exchange on narrow test inputs, which is a
    # no-op at scale and must not count against the aggregate plan shape
    assert plan.count("Exchange hashpartitioning") == 1, plan
    first_agg = plan.index("HashAggregate")
    first_exchange = plan.index("Exchange hashpartitioning")
    # partial aggregate appears below (after, in print order) the exchange —
    # i.e. there is a HashAggregate on the map side
    assert plan.count("HashAggregate") >= 2
    assert first_agg < first_exchange


def test_pii_and_sampling_are_shuffle_free_jvm_maps(spark):
    """PII scan/mask and stratified sampling are per-row map work: zero
    exchanges, zero Python eval nodes — they fuse into the parquet scan."""
    from vectrain_spark.operators.corpus import pii_scan, stratified_sample

    spark.catalog.clearCache()
    docs = spark.read.parquet(DOCS)
    for df in (pii_scan(docs), stratified_sample(docs, {"en": 0.5})):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "*(" in plan  # whole-stage codegen span


def test_corpus_stats_single_aggregation_shuffle(spark):
    """Per-lang stats: one hashpartitioning exchange with a map-side
    partial aggregate below it (count/sum combine before the shuffle)."""
    from vectrain_spark.operators.corpus import corpus_stats

    spark.catalog.clearCache()
    docs = spark.read.parquet(DOCS)
    plan = _plan(corpus_stats(docs))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_pagerank_lineage_stays_flat_across_iterations(spark):
    """Each iteration is localCheckpoint-ed, so the returned frame's plan
    is a checkpoint scan + projection whose SIZE DOES NOT GROW with the
    iteration count — the property that keeps iterative-join PageRank
    from compiling exponentially deep plans at 20 iterations."""
    from vectrain_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11) for i in range(50)], "src long, dst long"
    )

    def final_plan(n_iter):
        r = pagerank(edges, n_iter=n_iter)
        r.collect()
        return _plan(r)

    p2, p5 = final_plan(2), final_plan(5)
    # lineage truncated: the plan reads the checkpointed RDD, re-derives
    # nothing (no joins/exchanges/python), and is iteration-count-invariant
    for p in (p2, p5):
        assert "Scan ExistingRDD" in p, p[:400]
        assert "Exchange" not in p and "Join" not in p and "EvalPython" not in p
    assert abs(len(p5) - len(p2)) < 200, (len(p2), len(p5))


def test_vocab_topk_avoids_full_sort(spark):
    """Top-100 vocabulary must plan as TakeOrderedAndProject (per-partition
    top-k then a 100-row merge), never a global sort of the vocabulary."""
    from vectrain_spark.driver_queries import q_text_vocab

    spark.catalog.clearCache()
    plan = _plan(q_text_vocab(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan, plan[:500]
    assert "EvalPython" not in plan


def test_olap_join_broadcasts_dimension(spark):
    """nation (25 rows) must enter the plan as a BroadcastHashJoin; the
    status filter must reach the orders parquet scan as a pushed filter."""
    from vectrain_spark.driver_queries import q_olap_nation_revenue

    spark.catalog.clearCache()
    plan = _plan(q_olap_nation_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan[:500]
    assert "EqualTo(o_orderstatus,O)" in plan, plan[:1500]  # pushed to scan
    # column pruning: the orders scan reads 3 of 6 columns
    assert "ReadSchema: struct<o_custkey:bigint,o_orderstatus:string,o_totalprice:double>" in plan


def test_funnel_joins_stay_on_one_key(spark):
    """The funnel's three stage joins all key on user_id — no EvalPython,
    and every exchange in the plan partitions on user_id (plus the final
    1-partition stage aggregate)."""
    from vectrain_spark.driver_queries import q_events_funnel

    spark.catalog.clearCache()
    plan = _plan(q_events_funnel(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    import re

    keys = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
    assert keys and all(k in ("user_id", "stage") for k in keys), keys


def test_event_window_queries_have_no_global_window(spark):
    """VERDICT r2 ask #7: the cumulative and rolling event queries must
    never plan a partition-less WindowExec (the 'No Partition Defined'
    warnings in the r2 bench tail). Cumulative uses a year-partitioned
    window + offsets; rolling is a bucketed equi-join with no window."""
    from vectrain_spark.driver_queries import (
        q_events_cumulative,
        q_events_rolling,
    )
    import re

    sf = "/root/testdata/sf0.001"
    cum = _plan(q_events_cumulative(spark, sf))
    # every Window node must carry a partition spec (3 bracket groups)
    for line in cum.splitlines():
        if "Window [" in line:
            assert re.search(r"Window \[.*\], \[.*\], \[.*\]", line), line
    roll = _plan(q_events_rolling(spark, sf))
    assert "Window" not in roll, roll


def test_kg_integrity_runs_one_action(spark, monkeypatch):
    """VERDICT r2 ask #8: the integrity query itself must derive all six
    conservation masses from ONE materializing call (the r2 version made
    ~5 — three counts + two collects). Dependencies keep their own
    intrinsic actions (connected-components convergence checksums, the
    shared edge-cache warm-up), so the count is scoped to calls issued
    directly from q_kg_integrity's own frame."""
    import traceback

    from vectrain_spark.driver_queries import q_kg_integrity

    # patch the CONCRETE class (pyspark.sql.classic overrides the base)
    DataFrame = type(spark.range(1))
    calls = {"n": 0}
    for name in ("collect", "count", "toPandas", "take", "head", "first"):
        orig = getattr(DataFrame, name)

        def wrapper(self, *a, _orig=orig, **kw):
            # immediate caller frame only: [-1] is this wrapper, [-2] the
            # site that invoked the DataFrame method
            if traceback.extract_stack(limit=2)[0].name == "q_kg_integrity":
                calls["n"] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, wrapper)
    out = q_kg_integrity(spark, "/root/testdata/sf0.001")
    assert calls["n"] == 1, f"{calls['n']} materializing calls, expected 1"
    rows = {r["chk"]: (r["measured"], r["expected"]) for r in out.collect()}
    assert all(m == e for m, e in rows.values())


def test_sessionize_single_user_exchange(spark):
    """The lag flag, the running session index, and the per-session
    aggregate must all ride ONE hashpartitioning(user_id) exchange —
    Catalyst recognizes that user_id partitioning satisfies the
    (user_id, sess_seq) aggregation's distribution."""
    from pyspark.sql import functions as F

    from vectrain_spark.operators.events import sessionize

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    plan = _plan(sessionize(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan, plan


def test_gopher_rules_is_shuffle_free_jvm_map(spark):
    from vectrain_spark.operators.textstats import gopher_rules

    docs = spark.read.parquet(DOCS)
    plan = _plan(gopher_rules(docs))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_cms_sketch_two_phase_aggregate_jvm(spark):
    """The CMS counter aggregate must partial-combine map-side (partial_
    count before the exchange) and never touch Python."""
    from vectrain_spark.operators.sketch import cms_sketch

    docs = spark.read.parquet(DOCS).selectExpr("cast(doc_id as string) word")
    plan = _plan(cms_sketch(docs, "word"))
    assert "partial_count" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan, plan


def test_link_graph_aggregation_is_jvm(spark):
    """After the (pandas) page-assembly source, href extraction and the
    in-link aggregate are pure JVM: exactly one BatchEvalPython/ArrowEval
    from the corpus derivation, none added by the operator."""
    from vectrain_spark.driver_queries import q_web_linkgraph

    plan = _plan(q_web_linkgraph(spark, "/root/testdata/sf0.001"))
    n_python = (
        plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("MapInArrow")
    )
    assert n_python == 1, plan  # only the fixture html assembly
    assert "partial_count" in plan, plan


def test_q6_pushes_every_predicate_and_prunes_columns(spark):
    """TPC-H Q6 shape: all filters reach the parquet scan; ReadSchema
    carries only the columns the query touches."""
    from vectrain_spark.driver_queries import q_olap_revenue_forecast

    plan = _plan(q_olap_revenue_forecast(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_quantity" in pushed and "l_discount" in pushed
    assert "l_shipdate" in pushed
    schema_part = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in schema_part and "l_tax" not in schema_part


def test_bloom_filter_is_jvm_and_prunes_before_join(spark):
    """The Bloom membership test must compile to built-in expressions (no
    Python eval in the fact scan stage) and sit BELOW the join."""
    from vectrain_spark.operators.bloom import bloom_build, bloom_filter_col

    fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    dim = spark.read.parquet("/root/testdata/sf0.001/part.parquet").filter(
        F.col("p_size") <= 5
    ).select(F.col("p_partkey").alias("l_partkey"))
    bitmap = bloom_build(dim, "l_partkey")
    pruned = fact.filter(bloom_filter_col(F.col("l_partkey"), bitmap))
    plan = _plan(pruned)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the `*(n)` prefix is the whole-stage-codegen marker in plan toString
    assert "*(1) Filter" in plan


def test_pq_topk_jvm_only_with_broadcast_luts(spark, monkeypatch):
    """The PQ ADC scan must stay whole-stage-codegen JVM (no Python eval
    anywhere) and probe the per-subspace LUTs via broadcast joins — the
    code table is the only large side at scale."""
    from vectrain_spark.operators import similarity

    plans = _lazy_plans(monkeypatch, similarity)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.pq_topk(spark, emb)
    (plan,) = plans
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_transe_global_window_only_sees_bucket_finalists(spark):
    """transe_scores' per-predicate rank must be two-phase: the physical
    plan has a window partitioned by (pred, _b) BEFORE the pred-only
    window, so the global sort never ingests the full edge table."""
    from vectrain_spark.operators.graph import transe_scores

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    edges = spark.createDataFrame(
        [(f"E{i}", "rel", f"E{(i * 3) % 17}", 1) for i in range(30)],
        "src: string, pred: string, dst: string, cnt: long",
    )
    plan = _plan(transe_scores(edges, emb))
    assert "EvalPython" not in plan
    assert plan.count("Window [") == 2, plan.count("Window [")
    assert "_b#" in plan, "bucketed local-prune window missing"
    # both windows carry a partition spec that includes pred
    for seg in plan.split("Window [")[1:]:
        head = seg.split("\n", 1)[0]
        assert "pred#" in head, head


def test_degree_histogram_two_phase_aggregates_no_window(spark):
    """Histogram = two hash aggregates with map-side partials; no window,
    no Python, no sort of the node set."""
    from vectrain_spark.operators.graph import degree_histogram

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 5) % 23}", "p") for i in range(40)],
        "src: string, dst: string, pred: string",
    )
    plan = _plan(degree_histogram(edges))
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 aggregates


def test_bpe_pairs_topk_avoids_full_sort(spark):
    """Top-50 merge pairs must plan as TakeOrderedAndProject over the
    pair aggregate — never a global Sort of the pair table."""
    from vectrain_spark.operators.textstats import bpe_pair_counts

    docs = spark.read.parquet(DOCS)
    plan = _plan(bpe_pair_counts(docs))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_link_fuzzy_is_hash_join_not_nested_loop(spark):
    """Fuzzy linking blocks on a length-bucket equi-key: the candidate
    join must plan as a (broadcast) HASH join — a
    BroadcastNestedLoopJoin would compare every mention against the
    whole dictionary (VERDICT r3 wrong #4)."""
    from vectrain_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["kg_link_fuzzy"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_link_eval_pr_is_hash_join_not_nested_loop(spark):
    """The P/R eval harness uses the same length-bucket blocking as the
    fuzzy linker: candidate generation must plan as a broadcast HASH
    join on the bucket key, never a nested loop over the dictionary."""
    from vectrain_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["kg_link_pr"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_neighbor_jaccard_wedges_are_degree_oriented(spark, monkeypatch):
    """The common-neighbor stage must ride the oriented wedge join (two
    broadcast degree joins feeding the orientation), never a symmetric
    self-join on the raw pivot."""
    from vectrain_spark.operators import graph

    plans = _lazy_plans(monkeypatch, graph, plan=_optimized)
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "a long, b long")
    graph.neighbor_jaccard(e)
    (plan,) = plans
    # the orientation's CASE WHEN on (deg, id) is present in the plan
    assert "deg_a" in plan and "deg_b" in plan


def test_min_cost_supplier_dims_broadcast_no_nested_loop(spark):
    """TPC-H Q2 shape: every dimension (part filter, supplier chain, the
    per-part best-offer table) must ride broadcast hash joins — never a
    SortMergeJoin on a dimension and never a nested loop."""
    from vectrain_spark.driver_queries import q_olap_min_cost_supplier

    df = q_olap_min_cost_supplier(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_important_parts_scalar_probe_is_broadcast(spark):
    """TPC-H Q11 shape: the one-row global total joins as a broadcast —
    a nested-loop here is fine ONLY because the build side is one row;
    the plan must never SortMerge the fact against it."""
    from vectrain_spark.driver_queries import q_olap_important_parts

    df = q_olap_important_parts(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_anchor_aliases_no_python_in_extraction(spark, pages_df):
    """Anchor mining is a JVM regex over the decoded bytes: no Python
    eval nodes anywhere (the page-assembly mapInPandas belongs to the
    FIXTURE input, not the operator under test)."""
    from vectrain_spark.operators.webcorpus import anchor_aliases

    out = anchor_aliases(pages_df)
    plan = _plan(out)
    # the operator's own stages: regexp extract + aggregate + window.
    # ArrowEvalPython may appear once for the fixture html assembly and
    # never for the operator itself -> assert no BatchEvalPython (row
    # Python) at all
    assert "BatchEvalPython" not in plan, plan


def test_fact_fusion_windows_are_partitioned(spark, monkeypatch):
    """Both fusion windows partition by (subj, pred): no partition-less
    window (single-reducer global sort) may appear."""
    from vectrain_spark.operators import fusion

    claims = spark.createDataFrame(
        pd.DataFrame(
            {
                "source": ["u", "v"],
                "subj": ["s", "s"],
                "pred": ["p", "p"],
                "obj": ["x", "y"],
            }
        )
    )
    # run the lazy dataflow first: AQE's final plan shows the windows
    plans = _lazy_plans(monkeypatch, fusion, run=True)
    fusion.fuse_facts(claims)
    (plan,) = plans
    win_lines = [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]
    assert win_lines, plan  # row_number/count windows must exist
    for ln in win_lines:
        # the (subj, pred) partition spec must lead every window spec
        spec = ln.split("windowspecdefinition(")[1]
        assert spec.startswith("subj") and "pred" in spec.split(",")[1], ln


def test_r4f_graph_ops_stay_jvm_no_nested_loop(spark, monkeypatch):
    """local_clustering / wl_refinement / modularity: zero Python in the
    plan and no BroadcastNestedLoopJoin / CartesianProduct — every join
    is keyed (the wedge close on (a, b), color/label lookups on id); the
    only cross join allowed is the 1-row broadcast scalar."""
    from vectrain_spark.operators import graph
    from vectrain_spark.operators.graph import (
        local_clustering,
        modularity,
        wl_refinement,
    )

    lazy = _lazy_plans(monkeypatch, graph)
    pairs = spark.createDataFrame(
        [(i % 7, 7 + (i * 3) % 11) for i in range(40)], "a int, b int"
    ).filter("a < b")
    labels = spark.createDataFrame(
        [(i, i % 3) for i in range(20)], "id int, label int"
    )
    dfs = (
        local_clustering(pairs),
        wl_refinement(pairs, rounds=2),
        modularity(pairs, labels),
    )
    for plan in lazy + [_plan(df) for df in dfs]:
        assert "EvalPython" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        # modularity's edge-count scalar is a 1-row broadcast cross join
        # (BroadcastNestedLoopJoin over ONE row is the correct plan);
        # nothing else may nest loops
        nlj = plan.count("BroadcastNestedLoopJoin")
        assert nlj <= 1, plan


def test_bpe_train_is_all_jvm(spark, monkeypatch):
    """The BPE training loop must never leave the JVM: pair explode,
    argmax, and the merge replace are whole-stage-codegen expressions."""
    from vectrain_spark.operators import textstats

    lazy = _lazy_plans(monkeypatch, textstats)
    docs = spark.createDataFrame(
        [(i, "abab cdcd abcd") for i in range(10)], "doc_id long, text string"
    )
    out = textstats.bpe_train(docs, merges=2)
    assert lazy
    for plan in lazy + [_plan(out)]:
        assert "EvalPython" not in plan and "ArrowEval" not in plan, plan


def test_warc_build_is_jvm_parse_is_single_arrow_pass(spark):
    """pages_to_warc is pure JVM concat (no Python); parse_warc is
    exactly ONE Arrow mapInPandas operator."""
    import datetime

    from vectrain_spark.operators.warc import pages_to_warc, parse_warc

    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://x/{i}", ts, b"<p>x</p>", "en") for i in range(10)],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    files = pages_to_warc(pages, n_files=2)
    build_plan = _plan(files)
    assert "EvalPython" not in build_plan and "ArrowEval" not in build_plan
    parse_plan = _plan(parse_warc(files))
    assert parse_plan.count("MapInPandas") == 1, parse_plan


def test_r4g_ops_stay_jvm_keyed_joins(spark, monkeypatch):
    """simrank / strongly_connected_components / resolve_redirects /
    skyline_2d: zero Python in every plan; the only nested-loop joins
    allowed are 1-row broadcast scalars (simrank and skyline each
    broadcast one scalar/offset table)."""
    from vectrain_spark.operators import graph, pareto, webcorpus
    from vectrain_spark.operators.graph import (
        simrank,
        strongly_connected_components,
    )
    from vectrain_spark.operators.pareto import skyline_2d
    from vectrain_spark.operators.webcorpus import resolve_redirects

    lazy = _lazy_plans(monkeypatch, graph, pareto, webcorpus)
    edges = spark.createDataFrame(
        [(f"v{i % 7}", f"v{(i * 3 + 1) % 11}") for i in range(30)],
        "src string, dst string",
    )
    rows = spark.createDataFrame(
        [(i, float(i % 13), (i * 7) % 17) for i in range(60)],
        "id long, price double, size int",
    )
    dfs = (
        simrank(edges, rounds=2),
        # force the distributed path: the plan property under test is the
        # scale shape, not the small-graph Tarjan dispatch
        strongly_connected_components(edges, max_hops=6, small_graph_max_edges=0),
        resolve_redirects(
            spark.createDataFrame(
                [(f"u{i}", f"u{i - 1}") for i in range(1, 20) if i % 5],
                "src string, dst string",
            )
        ),
        skyline_2d(rows, "price", "size"),
    )
    for plan in lazy + [_plan(df) for df in dfs]:
        assert "EvalPython" not in plan and "ArrowEval" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_kmeans_parallel_seed_broadcasts_candidates(spark, monkeypatch):
    """k-means|| plan: candidates and the 1-row cost scalar broadcast
    (BroadcastNestedLoopJoin over one row / a tiny candidate set is the
    intended shape); the corpus side must never EvalPython and never
    shuffle-sort — per-point minima are hash aggregates."""
    from vectrain_spark.operators import similarity

    plans = _lazy_plans(monkeypatch, similarity)
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    similarity.kmeans_parallel_seed(emb, l=4, rounds=2)
    assert len(plans) == 3
    for plan in plans:  # every round, then the weighting pass
        assert "EvalPython" not in plan and "ArrowEval" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastExchange" in plan, plan


def test_r4h_ops_stay_jvm_keyed_joins(spark, monkeypatch):
    """snm_candidates / ontology_infer_types / functional_conflicts:
    zero Python anywhere; no cartesian product; the SNM candidate join
    and the conflicts self-join are hash-keyed; every window in the SNM
    rank is partitioned (the two-phase rank never sorts globally)."""
    from vectrain_spark.operators import graph
    from vectrain_spark.operators.graph import ontology_infer_types
    from vectrain_spark.operators.linking import snm_candidates
    from vectrain_spark.operators.temporal import functional_conflicts
    import datetime as dt

    lazy = _lazy_plans(monkeypatch, graph)
    recs = spark.createDataFrame(
        [(i, f"name{i % 9}") for i in range(50)], "id long, name string"
    )
    hier = spark.createDataFrame(
        [("A", "B"), ("B", "C")], "cls string, super string"
    )
    assertions = spark.createDataFrame(
        [(f"e{i}", "A") for i in range(30)], "entity string, cls string"
    )
    hist = spark.createDataFrame(
        [
            (f"s{i % 5}", "p", f"o{i % 7}", dt.datetime(2024, 1, 1), None, True)
            for i in range(35)
        ],
        "subj string, pred string, obj string, valid_from timestamp,"
        " valid_to timestamp, is_current boolean",
    )
    dfs = (
        snm_candidates(recs, "name", "id", window=4),
        ontology_infer_types(assertions, hier),
        functional_conflicts(hist, ["subj", "pred"], "obj"),
    )
    for plan in lazy + [_plan(df) for df in dfs]:
        assert "EvalPython" not in plan and "ArrowEval" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoop" not in plan, plan


def test_luby_mis_rounds_are_keyed_aggregates(spark, monkeypatch):
    """Each Luby round must be hash joins + a keyed min-aggregate:
    no Python, no cartesian product, no window at all (the winner rule
    is an aggregate, never a sort)."""
    from vectrain_spark.operators import graph

    plans = _lazy_plans(monkeypatch, graph)
    pairs = spark.createDataFrame(
        [(f"v{i}", f"v{(i + 1) % 30}") for i in range(30)],
        "a string, b string",
    )
    graph.luby_mis(pairs, rounds=2)
    assert plans
    for plan in plans:  # every round's state update, then the result
        assert "EvalPython" not in plan and "ArrowEval" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoop" not in plan, plan
        assert "WindowExec" not in plan, plan


def test_r4i_gates_stay_jvm_side(spark):
    """Round-4i operators: no row-at-a-time Python anywhere; the NB
    model and SQ quantizer ride broadcast joins, never a shuffle of the
    model; RPQ's Kleene closure is keyed hash joins, not a cartesian."""
    from vectrain_spark.driver_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in (
        "events_changepoint",
        "privacy_k_anon",
        "sim_scalar_quant",
        "text_nb_langid",
        "corpus_unimax",
        "kg_rpq",
        "sketch_join_size",
    ):
        plan = _plan(QUERIES[name](spark, sf))
        assert "EvalPython" not in plan, (name, plan)
    rpq_plan = _plan(QUERIES["kg_rpq"](spark, sf))
    assert "CartesianProduct" not in rpq_plan, rpq_plan


def test_r5_suffix_and_unigram_stay_jvm_side(spark):
    """Round-5 operators: the exact-substring span dedup and the
    unigram-LM trainer are pure JVM dataflows (md5 grams / quantized
    log-prob folds — zero Python eval anywhere), and the span pair join
    is a keyed hash join on the gram, never a nested-loop."""
    from vectrain_spark.driver_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    for name in ("dedup_suffix_exact", "text_unigram_lm"):
        plan = _plan(QUERIES[name](spark, sf))
        assert "EvalPython" not in plan, (name, plan)
        assert "BroadcastNestedLoop" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
