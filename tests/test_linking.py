"""L1/L2/L3: embeddings, LSH blocking, linking (broadcast + join variants)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vectrain_spark.operators.extract import (
    extract_pages,
    extract_triples_df,
    split_quarantine,
)
from vectrain_spark.operators.linking import (
    build_alias_index,
    cosine_topk_join,
    embed_with_bands,
    link_mentions,
    link_mentions_join,
    mention_surfaces,
)
from vectrain_spark.oracle import oracle_link
from vectrain_spark.textops import embed_many, embed_string, hyperplanes, lsh_bands


def test_embedding_deterministic_and_normalized():
    a = embed_string("Quantum Dynamics Corp")
    b = embed_string("Quantum Dynamics Corp")
    assert np.array_equal(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-5
    # case-insensitive by design (char n-grams are lowercased)
    assert np.array_equal(a, embed_string("QUANTUM DYNAMICS CORP"))
    assert not np.array_equal(a, embed_string("Stellar Media Ltd"))


def test_lsh_identical_vectors_share_all_bands():
    v = embed_many(["Acme Corp", "Acme Corp", "Other Name"], 128)
    planes = hyperplanes(128, 64)
    bands = lsh_bands(v, planes, 8)
    assert np.array_equal(bands[0], bands[1])
    assert not np.array_equal(bands[0], bands[2])


def test_link_mentions_matches_oracle(spark, pages_df, aliases_df, small_fixture, golden):
    _, _, aliases = small_fixture
    good, _ = split_quarantine(extract_pages(pages_df, triples=True))
    tri = extract_triples_df(good)
    surfaces = mention_surfaces(tri)
    idx = build_alias_index(aliases)
    got = {
        r["surface"]: (r["entity_id"], r["method"])
        for r in link_mentions(spark, surfaces, idx).collect()
    }
    mentions = list(got)
    want = oracle_link(mentions, aliases)
    assert {m: e for m, (e, _) in got.items()} == want
    methods = {m for _, (_, m) in got.items()}
    assert "exact" in methods and "lsh" in methods  # both paths exercised


def test_link_mentions_join_variant(spark, small_fixture):
    """Shuffle-join linking agrees with the broadcast probe on dict surfaces."""
    _, _, aliases = small_fixture
    alias_bands = embed_with_bands(
        spark.createDataFrame(aliases[["entity_id", "alias"]]).withColumnRenamed(
            "alias", "surface"
        ),
        "surface",
    ).join(
        spark.createDataFrame(aliases[["entity_id", "alias"]]).withColumnRenamed(
            "alias", "surface"
        ),
        "surface",
    ).select("entity_id", "band", "sig", "embedding")

    queries = spark.createDataFrame(
        pd.DataFrame({"surface": [aliases["alias"].iloc[0], aliases["alias"].iloc[5].lower()]})
    )
    linked = {r["surface"]: r["entity_id"] for r in link_mentions_join(queries, alias_bands).collect()}
    want = oracle_link(
        [aliases["alias"].iloc[0], aliases["alias"].iloc[5].lower()], aliases
    )
    assert linked == want


def test_cosine_topk_join(spark, small_fixture):
    _, _, aliases = small_fixture
    adf = spark.createDataFrame(aliases[["entity_id", "alias"]])
    alias_bands = embed_with_bands(adf.withColumnRenamed("alias", "surface"), "surface").join(
        adf.withColumnRenamed("alias", "surface"), "surface"
    ).select("entity_id", "band", "sig", "embedding")
    q = aliases["alias"].iloc[3]
    res = cosine_topk_join(
        spark.createDataFrame(pd.DataFrame({"surface": [q]})), alias_bands, k=5
    ).collect()
    assert 1 <= len(res) <= 5
    top = [r for r in res if r["rank"] == 1][0]
    # top-1 for an exact dictionary surface is itself with cosine ~1
    assert abs(top["score"] - 1.0) < 1e-6
    assert top["entity_id"] == int(
        aliases.loc[aliases["alias"] == q, "entity_id"].min()
    )
    # ranks are dense and scores non-increasing
    ranks = sorted(r["rank"] for r in res)
    assert ranks == list(range(1, len(res) + 1))
    scores = [r["score"] for r in sorted(res, key=lambda r: r["rank"])]
    assert all(scores[i] >= scores[i + 1] - 1e-12 for i in range(len(scores) - 1))


def test_broadcast_and_join_paths_give_identical_links(
    spark, pages_df, aliases_df, small_fixture
):
    """The size dispatch must be invisible: broadcast probe and full join
    path produce the same (surface, entity_id, method) on real mention
    surfaces (exact hits, lsh hits, and new-entity fallbacks all present)."""
    from vectrain_spark.operators.linking import link_mentions_join_full, make_linker

    _, _, aliases = small_fixture
    good, _ = split_quarantine(extract_pages(pages_df, triples=True))
    surfaces = mention_surfaces(extract_triples_df(good)).unionByName(
        spark.createDataFrame(
            pd.DataFrame({"surface": ["zzqx unlinkable 99", "wwvv nodict 42"]})
        )
    )
    bc_linker, bc_name = make_linker(
        spark, aliases_df, n_alias_rows=len(aliases), broadcast_dict_max=10**9
    )
    join_linker, join_name = make_linker(
        spark, aliases_df, n_alias_rows=len(aliases), broadcast_dict_max=0
    )
    assert (bc_name, join_name) == ("broadcast", "join")
    bc = {r["surface"]: (r["entity_id"], r["method"]) for r in bc_linker(surfaces).collect()}
    jn = {r["surface"]: (r["entity_id"], r["method"]) for r in join_linker(surfaces).collect()}
    assert bc == jn
    assert {m for _, m in bc.values()} == {"exact", "lsh", "new"}  # all strategies hit


def test_pipeline_dispatch_straddles_threshold(
    spark, pages_df, aliases_df, tmp_path_factory
):
    """run_pipeline with the dictionary just under vs just over the
    broadcast threshold produces identical canonical triples."""
    from vectrain_spark.catalog import Catalog
    from vectrain_spark.pipeline import PipelineConfig, run_pipeline

    def canon(root):
        return set(
            map(
                tuple,
                Catalog(root)
                .read(spark, "canonical_triples")
                .select("subj_canon", "pred", "obj_canon")
                .toPandas()
                .values,
            )
        )

    r1 = str(tmp_path_factory.mktemp("link_bc"))
    r2 = str(tmp_path_factory.mktemp("link_join"))
    s1 = run_pipeline(
        spark, pages_df, aliases_df, r1,
        PipelineConfig(n_groups=2, broadcast_dict_max=10**9),
    )
    s2 = run_pipeline(
        spark, pages_df, aliases_df, r2,
        PipelineConfig(n_groups=2, broadcast_dict_max=0),
    )
    assert (s1["link_strategy"], s2["link_strategy"]) == ("broadcast", "join")
    assert canon(r1) == canon(r2)
