"""End-to-end pipeline: P/R vs oracle, determinism across parallelism,
crash-resume (Z3), idempotent re-run, lineage (Z2)."""

from __future__ import annotations

import glob
import os

import pytest

from vectrain_spark.catalog import Catalog
from vectrain_spark.oracle import prf
from vectrain_spark import pipeline
from vectrain_spark.pipeline import (
    InjectedFailure,
    PipelineConfig,
    group_workers,
    run_pipeline,
)

# the tables a run commits; lineage's wall-clock columns differ run to run
TABLES = (
    "triples",
    "canonical_triples",
    "edges",
    "adjacency",
    "entity_canon",
    "quarantine",
    "lineage",
)


def _canon_set(spark, root):
    cat = Catalog(root)
    return set(
        map(
            tuple,
            cat.read(spark, "canonical_triples")
            .select("subj_canon", "pred", "obj_canon")
            .toPandas()
            .values,
        )
    )


@pytest.fixture(scope="module")
def full_run(spark, pages_df, aliases_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_full"))
    stats = run_pipeline(spark, pages_df, aliases_df, root, PipelineConfig(n_groups=4))
    return root, stats


def test_pipeline_pr_vs_oracle(spark, full_run, golden):
    root, _ = full_run
    got = _canon_set(spark, root)
    want = set(
        map(
            tuple,
            golden["canonical_triples"][["subj_canon", "pred", "obj_canon"]].values,
        )
    )
    p, r = prf(got, want)
    # north_rule budget is 0.95/0.95; exact-match linking + lossless LSH on
    # identical embeddings makes this deterministic 1.0 on the fixture
    assert p >= 0.95 and r >= 0.95
    assert p == 1.0 and r == 1.0


def test_lineage_accounts_for_every_page(spark, full_run, small_fixture):
    root, _ = full_run
    pages, _, _ = small_fixture
    cat = Catalog(root)
    lin = cat.read(spark, "lineage").toPandas()
    assert lin["pages"].sum() == len(pages)
    assert lin["errors"].sum() == int(pages["text"].isna().sum())
    assert (lin["bytes"] > 0).all()
    assert set(lin.columns) >= {
        "part_id",
        "pages",
        "errors",
        "bytes",
        "extract_wall_sec",
        "triples",
        "group_id",
        "committed_at",
    }
    tri = cat.read(spark, "triples")
    assert lin["triples"].sum() == tri.count()


def test_extracted_commit_has_no_triples_column(spark, full_run):
    """The fused pass's nested triples never reach the staged table."""
    root, _ = full_run
    cols = Catalog(root).read(spark, "extracted").columns
    assert "triples" not in cols
    assert {"url", "text", "error", "part_id", "group_id"} <= set(cols)


def test_run_releases_caches_and_sizes_sink_files(spark, pages_df, aliases_df, tmp_path):
    """A run leaves no persisted RDD behind (the fused-pass cache and the
    linker/finalize checkpoints are all released), and each group's
    `triples` append is a handful of files sized from its data, not one
    per fixed sink partition."""
    jsc = spark.sparkContext._jsc
    pages_df.count()  # fill the session fixtures' own caches first
    aliases_df.count()
    before = jsc.getPersistentRDDs().size()
    # 8 input partitions at local[8]: one group at a time; 2 partitions:
    # both groups side by side
    for pages, workers in ((pages_df, 1), (pages_df.coalesce(2), 2)):
        root = str(tmp_path / f"kg{workers}")
        stats = run_pipeline(spark, pages, aliases_df, root, PipelineConfig(n_groups=2))
        assert stats["group_workers"]["workers"] == workers
        assert jsc.getPersistentRDDs().size() == before
        dirs = Catalog(root).snapshots("triples")[-1]["data_dirs"]
        assert len(dirs) == 2
        for d in dirs:
            n_files = len(glob.glob(os.path.join(d, "*.parquet")))
            assert 1 <= n_files <= 2, (d, n_files)


def test_crash_resume_equals_uninterrupted(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    root, _ = full_run
    want = _canon_set(spark, root)
    root2 = str(tmp_path_factory.mktemp("kg_resume"))
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark,
            pages_df,
            aliases_df,
            root2,
            PipelineConfig(n_groups=4),
            fail_after_groups=2,
        )
    stats = run_pipeline(spark, pages_df, aliases_df, root2, PipelineConfig(n_groups=4))
    assert sorted(stats["resumed_from"]) == [0, 1]
    assert len(stats["groups"]) == 2  # only the pending groups ran
    assert _canon_set(spark, root2) == want


def test_rerun_is_idempotent(spark, pages_df, aliases_df, full_run):
    root, _ = full_run
    want = _canon_set(spark, root)
    stats = run_pipeline(spark, pages_df, aliases_df, root, PipelineConfig(n_groups=4))
    assert stats["groups"] == []  # nothing re-processed
    assert _canon_set(spark, root) == want


def test_determinism_across_parallelism(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    """SURVEY.md §5.2 item 3: different partition counts, identical triples."""
    root, _ = full_run
    want = _canon_set(spark, root)
    root2 = str(tmp_path_factory.mktemp("kg_par"))
    run_pipeline(
        spark,
        pages_df.repartition(3),
        aliases_df,
        root2,
        PipelineConfig(n_groups=2),
    )
    assert _canon_set(spark, root2) == want


def test_quarantine_never_reaches_triples(spark, full_run):
    root, _ = full_run
    cat = Catalog(root)
    quarantined_urls = {r["url"] for r in cat.read(spark, "quarantine").collect()}
    assert quarantined_urls  # fixture plants bad pages
    triple_urls = {r["url"] for r in cat.read(spark, "triples").select("url").distinct().collect()}
    assert not (quarantined_urls & triple_urls)


def test_config_change_resume_never_mixes_groupings(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    """A partial run with n_groups=4 followed by a re-run with n_groups=2
    into the SAME out_root must prune the stale-fingerprint snapshots and
    produce exactly the uninterrupted result (regression: snapshot-based
    recovery used to trust group numbers across config changes)."""
    root, _ = full_run
    want = _canon_set(spark, root)
    want_n = Catalog(root).read(spark, "triples").count()
    root2 = str(tmp_path_factory.mktemp("kg_cfgchange"))
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark, pages_df, aliases_df, root2,
            PipelineConfig(n_groups=4), fail_after_groups=2,
        )
    stats = run_pipeline(spark, pages_df, aliases_df, root2, PipelineConfig(n_groups=2))
    assert stats["resumed_from"] == []  # nothing carried across the config change
    assert len(stats["groups"]) == 2
    assert _canon_set(spark, root2) == want
    assert Catalog(root2).read(spark, "triples").count() == want_n  # no stale rows mixed in


def test_config_switch_back_does_not_resurrect_pruned_groups(
    spark, pages_df, aliases_df, full_run, tmp_path_factory
):
    """A -> B -> A into the same out_root: config A's group commits are
    pruned during the B run, so the second A run must NOT treat those dead
    snapshots as done (regression: the done-scan matched on fingerprint
    alone, skipping groups whose data had been pruned and leaving B's
    grouping in the final A output)."""
    root, _ = full_run  # reference result for config A (n_groups=2)
    want = _canon_set(spark, root)
    want_n = Catalog(root).read(spark, "triples").count()
    root3 = str(tmp_path_factory.mktemp("kg_switchback"))
    cfg_a = PipelineConfig(n_groups=2)
    cfg_b = PipelineConfig(n_groups=4)
    run_pipeline(spark, pages_df, aliases_df, root3, cfg_a)   # full A run
    run_pipeline(spark, pages_df, aliases_df, root3, cfg_b)   # full B run (prunes A)
    stats = run_pipeline(spark, pages_df, aliases_df, root3, cfg_a)  # back to A
    # A's original commits are dead (pruned by the B run) — every A group
    # must actually re-run, and the result must equal a clean A run
    assert stats["resumed_from"] == []
    assert len(stats["groups"]) == 2
    assert _canon_set(spark, root3) == want
    assert Catalog(root3).read(spark, "triples").count() == want_n


@pytest.mark.parametrize(
    "n_pending, cores, parts, override, want",
    [
        (4, 8, 1, None, 4),  # P = 1: every core could run a group, pending caps it
        (8, 8, 1, None, 8),
        (4, 8, 4, None, 2),  # P = cores / 2
        (4, 8, 8, None, 1),  # P = cores
        (4, 32, 64, None, 1),  # P > cores: bench.py's sf0.1 layout stays sequential
        (4, 4, 2, None, 2),  # perfbench build: 2 splits per group at local[4]
        (1, 4, 2, None, 1),  # fewer pending groups than workers
        (4, 4, 0, None, 4),  # empty input plans no partitions
        (4, 32, 64, 3, 3),  # an explicit value wins...
        (2, 8, 1, 4, 2),  # ...but never exceeds the pending groups
        (4, 8, 1, 0, 1),  # ...nor drops below one
    ],
)
def test_group_workers_rule(n_pending, cores, parts, override, want):
    assert group_workers(n_pending, cores, parts, override) == want


def _table_rows(spark, root, table):
    df = Catalog(root).read(spark, table).drop("committed_at", "extract_wall_sec")
    return sorted(map(str, df.collect()))


@pytest.fixture(scope="module")
def two_part_pages(pages_df):
    """The fixture pages in 2 partitions: at local[8] one group's pass
    leaves cores idle, so the derived default runs groups side by side."""
    return pages_df.coalesce(2)


@pytest.fixture(scope="module")
def concurrent_run(spark, two_part_pages, aliases_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg_concurrent"))
    stats = run_pipeline(spark, two_part_pages, aliases_df, root, PipelineConfig(n_groups=4))
    return root, stats


def test_derived_concurrency_matches_sequential(
    spark, two_part_pages, aliases_df, concurrent_run, tmp_path_factory
):
    """Groups run side by side by default when one leaves cores idle, and
    every committed table holds the same rows as a one-at-a-time run."""
    root, stats = concurrent_run
    assert stats["group_workers"] == {"workers": 4, "partitions": 2}
    assert any(
        label == "dispatch group_workers=4 partitions=2" for label, _ in pipeline.PROF_EVENTS
    )
    root1 = str(tmp_path_factory.mktemp("kg_sequential"))
    stats1 = run_pipeline(
        spark, two_part_pages, aliases_df, root1,
        PipelineConfig(n_groups=4, max_concurrent_groups=1),
    )
    assert stats1["group_workers"] == {"workers": 1, "partitions": 2}
    for table in TABLES:
        assert _table_rows(spark, root, table) == _table_rows(spark, root1, table), table


def test_failure_in_a_concurrent_group_surfaces_and_resumes(
    spark, two_part_pages, aliases_df, concurrent_run, tmp_path_factory, monkeypatch
):
    """A group that fails while another runs beside it fails the run; the
    other group still commits, and a re-run resumes to the uninterrupted
    result."""
    import threading

    real = pipeline._run_group
    both_in_flight = threading.Barrier(2, timeout=120)

    def flaky(spark_, pages, linker, mapping, group, *args, **kwargs):
        both_in_flight.wait()  # breaks (and fails the test) if groups run one by one
        if group == 1:
            raise RuntimeError("group 1 failed")
        return real(spark_, pages, linker, mapping, group, *args, **kwargs)

    monkeypatch.setattr(pipeline, "_run_group", flaky)
    root = str(tmp_path_factory.mktemp("kg_concurrent_fail"))
    cfg = PipelineConfig(n_groups=4)
    with pytest.raises(RuntimeError, match="group 1 failed"):
        run_pipeline(spark, two_part_pages, aliases_df, root, cfg)
    monkeypatch.undo()
    stats = run_pipeline(spark, two_part_pages, aliases_df, root, cfg)
    assert 0 in stats["resumed_from"] and 1 not in stats["resumed_from"]
    assert 1 in {g["group"] for g in stats["groups"]}
    want_root, _ = concurrent_run
    for table in TABLES:
        assert _table_rows(spark, root, table) == _table_rows(spark, want_root, table), table
