"""End-to-end KG construction pipeline: extract -> link -> canonicalize ->
materialize, with per-partition lineage (Z2) and resumable checkpoints (Z3).

Dataflow (mirrors the reference's consume->embed->store skeleton,
/root/reference/internal/app/pipeline/pipeline.go:69-103, re-expressed as a
Catalyst plan):

    pages (bucketed by xxhash64(url) into n_groups resume units)
      └─ per pending group (at cluster scale each group is a full
         partition-batch, the unit of checkpoint commit; two commits):
           1. stage `extracted` (Arrow UDF pass: html -> text/error),
              columnar on disk — bounds executor memory at any group size
           2. triples (Arrow UDF over staged text, fused with the scan)
              -> distinct mention surfaces (the ONLY shuffle pre-sink)
              -> link (broadcast probe, zero shuffle; or shuffle-join path
                 when the dictionary exceeds broadcast_dict_max)
              -> canonical ids (broadcast mapping join)
              -> append `triples` snapshot  = the group's authoritative
                 commit; then mark the group done in the manifest
      └─ finalize (derived replace-snapshots, rebuildable any time):
           quarantine (X3) + per-partition lineage (Z2) from `extracted`,
           canonical dedup / edges / adjacency from `triples`

Group membership is ``pmod(xxhash64(url), n_groups)`` — stable across
cluster sizes and re-runs, so the resume manifest means the same thing at
any parallelism (SURVEY.md §4.2 partitioning note).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

_PROF = os.environ.get("VECTRAIN_PROFILE", "") == "1"

# Every _prof call appends (label, seconds) here unconditionally (a list
# append is GIL-atomic, so concurrent groups are safe). bench.py drains it
# to put the per-stage breakdown INSIDE the bench JSON — the driver-side
# artifact must be able to name where kg_pipeline time went without the
# builder re-running anything (VERDICT r3 'Next round' #1).
PROF_EVENTS: list[tuple[str, float]] = []


def _prof(msg: str, t0: float) -> None:
    dt = time.time() - t0
    PROF_EVENTS.append((msg, dt))
    if _PROF:
        print(f"[prof] {msg}: {dt:.1f}s", flush=True)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog, GroupManifest
from .operators.canonicalize import (
    _union_find_local,
    apply_canonical,
    connected_components,
    dedup_triples,
    edges_from_aliases,
)
from .operators.extract import extract_pages, extract_triples_df, split_quarantine
from .operators.linking import (
    BROADCAST_DICT_MAX,
    LINK_THRESHOLD,
    N_BANDS,
    N_BITS,
    make_linker,
    mention_surfaces,
)
from .textops import EMBED_DIM


@dataclass
class PipelineConfig:
    n_groups: int = 4
    dim: int = EMBED_DIM
    n_bits: int = N_BITS
    n_bands: int = N_BANDS
    threshold: float = LINK_THRESHOLD
    # Linking strategy dispatch: alias dictionaries up to this many rows are
    # broadcast (zero-shuffle probe); bigger ones take the shuffle-join path
    # (link_mentions_join_full). Excluded from the fingerprint: both paths
    # produce identical links (tests/test_linking.py), so the switch never
    # changes results.
    broadcast_dict_max: int = BROADCAST_DICT_MAX
    # Concurrent group submission (>1): bucket-groups are independent, so
    # the driver MAY overlap their jobs (commits serialize inside Catalog/
    # GroupManifest locks; FAIR scheduler shares cores). Round 2 defaulted
    # this to 4 on a "20% faster at local[16]" measurement; a same-window
    # interleaved A/B on the identical 200k-page corpus at local[32]
    # (tools/ab_kg.py, BENCH/BASELINE.md round-3 addendum) showed the
    # opposite at full width: mcg=4 ran 222-231 s vs 92-137 s for mcg=1
    # across both trials — overlapping groups quadruple the
    # python-UDF worker pools and interleave their shuffle spills, which
    # thrashes a single host even with disk-staged intermediates. Default
    # is 1 (each group already saturates local[*]); >1 is the lever for a
    # REAL multi-executor cluster where per-group commit latency leaves
    # executors idle and workers are per-executor, not per-host.
    max_concurrent_groups: int = 1

    def fingerprint(self) -> str:
        d = asdict(self)
        d.pop("max_concurrent_groups", None)  # concurrency never changes results
        d.pop("broadcast_dict_max", None)  # strategy switch never changes results
        return json.dumps(d, sort_keys=True)


class InjectedFailure(RuntimeError):
    """Raised by the fail_after test hook to simulate a mid-run crash."""


# Per-group sink file count. At local/bench scale this keeps the triples
# table at a handful of right-sized files per snapshot instead of
# shuffle-partition-many tiny ones (small-file reads dominate finalize
# otherwise). On a real cluster you'd target Iceberg's write.target-file-
# size-bytes instead and let the table format split.
SINK_PARTITIONS = 16


def _canonical_mapping(
    spark: SparkSession,
    aliases_df: DataFrame,
    cat: Catalog,
    alias_pdf=None,
) -> DataFrame:
    """Compute (or reuse) the entity -> canonical-id mapping (C2).

    Deterministic in the alias dictionary alone, so it is computed once per
    run and cached as a replace snapshot — resume reuses it bit-identically.
    When the dictionary was already collected for the broadcast linker
    (``alias_pdf``), the shared-alias edges come straight out of pandas into
    the driver-side union-find — no extra Spark jobs in the serial setup
    phase. Otherwise :func:`connected_components` solves the alias edges and
    picks its own path (driver union-find up to SMALL_GRAPH_ROWS distinct
    pairs, distributed star contraction above).
    """
    import pandas as pd

    if cat.exists("entity_canon"):
        return cat.read(spark, "entity_canon")
    if alias_pdf is None:
        # commit FIRST, then hand every consumer the committed parquet —
        # returning the lazy CC plan would re-derive it from the alias
        # table on each of the 2-per-group mapping joins
        mapping = connected_components(edges_from_aliases(aliases_df))
        cat.write("entity_canon", mapping, mode="replace")
        return cat.read(spark, "entity_canon")
    amin = alias_pdf.groupby("alias")["entity_id"].transform("min")
    mask = alias_pdf["entity_id"] != amin
    rows = _union_find_local(
        zip(alias_pdf.loc[mask, "entity_id"].tolist(), amin[mask].tolist())
    )
    mapping = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "canon"]).astype("int64")
    )
    cat.write("entity_canon", mapping, mode="replace")
    return mapping  # written for resume; the in-memory frame serves this run


def _run_group(
    spark: SparkSession,
    pages: DataFrame,
    linker,
    mapping: DataFrame,
    group: int,
    n_groups: int,
    cat: Catalog,
    fingerprint: str = "",
    broadcast_maps: bool = True,
    wave: str | None = None,
    seen_urls: DataFrame | None = None,
) -> dict:
    """Process one bucket-group end-to-end and commit its snapshots.

    Intermediates (`extracted`, `triples_raw`) are STAGED as catalog tables
    rather than held in executor memory: each Python (Arrow) stage makes
    exactly one pass and lands on disk; every downstream consumer is a pure
    JVM scan of columnar parquet. This bounds memory independently of group
    size (no cache eviction/recompute races) and gives the pipeline real
    intermediate tables — the same shape a production run would stage.
    """
    t0 = time.time()
    # group membership = pmod(xxhash64(url), n_groups). If the pages table
    # is bucketed (a `page_bucket = pmod(xxhash64(url), B)` partition
    # column with B % n_groups == 0 — the Iceberg bucket-transform layout),
    # filter on the partition column instead: partition PRUNING skips the
    # other groups' files entirely, instead of scanning the full corpus
    # once per group.
    if "page_bucket" in pages.columns:
        sub = pages.filter(F.pmod(F.col("page_bucket"), F.lit(n_groups)) == group)
    else:
        sub = pages.filter(F.pmod(F.xxhash64("url"), F.lit(n_groups)) == group)

    # incremental wave: skip pages already processed by a committed unit.
    # Both sides are filtered to THIS group (the same url-hash bucketing),
    # so at cluster scale the anti-join is group-local — the Iceberg MERGE
    # analog without rewriting existing data files.
    if seen_urls is not None:
        seen_g = seen_urls.filter(F.col("group_id") == group).select("url")
        sub = sub.join(seen_g, "url", "left_anti")

    # Python pass 1: html -> text (+ error tags); one scan of the pages.
    # Staged on disk so every downstream consumer is a columnar JVM scan.
    tp = time.time()
    ext_snap = cat.write(
        "extracted",
        extract_pages(sub).withColumn("group_id", F.lit(group)),
        mode="append",
        meta={"group": group, "wave": wave},
    )
    ext = cat.read_snapshot_delta(spark, "extracted", ext_snap)
    _prof(f"group {group} stage extracted", tp)

    good, _quarantine = split_quarantine(ext)
    # the triple set feeds the surface chain TWICE (subj ∪ obj), the
    # linked-mention maps, and the final canonical join — persist +
    # materialize it once so the Python (Arrow) triple-extraction pass
    # over the staged text runs exactly once per group (round-6: every
    # consumer raced the lazy cache and re-ran the whole chain)
    tp = time.time()
    tri = extract_triples_df(good).persist()
    tri.count()

    # Linking: distinct surfaces (small) -> broadcast probe UDF -> tiny maps
    surfaces = mention_surfaces(tri)
    linked_m = linker(surfaces).persist()
    linked_m.count()
    subj_map = linked_m.select(
        F.col("surface").alias("subj"),
        F.col("entity_id").alias("subj_id"),
        F.col("method").alias("subj_method"),
    )
    obj_map = linked_m.select(
        F.col("surface").alias("obj"), F.col("entity_id").alias("obj_id")
    )
    # linked-mention maps are distinct-surface-sized (bounded by dictionary
    # + tail): broadcast-hinted while the dictionary itself is broadcast-
    # sized, otherwise planned as shuffle joins (AQE re-broadcasts from the
    # runtime size if the group's surface set turns out small)
    if broadcast_maps:
        subj_map, obj_map = F.broadcast(subj_map), F.broadcast(obj_map)
    linked = tri.join(subj_map, "subj").join(obj_map, "obj")
    canon = apply_canonical(linked, mapping, broadcast_map=broadcast_maps).select(
        "url",
        "sent_idx",
        "subj",
        "pred",
        "obj",
        "subj_id",
        "obj_id",
        "subj_canon",
        "obj_canon",
        "part_id",
        F.lit(group).alias("group_id"),
    )
    try:
        # the group's authoritative commit (quarantine/lineage are derived
        # tables rebuilt in finalize from `extracted` + `triples` — fewer
        # commit round-trips per group, and a crash can never leave them
        # inconsistent with the fact tables)
        # repartition, NOT coalesce: coalesce(k) propagates k upward and
        # caps the whole extract-triples/link stage at k tasks regardless
        # of cluster size (measured: it made the heaviest Python stage
        # one straggler-bound wave at higher parallelism, costing ~20%
        # scaling efficiency). The extra shuffle is a few hundred MB of
        # final triples per group — cheap insurance that sink file count
        # never dictates compute parallelism.
        cat.write(
            "triples",
            canon.repartition(SINK_PARTITIONS),
            mode="append",
            meta={"group": group, "fingerprint": fingerprint, "wave": wave},
        )
        _prof(f"group {group} write triples", tp)
    finally:
        linked_m.unpersist()
        tri.unpersist()
    return {"group": group, "wall_sec": time.time() - t0}


def finalize(spark: SparkSession, cat: Catalog) -> dict:
    """Global aggregates over the committed triples table (C3 + Z1).

    Derived tables are replace snapshots — rebuildable from the fact table
    at any time, so a crash between group commits and finalize is harmless.
    """
    t0 = time.time()
    triples = cat.read(spark, "triples")
    extracted = cat.read(spark, "extracted")

    # quarantine (X3): bad pages with their error codes, rebuilt from the
    # staged extraction output. repartition(1), not coalesce(1): coalesce
    # would propagate single-task-ness up into the full extracted-table
    # scan; repartition keeps the scan+filter parallel and only the tiny
    # post-filter result funnels to one file.
    quarantine = extracted.filter(F.col("error").isNotNull()).select(
        "url", "warc_ts", "lang", "error", "group_id"
    )

    # per-partition lineage (Z2): pages/errors/bytes/extract wall time per
    # (group, input partition), joined with sink triple counts
    lineage_pages = extracted.groupBy("group_id", "part_id").agg(
        F.count(F.lit(1)).alias("pages"),
        F.count("error").alias("errors"),
        F.sum("html_bytes").alias("bytes"),
        F.sum("wall_share").alias("extract_wall_sec"),
    )
    lineage_tri = triples.groupBy("group_id", "part_id").agg(
        F.count(F.lit(1)).alias("triples")
    )
    lineage = (
        lineage_pages.join(lineage_tri, ["group_id", "part_id"], "left")
        .withColumn("triples", F.coalesce("triples", F.lit(0)))
        .withColumn("committed_at", F.lit(time.time()))
    )

    # quarantine + lineage read `extracted`; the canonical dedup reads
    # `triples` — independent jobs, so the two extracted-side rebuilds
    # are submitted from driver threads and back-fill executors while
    # the dedup shuffle's tail drains (guide §2.6; FAIR scheduler is on,
    # catalog commits serialize internally). Per-stage _prof walls
    # overlap the dedup wall by construction.
    from concurrent.futures import ThreadPoolExecutor

    def _write_quarantine() -> None:
        tq = time.time()
        cat.write("quarantine", quarantine.repartition(1), mode="replace")
        _prof("finalize quarantine", tq)

    def _write_lineage() -> None:
        tl = time.time()
        cat.write("lineage", lineage.coalesce(1), mode="replace")
        _prof("finalize lineage", tl)

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(_write_quarantine), ex.submit(_write_lineage)]
        # one shuffle produces the canonical table; edges and adjacency
        # derive from the persisted result without re-reading parquet
        t0 = time.time()
        canonical = dedup_triples(triples).persist()
        n_canonical = canonical.count()
        _prof("finalize dedup", t0)
        for f in futs:
            f.result()  # re-raise derived-table write failures
    t0 = time.time()
    cat.write("canonical_triples", canonical, mode="replace")
    edges = canonical.select(
        F.col("subj_canon").alias("src"),
        F.col("obj_canon").alias("dst"),
        "pred",
        "cnt",
    ).persist()
    cat.write("edges", edges, mode="replace")
    adjacency = edges.groupBy("src").agg(
        F.sort_array(F.collect_list(F.struct("dst", "pred", "cnt"))).alias("out_edges"),
        F.sum("cnt").alias("degree"),
    )
    cat.write("adjacency", adjacency, mode="replace")
    # total triples = sum of canonical counts (algebraic identity) — the
    # persisted aggregate answers it without another full fact-table scan
    n_triples = int(canonical.agg(F.sum("cnt")).collect()[0][0] or 0)
    _prof("finalize materialize", t0)
    canonical.unpersist()
    edges.unpersist()
    return {
        "total_triples": n_triples,
        "canonical_triples": n_canonical,
        "edges": n_canonical,
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    fail_after_groups: int | None = None,
    wave: str | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns run stats.

    ``fail_after_groups`` injects a crash after K committed groups — the
    resume test hook (SURVEY.md §5.2 item 4).

    ``wave`` names an incremental delta (see :func:`run_incremental`):
    checkpoint state is scoped per wave, and pages already processed by
    any committed (group, wave) unit are anti-joined away, so overlapping
    input merges instead of duplicating — the Iceberg MERGE semantics the
    reference's random-UUID sink lacks
    (/root/reference/internal/app/storages/qdrant/store.go:32, TODO :45).
    """
    cfg = cfg or PipelineConfig()
    cat = Catalog(out_root)
    manifest_fp = cfg.fingerprint() + (f"|wave={wave}" if wave is not None else "")
    manifest = GroupManifest(out_root, manifest_fp)

    # effectively-exactly-once: a group counts as done if EITHER the
    # checkpoint manifest says so OR its data snapshot already committed
    # (covers a crash between data commit and manifest commit). Snapshot
    # recovery is fingerprint-checked like the manifest: a snapshot written
    # under a different config (e.g. n_groups changed) must NOT mark a
    # same-numbered group done — its grouping means something else. Stale-
    # fingerprint snapshots are pruned so re-runs never mix groupings.
    # With waves, completion is scoped per (group, wave): a wave-1 commit
    # never marks the group done for wave 2 (its pages are excluded by the
    # anti-join instead).
    done = manifest.completed()
    stale: set[int] = set()
    live_keys: set[tuple[int, str | None]] = set()
    unattributed_live = False  # e.g. a compaction replace: live data with no group meta
    if cat.exists("triples"):
        snaps = cat.snapshots("triples")
        live = set(snaps[-1]["data_dirs"]) if snaps else set()
        prev: set[str] = set()
        for snap in snaps:
            delta = [d for d in snap["data_dirs"] if d not in prev]
            prev = set(snap["data_dirs"])
            g = snap["meta"].get("group")
            if g is None:
                if delta and any(d in live for d in delta):
                    unattributed_live = True
                continue
            # a commit only proves (or taints) its group if its data is
            # still LIVE at the head: a pruned commit — e.g. config A's
            # rows removed during a config-B run — must not resurrect
            # 'done' status on an A -> B -> A switch-back (it would skip
            # the group and mix B's grouping into an A run)
            if not delta or not all(d in live for d in delta):
                continue
            if snap["meta"].get("fingerprint") == cfg.fingerprint():
                live_keys.add((int(g), snap["meta"].get("wave")))
                if snap["meta"].get("wave") == wave:
                    done.add(int(g))
            else:
                stale.add(int(g))
    # never prune a group that also has a current-config commit (any wave)
    stale -= done | {g for g, _w in live_keys}
    if stale and wave is not None:
        # an incremental wave under a CHANGED config would prune the other
        # config's committed groups and then process only this wave's delta
        # — silent data loss. Incremental runs must match the warehouse
        # config; re-group with a full run first.
        raise ValueError(
            f"incremental wave {wave!r} into a warehouse with live commits "
            f"from a different pipeline config (groups {sorted(stale)}); "
            "run a full (non-wave) pipeline to re-group first"
        )
    if stale:
        # keep the extracted prune here even though the staging sync below
        # usually subsumes it: when the sync is skipped (unattributed live
        # triples data, see below), this is the only pass that drops the
        # stale config's staging rows
        cat.prune_groups("triples", stale)
        cat.prune_groups("extracted", stale)

    # staging sync: drop every extracted delta whose (group, wave) unit has
    # no live authoritative triples commit — crash orphans from ANY wave
    # (including an interrupted bootstrap) — so the extracted table never
    # leads the triples table and the anti-join below can trust it as the
    # processed-page set. SKIPPED when the triples table carries live data
    # we cannot attribute to a (group, wave) — e.g. after Catalog.compact —
    # because then "no live commit for this key" proves nothing; compaction
    # is documented for COMPLETE tables, where orphans cannot exist.
    if not unattributed_live:
        cat.prune_if(
            "extracted",
            lambda meta: meta.get("group") is not None
            and (int(meta["group"]), meta.get("wave")) not in live_keys,
            reason={"sync": "extracted-to-triples"},
        )

    # pages already processed by a committed unit are excluded per group —
    # for EVERY run, not just waves: completion is wave-scoped, so a plain
    # run over a wave-bootstrapped warehouse (or any wave over a plain one)
    # must rely on the anti-join, never on the 'done' set, to avoid
    # re-appending pages another wave already committed. Resolved AT RUN
    # START (fixed snapshot): this run's own commits never feed back into
    # its anti-join side. Empty-manifest guard: an all-orphan prune can
    # leave a live snapshot with zero data dirs, which is "no data", not a
    # readable table.
    seen_urls = None
    if cat.exists("extracted") and cat.snapshots("extracted")[-1]["data_dirs"]:
        seen_urls = cat.read(spark, "extracted").select("url", "group_id")

    # size-dispatched linking: broadcast probe for dictionaries that fit an
    # executor, shuffle-join path beyond (VERDICT r1 'What's wrong #2' —
    # the dictionary is no longer unconditionally collected to the driver)
    t_setup = time.time()
    n_alias_rows = aliases.count()
    # one dispatch rule for every dictionary-sized side: the linker probe,
    # the linked-mention maps, and the canonical mapping all broadcast iff
    # the dictionary fits an executor
    use_broadcast_maps = n_alias_rows <= cfg.broadcast_dict_max
    alias_pdf = aliases.toPandas() if use_broadcast_maps else None
    linker, link_strategy = make_linker(
        spark,
        aliases,
        n_alias_rows=n_alias_rows,
        dim=cfg.dim,
        n_bits=cfg.n_bits,
        n_bands=cfg.n_bands,
        threshold=cfg.threshold,
        broadcast_dict_max=cfg.broadcast_dict_max,
        alias_pdf=alias_pdf,
    )
    mapping = _canonical_mapping(spark, aliases, cat, alias_pdf)
    _prof("setup linker+mapping", t_setup)

    stats: dict = {"groups": [], "resumed_from": sorted(done), "link_strategy": link_strategy}
    try:
        return _run_groups_and_finalize(
            spark, pages, linker, mapping, cat, manifest, cfg, done, stats,
            use_broadcast_maps, fail_after_groups, wave, seen_urls,
        )
    finally:
        # release the join-path linker's persisted dictionary frames so
        # repeated runs in one session don't accumulate dead cached tables
        getattr(linker, "cleanup", lambda: None)()


def run_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    aliases: DataFrame,
    out_root: str,
    cfg: PipelineConfig | None = None,
    wave: str = "delta",
    fail_after_groups: int | None = None,
) -> dict:
    """Incremental MERGE into an existing warehouse: process only pages not
    already committed (url anti-join per bucket-group), append their
    triples, rebuild the derived tables. Overlapping input is safe — a
    wave fed the full corpus after a bootstrap run re-processes exactly
    the unseen pages. Each wave is itself resumable (crash mid-wave →
    re-run the same wave id)."""
    return run_pipeline(
        spark, new_pages, aliases, out_root, cfg,
        fail_after_groups=fail_after_groups, wave=wave,
    )


def _run_groups_and_finalize(
    spark, pages, linker, mapping, cat, manifest, cfg, done, stats,
    use_broadcast_maps, fail_after_groups, wave=None, seen_urls=None,
) -> dict:
    pending = [g for g in range(cfg.n_groups) if g not in done]
    stopped = False
    # (mid-flight orphan deltas were already pruned by the staging sync in
    # run_pipeline — extracted never leads triples at this point)

    if fail_after_groups is not None:
        # deterministic crash point for the resume tests: sequential
        ran = 0
        for g in pending:
            gstats = _run_group(
                spark, pages, linker, mapping, g, cfg.n_groups, cat,
                cfg.fingerprint(), broadcast_maps=use_broadcast_maps,
                wave=wave, seen_urls=seen_urls,
            )
            manifest.mark_done(g, gstats)
            stats["groups"].append(gstats)
            ran += 1
            if ran >= fail_after_groups:
                raise InjectedFailure(f"injected failure after {ran} groups")
    elif pending:
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        from .monitor import stop_requested

        # groups are submitted INCREMENTALLY (not all upfront) so a
        # graceful-stop request (monitor POST /stop -> STOP sentinel) takes
        # effect between groups: in-flight groups finish and commit, queued
        # ones stay pending, and the next run resumes from the manifest —
        # the reference's start/stop control plane re-expressed over
        # spark-submit + durable checkpoints
        workers = max(1, min(cfg.max_concurrent_groups, len(pending)))
        queue = list(pending)
        inflight: dict = {}
        with ThreadPoolExecutor(max_workers=workers) as ex:
            while queue or inflight:
                while queue and len(inflight) < workers and not stopped:
                    if stop_requested(cat.root):
                        stopped = True
                        break
                    g = queue.pop(0)
                    fut = ex.submit(
                        _run_group, spark, pages, linker, mapping, g,
                        cfg.n_groups, cat, cfg.fingerprint(),
                        use_broadcast_maps, wave, seen_urls,
                    )
                    inflight[fut] = g
                if not inflight:
                    if stopped:
                        break
                    continue
                done_futs, _ = wait(set(inflight), return_when=FIRST_COMPLETED)
                for fut in done_futs:
                    inflight.pop(fut)
                    gstats = fut.result()  # re-raises group failures
                    manifest.mark_done(gstats["group"], gstats)
                    stats["groups"].append(gstats)

    if stopped:
        # committed groups are durable; finalize is deferred to the
        # resuming run so the derived tables never reflect a partial input
        stats["stopped_early"] = True
        stats["total_triples"] = None
        stats["canonical_triples"] = None
        return stats
    stats.update(finalize(spark, cat))
    return stats
