"""Structured Streaming front-end: continuous page ingestion.

Reference parity: vectrain's sources are continuous — a Kafka consumer
polling batches (/root/reference/internal/app/sources/kafka/
fetch_messages.go:45-84) and an HTTP push queue with backpressure
(/root/reference/internal/app/sources/http/client.go:99-111). The Spark
re-expression is a Structured Streaming file source over the pages
directory: new page files are discovered per micro-batch, flow through the
SAME extract -> link -> canonicalize operators inside ``foreachBatch``, and
commit through the same snapshot catalog. Streaming-specific concerns map
as:

* backpressure / batch sizing  -> ``maxFilesPerTrigger`` (the reference's
  ``source_batch_size``, config/kafka_config.yaml:6)
* offset tracking              -> Spark's checkpointLocation (replaces the
  reference's vestigial, never-committed offset map, fetch_messages.go:75-78)
* flush-on-shutdown            -> micro-batch atomicity + catalog commit
* start/stop REST control      -> query.start()/stop()/awaitTermination

A Kafka source would swap ``readStream.format("parquet")`` for
``format("kafka")`` + ``from_json`` — the rest of the graph is unchanged
(no kafka connector jar in this sandbox, so the file source is the tested
path and the kafka builder is provided but unexercised).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Catalog
from .operators.extract import extract_pages, extract_triples_df, split_quarantine
from .operators.linking import AliasIndex, link_mentions, mention_surfaces
from .pipeline import canonicalize_triples
from .session import release

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
    ]
)


def pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a growing directory of pages parquet."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def parse_pages_json(raw: DataFrame) -> DataFrame:
    """Kafka-message decode as a standalone transformation: a frame with a
    ``value`` column (binary or string JSON, html as base64 — the wire
    format ``to_json`` produces) -> typed pages rows. Mirrors the
    reference's JSON unmarshal into Entity (kafka/fetch_messages.go:33-35).

    Deliberately source-agnostic (works on a BATCH frame too): the Kafka
    connector jar is absent in this sandbox, so the parse step — the only
    logic between the connector and the pipeline — is parity-tested
    offline against the file-source rows (tests/test_streaming.py), and
    the jar remains the sole unexercised piece of the Kafka path."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), PAGES_SCHEMA).alias("p")
    )
    return parsed.select("p.url", "p.warc_ts", "p.html", "p.lang")


def kafka_reader_config(bootstrap: str, topic: str) -> dict:
    """The exact (format, options) the Kafka builder wires onto the
    reader — factored out so the wiring is assertable without a broker
    or connector jar (the seam test in tests/test_streaming.py). Mirrors
    the reference consumer's constructor config
    (/root/reference/internal/app/sources/kafka/client.go:49-92)."""
    return {
        "format": "kafka",
        "options": {
            "kafka.bootstrap.servers": bootstrap,
            "subscribe": topic,
        },
    }


def kafka_pages_stream(
    spark: SparkSession, bootstrap: str, topic: str, _reader=None
) -> DataFrame:
    """Kafka-source variant. ``_reader`` is the seam: tests inject a fake
    recording reader whose .load() returns a value-column frame, so every
    line of this builder executes under pytest — the spark-sql-kafka
    connector jar (absent in this sandbox) is the only unexercised
    piece; against a real cluster pass nothing and the session's
    readStream is used."""
    cfg = kafka_reader_config(bootstrap, topic)
    reader = spark.readStream if _reader is None else _reader
    reader = reader.format(cfg["format"])
    for k, v in cfg["options"].items():
        reader = reader.option(k, v)
    return parse_pages_json(reader.load())


def _committed_batches(cat: Catalog, table: str) -> set:
    """stream_batch ids already committed to ``table``."""
    if not cat.exists(table):
        return set()
    return {
        s["meta"].get("stream_batch")
        for s in cat.snapshots(table)
        if s["meta"].get("stream_batch") is not None
    }


def start_ingest(
    spark: SparkSession,
    pages_dir: str,
    out_root: str,
    index: AliasIndex,
    mapping: DataFrame,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    trigger_available_now: bool = True,
    _test_fail_between_commits: int | None = None,
):
    """Run the extract->link->canonicalize graph per micro-batch and commit
    each batch as a catalog snapshot (exactly-once per micro-batch: Spark's
    streaming checkpoint tracks the file offsets; the snapshot commits are
    idempotent on replay because batch_id is recorded PER TABLE in the
    manifest — a crash between the triples commit and the quarantine commit
    replays only the missing quarantine write, never losing rows and never
    double-appending triples).

    ``_test_fail_between_commits``: test-only hook — raise after the triples
    commit of that batch id, before the quarantine commit (simulates the
    worst-case crash point for the replay tests)."""
    cat = Catalog(out_root)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # per-table idempotent replay guards: each table skips only its OWN
        # already-committed batches
        tri_done = batch_id in _committed_batches(cat, "triples")
        q_done = batch_id in _committed_batches(cat, "quarantine")
        if tri_done and q_done:
            return
        ext = extract_pages(batch_df, triples=True)
        good, quarantine = split_quarantine(ext)
        tri = extract_triples_df(good)
        linked_m = link_mentions(spark, mention_surfaces(tri), index).persist()
        canon = canonicalize_triples(tri, linked_m, mapping).withColumn(
            "group_id", F.lit(int(batch_id))
        )
        try:
            if not tri_done:
                cat.write(
                    "triples", canon, mode="append", meta={"stream_batch": batch_id}
                )
            if _test_fail_between_commits == batch_id:
                raise RuntimeError(
                    f"injected crash between commits of batch {batch_id}"
                )
            if not q_done:
                cat.write(
                    "quarantine",
                    quarantine.withColumn("group_id", F.lit(int(batch_id))),
                    mode="append",
                    meta={"stream_batch": batch_id},
                )
        finally:
            release(linked_m)

    writer = (
        pages_stream(spark, pages_dir, max_files_per_trigger)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DEDUP_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def docs_stream(
    spark: SparkSession, docs_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a growing directory of document parquet.

    One file per crawl wave + ``maxFilesPerTrigger=1`` gives a
    deterministic wave-per-micro-batch mapping (Spark's file source
    admits files oldest-modification-first)."""
    return (
        spark.readStream.schema(DEDUP_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )


def start_dedup_ingest(
    spark: SparkSession,
    docs_dir: str,
    out_root: str,
    checkpoint_dir: str,
    threshold: float | None = None,
    max_files_per_trigger: int = 1,
    trigger_available_now: bool = True,
    _test_fail_between_commits: int | None = None,
):
    """Streaming-side incremental near-dup detection: each micro-batch
    (crawl wave) is deduped against the PERSISTED MinHash signature index
    in the catalog — the same O(new)-per-wave guarantee the batch path
    gets from :func:`~vectrain_spark.operators.dedup.
    incremental_minhash_pairs`, now at the push/stream front-end. Per
    batch: sign the wave ONCE, band-join it against the accumulated
    ``dedup_sigs`` index plus itself, verify candidates with exact
    Jaccard, append the pairs (tagged with the wave = batch id), then
    append the wave's shingle sets and signatures to the index tables.
    The old corpus is never re-shingled: per-wave cost is O(|wave| +
    matching-band index rows).

    Exactly-once per micro-batch, same discipline as :func:`start_ingest`:
    Spark's checkpoint tracks file offsets; catalog commits are
    idempotent on replay via per-table ``stream_batch`` guards. Commit
    ORDER is the correctness invariant — pairs BEFORE index: a crash
    after the index append would otherwise leave the replayed batch
    finding its own doc_ids already in the index (the globally-unique-id
    precondition) and the pair computation reading a poisoned old side.

    ``_test_fail_between_commits``: test-only hook — raise after that
    batch's pairs commit, before its index appends (the worst-case crash
    point: replay must complete the index without re-emitting pairs)."""
    from .operators.dedup import (
        JACCARD_THRESHOLD,
        incremental_minhash_pairs,
        minhash_signature_index,
    )

    thr = JACCARD_THRESHOLD if threshold is None else threshold
    cat = Catalog(out_root)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        done_pairs = batch_id in _committed_batches(cat, "dedup_pairs")
        done_h = batch_id in _committed_batches(cat, "dedup_hashed")
        done_s = batch_id in _committed_batches(cat, "dedup_sigs")
        if done_pairs and done_h and done_s:
            return
        new = batch_df.select("doc_id", "text")
        hn, sn = minhash_signature_index(new)
        hn, sn = hn.persist(), sn.persist()
        try:
            if not done_pairs:
                # the index cannot contain this batch yet: pairs commit
                # strictly precedes the index appends
                if cat.exists("dedup_sigs"):
                    ho = cat.read(spark, "dedup_hashed")
                    so = cat.read(spark, "dedup_sigs")
                else:
                    ho = spark.createDataFrame(
                        [], "doc_id long, hsh array<bigint>"
                    )
                    so = spark.createDataFrame(
                        [], "doc_id long, band int, sig long"
                    )
                pairs = incremental_minhash_pairs(
                    None,
                    None,
                    threshold=thr,
                    old_index=(ho, so),
                    new_index=(hn, sn),
                ).withColumn("wave", F.lit(batch_id).cast("int"))
                cat.write(
                    "dedup_pairs",
                    pairs,
                    mode="append",
                    meta={"stream_batch": batch_id},
                )
            if _test_fail_between_commits == batch_id:
                raise RuntimeError(
                    f"injected crash between commits of batch {batch_id}"
                )
            if not done_h:
                cat.write(
                    "dedup_hashed",
                    hn,
                    mode="append",
                    meta={"stream_batch": batch_id},
                )
            if not done_s:
                cat.write(
                    "dedup_sigs",
                    sn,
                    mode="append",
                    meta={"stream_batch": batch_id},
                )
        finally:
            release(hn, sn)

    writer = (
        docs_stream(spark, docs_dir, max_files_per_trigger)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Event-time analytics and stateful operators over the page stream
# ---------------------------------------------------------------------------


def windowed_page_rates(
    pages: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Event-time ingestion-rate metrics: per-(window, lang) page counts and
    html byte volume, tolerating late arrivals up to ``watermark`` on
    warc_ts (the WARC capture time IS the event time for web pages).

    The reference's monitoring is a process-level Prometheus counter
    (/root/reference/internal/infra/monitoring/prometheus.go:17-32) with no
    event-time notion; this is the Spark-native upgrade: windows close when
    the watermark passes, state is bounded by (watermark / window) * |lang|
    keys per executor, and late data beyond the watermark is dropped rather
    than growing state forever — the property that matters when the stream
    is 10^12 pages.

    Works identically on a batch frame (the watermark is a no-op there),
    which is what the batch SQL oracle checks.
    """
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.length("html")).alias("html_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "pages",
            "html_bytes",
        )
    )


def sliding_page_rates(
    pages: DataFrame,
    window: str = "2 minutes",
    slide: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Sliding-window ingestion rates: every page lands in window//slide
    overlapping windows (2 here), giving a smoothed rate curve instead of
    the tumbling histogram of :func:`windowed_page_rates`. State cost
    scales with the overlap factor — each key holds window/slide open
    windows until the watermark closes them — which is why the overlap is
    an explicit knob and not a default."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window, slide).alias("w"), "lang")
        .agg(F.count(F.lit(1)).alias("pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "pages")
    )


def sessionized_page_activity(
    pages: DataFrame, gap: str = "30 seconds", watermark: str = "10 seconds"
) -> DataFrame:
    """Session-window crawl-burst detection: merge pages of the same lang
    whose warc_ts fall within ``gap`` of each other into one session ->
    (session_start, session_end, lang, pages).

    The dynamic-gap cousin of :func:`windowed_page_rates` — fixed windows
    measure rate, sessions measure BURSTS (a crawler hitting one host, a
    news spike). State per key is one open session, closed and emitted when
    the watermark passes session_end + gap; late pages beyond the watermark
    are dropped rather than reopening closed sessions (bounded state at
    10^12-page scale).

    Session semantics (exactly reproducible in the batch SQL oracle): an
    event at t joins the current session iff t - last_event <= gap
    (Spark merges windows whose bounds TOUCH, verified empirically — an
    event exactly ``gap`` after the last one extends the session); a
    strictly larger gap between consecutive events (per lang, event-time
    order) starts a new session; session_end = last event + gap.
    """
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("s"), "lang")
        .agg(F.count(F.lit(1)).alias("pages"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "lang",
            "pages",
        )
    )


_FIRST_SEEN_STATE = "seen byte"


def _first_seen_fn(key, pdf_iter, state):
    """Emit only the first page ever seen for this url (across ALL
    micro-batches); afterwards the 1-byte state marks the url as seen."""
    if state.exists:
        return  # already emitted once; empty generator = no output rows
    first = None
    # group rows can span Arrow chunks — track the min-warc_ts row across
    # ALL chunks of this micro-batch so the survivor is deterministic
    # (earliest event time in the batch), not chunk-order-dependent
    for pdf in pdf_iter:
        if len(pdf):
            cand = pdf.sort_values("warc_ts").iloc[[0]]
            if first is None or (
                cand.iloc[0]["warc_ts"] < first.iloc[0]["warc_ts"]
            ):
                first = cand
    state.update((1,))
    if first is not None:
        yield first[["url", "warc_ts", "html", "lang"]]


def stream_dedup_first_seen(pages: DataFrame) -> DataFrame:
    """Streaming exact dedup: keep the FIRST occurrence of every url across
    the whole stream (custom stateful operator via applyInPandasWithState).

    State is one byte per distinct url, partitioned by Spark's state store
    on the grouping key — no driver-side set, no unbounded executor memory
    beyond the keyed store (production knobs: RocksDB state store + state
    TTL via timeoutConf when re-crawls should be re-admitted).

    This is the streaming face of operators/dedup.exact_dedup: the batch
    operator picks min(doc_id) per content hash after the fact; this one
    suppresses duplicates at ingestion time, before the expensive
    extract/link stages run on them.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return pages.groupBy("url").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=PAGES_SCHEMA,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_attribution_join(
    purchases: DataFrame,
    signups: DataFrame,
    max_delay: str = "7 days",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every purchase matched to every signup
    of the same user that happened at most ``max_delay`` before it — the
    two-live-streams face of operators/events.asof_join (which picks only
    the latest signup, batch-side).

    Equi-join on user_id plus an event-time range predicate; both
    sides carry watermarks derived from ``max_delay`` so Spark can evict
    matched state instead of buffering both streams forever (the
    production requirement for an unbounded run — with availableNow
    drains, the watermark only ever drops state after the final batch, so
    every cross-batch match is still emitted exactly once).

    ``how='left_outer'`` additionally emits unattributed purchases with
    NULL signup columns — but ONLY once the watermark passes a purchase's
    join window (that is the streaming-correctness contract: a row can't
    be declared unmatched while a matching signup could still arrive).
    Consequence for bounded drains: a caller that wants the tail of the
    stream flushed must push the watermark past it (e.g. a sentinel row
    beyond the data span) — see q_stream_join_outer.

    -> (event_id, user_id, ts, value, signup_event_id, signup_ts).
    """
    p = (
        purchases.withWatermark("ts", max_delay)
        .select("event_id", "user_id", "ts", "value")
    )
    s = (
        signups.withWatermark("ts", max_delay)
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("signup_ts"),
        )
    )
    return p.join(
        s,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("ts") >= F.col("signup_ts"))
        & (F.col("ts") <= F.col("signup_ts") + F.expr(f"interval {max_delay}")),
        how,
    ).select("event_id", "user_id", "ts", "value", "signup_event_id", "signup_ts")


def windowed_host_counts(
    pages: DataFrame,
    key_col: str = "host",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per-(window, key) page counts — the streaming half of windowed
    heavy-hitter detection (which crawl hosts dominate each minute).

    Top-k itself cannot run inside the stream (rank-over-window is not a
    streaming-supported operation in Structured Streaming), so the
    operator is split the way a production monitor would split it: the
    stream maintains the BOUNDED windowed count state (watermark closes
    windows; state is (watermark/window) * |hosts| keys), and
    :func:`topk_per_window` ranks the closed windows as a batch view.
    The expensive, unbounded part — counting 10^12 pages — stays
    incremental; the rank runs over the tiny (window, host) aggregate.
    """
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("pages"))
        .select(F.col("w.start").alias("window_start"), key_col, "pages")
    )


def topk_per_window(
    counts: DataFrame, k: int = 5, key_col: str = "host"
) -> DataFrame:
    """Heavy hitters per closed window: rank (window, key) counts and keep
    the top ``k`` keys of each window, deterministic tie-break on key.

    The rank window is PARTITIONED by window_start — each window ranks
    independently on its own reducer, so the operation scales with the
    number of windows, never with the page count; no partition-less
    WindowExec appears in the plan (asserted in tests/test_plans.py
    conventions)."""
    from pyspark.sql.window import Window as W

    rank = F.row_number().over(
        W.partitionBy("window_start").orderBy(
            F.col("pages").desc(), F.col(key_col).asc()
        )
    )
    return (
        counts.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .select("window_start", "rank", key_col, "pages")
    )
