"""Derive a deterministic Common-Crawl-style `pages` corpus and an alias
dictionary from the driver-provided `documents` table.

Purpose: the driver's correctness gate compares each Spark query against
ANSI SQL run by DuckDB over the SAME parquet tables — so the KG pipeline's
inputs must be derivable from those tables by pure SQL-expressible
transforms. This module builds them with DataFrame ops (html assembly is a
tiny pandas UDF whose output is fixed-template string concat, so the SQL
oracle can reconstruct the expected EXTRACTED text without parsing html).

Construction (all arithmetic on doc_id, reproducible in SQL):
  url        = 'https://docs.example/' || doc_id
  relation   = 'Vendor'||(doc_id%7)  <phrase[doc_id%8]>  'Client'||(doc_id%13)
  page text  = relation sentence \n document text (the word salad)
  html       = boilerplate wrapper around the two paragraphs
  corrupt    = doc_id%97==3 pages get undecodable bytes (quarantine path)

Alias dictionary (entity ids, again SQL-derivable):
  v          in 0..6    -> 'Vendor'||v
  100+c      for c 0..12 -> 'Client'||c
  300+k      for k 0..2  -> 'Vendor'||k   (shared surface: CC must merge)
  400..402   chain via 'BridgeX'/'BridgeY' hanging off Vendor1 (depth-3 CC)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import _page_html
from ..session import checkpoint_result, fresh_checkpoint
from ..textops import PREDICATE_PHRASES

# phrase order is the PREDICATE_PHRASES declaration order (8 entries)
PHRASES = [s for s, _ in PREDICATE_PHRASES]
PREDS = [p for _, p in PREDICATE_PHRASES]

_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, lang string"


def _assemble_html_factory(junk_blocks: int = 0):
    # raw Arrow batches (round-6, guide §4.2): url/warc_ts/lang pass
    # through as the input arrays, zero-copy — only doc_id/para text
    # cross into Python and only the html bytes come back
    def _assemble_html(batches):
        import pyarrow as pa

        for rb in batches:
            idx = {n: i for i, n in enumerate(rb.schema.names)}
            htmls: list[bytes] = []
            for doc_id, para1, para2 in zip(
                rb.column(idx["doc_id"]).to_pylist(),
                rb.column(idx["para1"]).to_pylist(),
                rb.column(idx["para2"]).to_pylist(),
            ):
                if int(doc_id) % 97 == 3:
                    htmls.append(b"\xff\xfe corrupt page bytes")
                else:
                    htmls.append(
                        _page_html(
                            f"doc {doc_id}",
                            "docs.example",
                            [para1, para2],
                            int(doc_id),
                            junk_blocks=junk_blocks,
                        )
                    )
            yield pa.record_batch(
                [
                    rb.column(idx["url"]),
                    rb.column(idx["warc_ts"]),
                    pa.array(htmls, pa.binary()),
                    rb.column(idx["lang"]),
                ],
                names=["url", "warc_ts", "html", "lang"],
            )

    return _assemble_html


_assemble_html = _assemble_html_factory(0)


def pages_from_documents(
    docs: DataFrame, warc_ts: str = "2024-01-01 00:00:00", junk_blocks: int = 0
) -> DataFrame:
    """documents -> pages(url, warc_ts, html, lang), input_hint shape.

    ``warc_ts`` stamps the crawl snapshot — pass a later timestamp to
    derive a re-crawl of the same urls (see :func:`second_crawl_documents`
    / :func:`crawl_drift`). ``junk_blocks`` wraps each page in that many
    deterministic boilerplate blocks (fixtures._junk_block — nav link
    trees, promo asides, scripts), still fully SQL-reconstructible from
    doc_id."""
    phrase_arr = F.array(*[F.lit(s) for s in PHRASES])
    base = docs.select(
        "doc_id",
        F.concat(F.lit("https://docs.example/"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit(warc_ts)).alias("warc_ts"),
        F.concat(
            F.lit("Vendor"),
            F.col("doc_id") % 7,
            F.lit(" "),
            F.element_at(phrase_arr, (F.col("doc_id") % 8 + 1).cast("int")),
            F.lit(" Client"),
            F.col("doc_id") % 13,
            F.lit("."),
        ).alias("para1"),
        F.col("text").alias("para2"),
        "lang",
    )
    return base.mapInArrow(
        _assemble_html_factory(junk_blocks), schema=_PAGES_SCHEMA
    )


def expected_page_text(docs: DataFrame) -> DataFrame:
    """SQL-reconstructible expected extraction output (good pages only)."""
    phrase_arr = F.array(*[F.lit(s) for s in PHRASES])
    return docs.filter(F.col("doc_id") % 97 != 3).select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id")).alias("url"),
        F.concat(
            F.lit("Vendor"),
            F.col("doc_id") % 7,
            F.lit(" "),
            F.element_at(phrase_arr, (F.col("doc_id") % 8 + 1).cast("int")),
            F.lit(" Client"),
            F.col("doc_id") % 13,
            F.lit(".\n"),
            F.col("text"),
        ).alias("text"),
    )


SECOND_CRAWL_TS = "2024-03-01 00:00:00"
REVISION_SUFFIX = " updated revision r2"


def second_crawl_documents(docs: DataFrame) -> DataFrame:
    """Deterministic re-crawl of the derived corpus two months later:
    every 11th url has dropped off the web (doc_id % 11 == 0), every 4th
    page's body text was revised (doc_id % 4 == 0 gains a trailing
    sentence); everything else is byte-identical. All arithmetic on
    doc_id, so the SQL oracle reconstructs the same snapshot."""
    return docs.filter(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(REVISION_SUFFIX)),
        ).otherwise(F.col("text")),
    )


THIRD_CRAWL_TS = "2024-05-01 00:00:00"


def third_crawl_documents(docs: DataFrame) -> DataFrame:
    """Deterministic third crawl snapshot two months after the second:
    the doc_id % 11 == 0 urls that dropped out of crawl 2 are BACK on the
    web (recovered hosts), while a different slice (doc_id % 11 == 5) has
    now disappeared — so per-url fact presence across the three crawls
    forms gaps AND islands ([1,0,1] and [1,1,0] patterns), the shapes
    SCD2 interval derivation must get right. Same doc_id arithmetic as
    :func:`second_crawl_documents`, so the SQL oracle reconstructs it."""
    return docs.filter(F.col("doc_id") % 11 != 5)


def crawl_drift(good_pages: DataFrame) -> DataFrame:
    """Extracted pages across crawl snapshots (url, warc_ts, text) ->
    per-url change status: (url, n_crawls, status) with status in
    {'added', 'removed', 'changed', 'unchanged'}.

    removed   = url absent from the newest snapshot
    added     = url present only in the newest snapshot
    changed   = first and last extracted text differ
    unchanged = byte-identical across snapshots

    Scale design: one groupBy(url) with algebraic aggregates only
    (count / max / min_by / max_by — all partial-aggregatable, so per-url
    crawl history collapses map-side); the newest-snapshot timestamp is a
    1-row aggregate broadcast onto the result. No window over the full
    corpus, no text shuffle beyond first/last per url.
    """
    latest = good_pages.agg(F.max("warc_ts").alias("_global_last"))
    per_url = good_pages.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_crawls"),
        F.max("warc_ts").alias("_last_ts"),
        F.expr("min_by(text, warc_ts)").alias("_first_text"),
        F.expr("max_by(text, warc_ts)").alias("_last_text"),
    )
    return (
        per_url.crossJoin(F.broadcast(latest))
        .select(
            "url",
            "n_crawls",
            F.when(F.col("_last_ts") < F.col("_global_last"), F.lit("removed"))
            .when(F.col("n_crawls") == 1, F.lit("added"))
            .when(F.col("_first_text") != F.col("_last_text"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
    )


def corpus_aliases(spark: SparkSession) -> DataFrame:
    """Deterministic alias dictionary (entity_id, alias) for the derived
    corpus — same content as the SQL-oracle construction."""
    rows = [(v, f"Vendor{v}") for v in range(7)]
    rows += [(100 + c, f"Client{c}") for c in range(13)]
    rows += [(300 + k, f"Vendor{k}") for k in range(3)]
    rows += [
        (400, "Vendor1"),
        (400, "BridgeX"),
        (401, "BridgeX"),
        (401, "BridgeY"),
        (402, "BridgeY"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["entity_id", "alias"]).astype(
            {"entity_id": "int64"}
        )
    )


def corpus_aliases_sql() -> str:
    """The same dictionary as an ANSI-SQL CTE body (DuckDB oracle side)."""
    return """
      SELECT v::BIGINT AS entity_id, 'Vendor' || v AS alias FROM generate_series(0, 6) t(v)
      UNION ALL
      SELECT (100 + c)::BIGINT, 'Client' || c FROM generate_series(0, 12) t(c)
      UNION ALL
      SELECT (300 + k)::BIGINT, 'Vendor' || k FROM generate_series(0, 2) t(k)
      UNION ALL
      SELECT entity_id::BIGINT, alias
      FROM (VALUES (400, 'Vendor1'), (400, 'BridgeX'), (401, 'BridgeX'),
                   (401, 'BridgeY'), (402, 'BridgeY')) v(entity_id, alias)
    """


def link_graph(pages: DataFrame) -> DataFrame:
    """Hyperlink extraction + in-link aggregation over raw page bytes ->
    (href, n_refs, n_pages): the crawl-frontier / in-degree table a web
    corpus pipeline derives before scheduling the next wave.

    All JVM: utf-8 decode (invalid bytes become U+FFFD and simply match no
    links — the quarantine pages contribute nothing, same as the SQL
    oracle's corrupt-page filter), `regexp_extract_all` for the href
    attributes, one explode, one aggregate with map-side combine. No
    Python in the path; at 100 TB this fuses with the scan and shuffles
    only (href, partial-count) pairs.
    """
    hrefs = pages.select(
        F.col("url").alias("src"),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit('href="([^"]+)"'), 1
            )
        ).alias("href"),
    )
    return hrefs.groupBy("href").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.count_distinct("src").alias("n_pages"),
    )


def crawl_frontier(pages: DataFrame, per_shard_cap: int = 50) -> DataFrame:
    """Next-wave crawl frontier -> (shard, rank, url, n_refs, n_pages):
    extracted out-links that are NOT already fetched, resolved to
    absolute urls, ranked by in-link count inside each politeness shard
    (host + first path segment — the key large-host frontiers shard
    their queues by), capped at ``per_shard_cap`` per shard. The
    scheduling table a Common-Crawl-style wave derives from the previous
    wave's pages.

    Scale shape: link extraction is the same fused JVM scan as
    :func:`link_graph`; "already crawled" is ONE left_anti hash join of
    the candidate set against the fetched url set (the only
    corpus-sized shuffle); the rank window is partitioned per shard, so
    no global sort exists anywhere — frontier cost scales with the
    candidate count per shard, never the crawl."""
    from pyspark.sql.window import Window as W

    hrefs = pages.select(
        F.col("url").alias("src"),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit('href="([^"]+)"'), 1
            )
        ).alias("href"),
    )
    # relative hrefs absolutize against the SOURCE page's scheme+host
    # (never a fixed literal): pages from any host resolve correctly
    base = F.regexp_extract(F.col("src"), r"^(\w+://[^/]+)", 1)
    cand = (
        hrefs.select(
            F.when(
                F.col("href").startswith("/"),
                F.concat(base, F.col("href")),
            )
            .otherwise(F.col("href"))
            .alias("url"),
            "src",
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.count_distinct("src").alias("n_pages"),
        )
        .join(pages.select("url"), "url", "left_anti")
    )
    shard = F.concat_ws(
        "/",
        F.parse_url("url", F.lit("HOST")),
        F.split(F.parse_url("url", F.lit("PATH")), "/").getItem(1),
    )
    rank = F.row_number().over(
        W.partitionBy("shard").orderBy(
            F.col("n_refs").desc(), F.col("url").asc()
        )
    )
    return (
        cand.withColumn("shard", shard)
        .withColumn("rank", rank)
        .filter(F.col("rank") <= per_shard_cap)
        .select("shard", "rank", "url", "n_refs", "n_pages")
    )


def anchor_aliases(pages: DataFrame, per_anchor_cap: int = 100) -> DataFrame:
    """Anchor-text alias dictionary from raw page bytes ->
    (anchor, url, n_links, n_pages, commonness, rank).

    The Wikipedia-anchor construction every large-scale entity linker
    bootstraps from (TagMe, WAT, DBpedia Spotlight): each hyperlink's
    visible text is a SURFACE FORM for its target, and the link-count
    distribution over targets gives the commonness prior
    P(target | anchor) that seeds candidate generation. This is the
    web-corpus complement of the curated alias table the linking stage
    broadcasts (the reference has only the curated path — its embed
    stage never mines the corpus itself; cf.
    /root/reference/internal/app/embedders/ollama/embed_message.go).

    Scale shape (100 TB): anchor extraction fuses with the page scan
    (JVM regexp over the decoded bytes — same fused shape as
    :func:`link_graph`, no Python); the dictionary aggregation shuffles
    only (anchor, url, partial-count) pairs; the commonness window
    partitions per anchor, whose candidate count is bounded by surface
    polysemy (and hard-capped at ``per_anchor_cap`` by in-window rank,
    so a pathological anchor like "click here" cannot build an
    unbounded partition into the output). Corrupt pages decode to
    U+FFFD and match no anchors — quarantine costs nothing here.
    """
    from pyspark.sql.window import Window as W

    pat = '<a href="([^"]+)">([^<]+)</a>'
    raw = pages.select(
        F.col("url").alias("src"),
        F.explode(
            F.arrays_zip(
                F.regexp_extract_all(
                    F.col("html").cast("string"), F.lit(pat), 1
                ).alias("href"),
                F.regexp_extract_all(
                    F.col("html").cast("string"), F.lit(pat), 2
                ).alias("anchor"),
            )
        ).alias("l"),
    ).select(
        "src", F.col("l.href").alias("href"), F.col("l.anchor").alias("anchor")
    )
    base = F.regexp_extract(F.col("src"), r"^(\w+://[^/]+)", 1)
    target = F.when(
        F.col("href").startswith("/"), F.concat(base, F.col("href"))
    ).otherwise(F.col("href"))
    agg = (
        raw.select("src", "anchor", target.alias("url"))
        .groupBy("anchor", "url")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.count_distinct("src").alias("n_pages"),
        )
    )
    total = W.partitionBy("anchor")
    rank = W.partitionBy("anchor").orderBy(
        F.col("n_links").desc(), F.col("url").asc()
    )
    return (
        agg.select(
            "anchor",
            "url",
            "n_links",
            "n_pages",
            F.round(
                F.col("n_links").cast("double") / F.sum("n_links").over(total),
                6,
            ).alias("commonness"),
            F.row_number().over(rank).alias("rank"),
        )
        .filter(F.col("rank") <= per_anchor_cap)
    )


def redirect_edges(docs: DataFrame) -> DataFrame:
    """Deterministic redirect table derived from the documents corpus:
    every url whose doc_id is NOT a multiple of 5 redirects to the
    previous doc_id's url — chains of length 1..4 all terminating at a
    multiple of 5 (monotone-decreasing targets, so the graph is provably
    acyclic). Pure doc_id arithmetic, SQL-reconstructible."""
    return docs.filter(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("https://docs.example/"), F.col("doc_id")).alias("src"),
        F.concat(F.lit("https://docs.example/"), F.col("doc_id") - 1).alias(
            "dst"
        ),
    )


def resolve_redirects(redirects: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Redirect-chain resolution -> (src, final_url, hops, resolved):
    follow every (src, dst) HTTP-redirect edge to its terminal url — the
    canonical-url step every crawl dedup runs before content hashing
    (two urls whose chains meet are the same page).

    Plan shape — POINTER DOUBLING, not per-hop walking: each round joins
    the mapping against ITSELF (dst -> src), so every pointer skips
    2^round hops per round and a maximum chain of length L resolves in
    ceil(log2 L) rounds — 5 self-joins for L = 32 where the naive
    frontier walk needs 32. At 10^12 redirect rows each round is one
    hash-partitioned equi-join on the url key plus a semi-join fixpoint
    probe; a per-round checkpoint keeps the iterated plan flat. Cycles (which
    violate HTTP but occur in the wild) can never terminate a follow:
    rows still pending after ``max_rounds`` doubling rounds (chains
    beyond 2^max_rounds are physically impossible) come back with
    ``resolved = false`` instead of looping — the crawler quarantines
    them like any other protocol violation."""
    f = fresh_checkpoint(
        redirects.select("src", "dst", F.lit(1).cast("long").alias("hops"))
    )
    for _ in range(max_rounds):
        pending = f.join(
            f.select(F.col("src").alias("dst")).distinct(), "dst", "left_semi"
        )
        if not pending.take(1):
            break
        step = f.select(
            F.col("src").alias("_ssrc"),
            F.col("dst").alias("_sdst"),
            F.col("hops").alias("_shops"),
        )
        f = checkpoint_result(
            f.join(step, f["dst"] == step["_ssrc"], "left").select(
                "src",
                F.coalesce("_sdst", "dst").alias("dst"),
                (F.col("hops") + F.coalesce("_shops", F.lit(0))).alias("hops"),
            ),
            f,
        )
    srcs = redirects.select("src").distinct()
    out = (
        f.join(
            srcs.select(F.col("src").alias("dst"), F.lit(False).alias("_open")),
            "dst",
            "left",
        )
        .select(
            "src",
            F.col("dst").alias("final_url"),
            F.col("hops").cast("int").alias("hops"),
            F.coalesce("_open", F.lit(True)).alias("resolved"),
        )
    )
    return checkpoint_result(out, f)


def robots_filter(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Crawl-permission filtering -> the subset of ``frontier`` (url)
    rows a polite crawler may fetch, given parsed robots.txt ``rules``
    (host, prefix): a url is blocked when ANY rule for its host is a
    path prefix (robots longest-match reduces to any-match for pure
    Disallow rule sets, which is what this models).

    Scale shape: rules are bounded by the host count (a crawl's robots
    corpus is ~10^7 tiny rows vs 10^12 candidate urls), so the rule
    table BROADCASTS and the frontier streams through one broadcast
    left_anti semi-join — the frontier itself never shuffles. Host and
    path come from parse_url (JVM), the prefix test is startswith; no
    regex per rule, no Python.
    """
    cand = frontier.select(
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("/")).alias("path"),
    )
    blocked = (
        cand.join(F.broadcast(rules), "host")
        .filter(F.col("path").startswith(F.col("prefix")))
        .select("url")
        .distinct()
    )
    return (
        cand.join(blocked, "url", "left_anti")
        .select("url", "host", "path")
    )
