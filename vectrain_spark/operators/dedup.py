"""Document deduplication operators: exact, MinHash+LSH, n-gram Jaccard
(prefix-filtered exact set-similarity join), SimHash.

First-class training-data-pipeline components (driver mandate): each has a
`queries()` entry over the driver `documents` table and an ANSI-SQL oracle.
All similarity math that must match the DuckDB oracle bit-for-bit is
JVM-side integer/double arithmetic (md5 -> hex -> bigint, exact Jaccard on
distinct shingle counts); Python appears only in the MinHash signature UDF,
whose output never needs SQL parity (candidates are re-verified by exact
Jaccard before emission).

Scale notes (100 TB design):
* shingling/signatures are narrow per-doc work — fused into the scan stage;
* the only shuffles are (band, sig) self-join bucket formation and the
  candidate-pair verification join, both on keys whose cardinality grows
  with corpus size (no global collect anywhere);
* banded LSH bounds candidate pairs ~linearly in corpus size vs the O(n^2)
  brute force the oracle runs at test scale;
* SimHash banding is pigeonhole-EXACT for hamming<=3 over 4x15-bit chunks —
  recall 1.0 by construction, so Spark and oracle agree deterministically.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint_result
from .sketch import _hash60

N_MINHASH = 128
N_MINHASH_BANDS = 32  # r = 4 rows/band: P(miss | J=0.8) = (1-0.8^4)^32 ~ 5e-8
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits signed 64-bit in Spark & DuckDB
SIMHASH_CHUNKS = 4  # pigeonhole: hamming<=3 guarantees >=1 equal 15-bit chunk
MAX_HAMMING = 3

_MERSENNE = (1 << 61) - 1


def dedup_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic dup-bearing corpus derived from `documents` (which is
    dup-free): every doc gets an exact copy (+1e6 id), every 5th doc a
    near-dup with four appended words (+2e6 id). The SQL oracle constructs
    the identical corpus (see driver_queries.DEDUP_CORPUS_SQL)."""
    base = docs.select("doc_id", "text")
    exact = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    near = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing tokens appended")).alias("text"),
    )
    return base.unionAll(exact).unionAll(near)


def normalized_text(col: str = "text"):
    """Shared normalization: lower + whitespace collapse + trim."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the session's parallelism when it arrives
    in fewer partitions (small driver tables land in 1-3 parquet files —
    without this, per-doc shingling/hashing runs on 3 of 32 cores). A
    no-op at scale: real corpora already have >= parallelism partitions,
    so no shuffle is added on the 100 TB path."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) -> (text_hash, keep_id, dup_cnt).

    Content-hash groupBy with min-id survivor — the dedup analog of the
    deterministic-id fix over the reference's random-UUID sink
    (/root/reference/internal/app/storages/qdrant/store.go:32).
    """
    return (
        corpus.select(
            F.md5(normalized_text().cast("binary")).alias("text_hash"),
            F.col("doc_id"),
        )
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def shingles_col(col: str = "text", n: int = 3, distinct: bool = True):
    """Word n-gram shingles (distinct by default; ``distinct=False`` keeps
    every occurrence, for frequency-based metrics like repetition ratios),
    computed with JVM higher-order functions (whole-stage codegen; no
    Python).

    Construction is O(total words): n-1 zips of shifted copies of the word
    array (shingle i = words[i] + ' ' + ... + words[i+n-1]), then the tail
    of partial shingles is sliced off. The naive per-position
    ``F.slice(words, i+1, n)`` is O(words) per position — O(words^2) per
    document, which dominated the whole minhash/fingerprint pipeline on
    long docs.

    Documents shorter than n words yield an EMPTY array (matching the SQL
    oracle's ``WHERE len(words) >= n`` guard) — an unguarded
    ``F.sequence(0, size-n)`` would produce a descending sequence and crash
    the whole job with INVALID_PARAMETER_VALUE.START on any short doc."""
    words = F.split(normalized_text(col), " ")
    acc = words
    for k in range(1, n):
        # zip_with pads the shorter side with null; concat_ws skips nulls,
        # so tail entries become partial shingles — removed by the slice
        acc = F.zip_with(
            acc,
            F.slice(words, k + 1, F.size(words)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    full = F.slice(acc, 1, F.size(words) - n + 1)
    if distinct:
        full = F.array_distinct(full)
    return F.when(F.size(words) >= n, full).otherwise(
        F.array().cast("array<string>")
    )


def _minhash_udf_factory(n_hashes: int, n_bands: int, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    r = n_hashes // n_bands

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc: list[int] = []
            out_band: list[int] = []
            out_sig: list[int] = []
            for doc_id, sh in zip(pdf["doc_id"], pdf["hsh"]):
                # shingles arrive already hashed to int64 JVM-side
                # (xxhash64): the UDF is pure numpy matrix work, no
                # per-shingle Python hashing/encoding
                hs = np.asarray(sh, dtype=np.int64)
                # universal hashing family over the Mersenne prime
                # (int64 wrap-around is deterministic; banding only needs
                # determinism + spread, candidates are exactly verified)
                m = ((a[:, None] * hs[None, :] + b[:, None]) % _MERSENNE).min(axis=1)
                # fold r consecutive minhashes into one band signature
                folded = m.reshape(n_bands, r)
                band_sig = folded[:, 0]
                for j in range(1, r):
                    band_sig = (band_sig * 1000003 + folded[:, j]) % _MERSENNE
                out_doc.extend([doc_id] * n_bands)
                out_band.extend(range(n_bands))
                out_sig.extend(band_sig.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "band": pd.Series(out_band, dtype="int32"),
                    "sig": pd.Series(out_sig, dtype="int64"),
                }
            )

    return _sig


def minhash_pairs(
    corpus: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_MINHASH_BANDS,
) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard) with exact-Jaccard verification.

    shingle (JVM) -> minhash signature (Arrow UDF) -> band self-join ->
    exact Jaccard filter. Emitted jaccard is exact (integer set sizes), so
    the result equals the brute-force O(n^2) oracle up to MinHash recall
    (~1 - 5e-8 at J >= threshold).
    """
    hashed, sigs = minhash_signature_index(corpus, n_hashes, n_bands)
    # materialize the shared frames once: the band self-join references
    # the signature frame twice and the verify join references the
    # shingle cache twice more — left lazy, concurrent stages race to
    # fill the cache and re-run the shingle scan / signature UDF per
    # consumer (round-6)
    hashed = hashed.persist()
    hashed.count()
    sigs = sigs.persist()
    sigs.count()
    left = sigs.alias("l")
    right = sigs.alias("r")
    cand = (
        left.join(right, on=["band", "sig"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    return checkpoint_result(
        _verify_jaccard(cand, hashed, hashed, threshold), hashed, sigs
    )


def _hashed_shingles(corpus: DataFrame) -> DataFrame:
    """(doc_id, hsh): distinct shingle sets hashed to int64 ONCE, JVM-side
    (xxhash64, inside the scan stage): the persisted working set, the
    signature UDF input, and the verification join all carry compact int64
    sets instead of string arrays (~20x smaller shuffle/cache; distinct-set
    semantics preserved, collision odds ~n^2/2^64). Exact Jaccard on the
    hash sets equals Jaccard on the strings, so the SQL oracles match.
    Lazy: the caller owns the cache lifecycle."""
    return (
        spread(corpus)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles_col(), lambda s: F.xxhash64(s))
            ).alias("hsh"),
        )
        .filter(F.size("hsh") > 0)
    )


def minhash_signature_index(
    corpus: DataFrame,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_MINHASH_BANDS,
) -> tuple[DataFrame, DataFrame]:
    """The persisted-once, append-forever side of incremental dedup:
    ``(hashed, sigs)`` where hashed = (doc_id, hsh int64 shingle set) and
    sigs = (doc_id, band, sig) MinHash band signatures. A production run
    materializes both to the catalog once per corpus and APPENDS each
    accepted wave's rows (signatures are per-doc, so the index is trivially
    incremental); per-wave dedup then passes them to
    :func:`incremental_minhash_pairs` so the old corpus is never
    re-shingled. The caller owns the lifecycle (persist/unpersist or
    catalog write) — nothing here caches behind the caller's back."""
    hashed = _hashed_shingles(corpus)
    sigs = hashed.mapInPandas(
        _minhash_udf_factory(n_hashes, n_bands),
        schema="doc_id long, band int, sig long",
    )
    return hashed, sigs


def _verify_jaccard(
    cand: DataFrame, left: DataFrame, right: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (a, b) candidates against the hashed
    shingle sets of each side — shared by the batch and incremental paths
    so their rounding/threshold semantics can never drift."""
    sa = left.select(F.col("doc_id").alias("a"), F.col("hsh").alias("sha"))
    sb = right.select(F.col("doc_id").alias("b"), F.col("hsh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    na = F.size("sha").cast("double")
    nb = F.size("shb").cast("double")
    jac = inter / (na + nb - inter)
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_minhash_pairs(
    old: DataFrame,
    new: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n_hashes: int = N_MINHASH,
    n_bands: int = N_MINHASH_BANDS,
    old_index: tuple[DataFrame, DataFrame] | None = None,
    new_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Wave-incremental near-dup detection: (a, b, jaccard) where ``a`` is
    a NEW doc and ``b`` is its match in the existing corpus or the same
    wave (new-new pairs emitted once, keeping the earlier doc as ``b``).

    THE 100 TB dedup scenario is incremental — each crawl wave must be
    deduped against petabytes of already-accepted corpus without
    re-banding it. Band join cost is O(|new| + matching-band index rows),
    never O(|old|^2).

    ``old_index``: the ``(hashed, sigs)`` pair from
    :func:`minhash_signature_index` — THE production path: build the old
    side once (persist or write to the catalog), append each accepted
    wave, and pass it here so every wave reuses it without re-shingling
    petabytes. When omitted, the old side is derived from ``old`` inline
    for self-containment: that recomputes the old corpus's shingles per
    reference to the result (the price of statelessness) and is the
    small-corpus / test path. NOTHING is persisted internally either way —
    a function that returns a lazy DataFrame cannot unpersist its own
    caches, so cache lifecycle stays with the caller (ADVICE r2 fix: the
    old behavior leaked one persisted working set per wave, per side).

    ``new_index``: the wave's own ``(hashed, sigs)`` pair, when the caller
    has already signed it (the streaming ingest signs each micro-batch
    once, appends it to the catalog index, and passes it here — signing
    twice would double the wave's Arrow work per batch).

    Precondition: doc_ids are globally unique across waves (they key both
    the pair output and the verification join) — enforced with a cheap
    id-only semi-join check.
    """
    if old_index is not None:
        ho, old_sigs = old_index
    else:
        ho, old_sigs = minhash_signature_index(old, n_hashes, n_bands)
    if new_index is not None:
        hn, sigs_new = new_index
    else:
        hn, sigs_new = minhash_signature_index(new, n_hashes, n_bands)
    if hn.join(ho, "doc_id", "left_semi").limit(1).count():
        raise ValueError(
            "incremental_minhash_pairs: new wave reuses doc_ids already in "
            "the old corpus — ids must be globally unique across waves"
        )
    index = (
        old_sigs.withColumn("is_new", F.lit(False))
        .unionByName(sigs_new.withColumn("is_new", F.lit(True)))
    )
    cand = (
        sigs_new.alias("l")
        .join(index.alias("r"), on=["band", "sig"])
        .filter(
            (F.col("l.doc_id") != F.col("r.doc_id"))
            & (~F.col("r.is_new") | (F.col("l.doc_id") > F.col("r.doc_id")))
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    return _verify_jaccard(cand, hn, ho.unionByName(hn), threshold)


def _rare_first_hash_sets(corpus: DataFrame, n: int) -> DataFrame:
    """(doc_id, hsh): each doc's distinct n-gram shingles hashed to int64
    (xxhash64) and sorted by ascending document frequency, ties by hash —
    the global rarest-first token order of the prefix filters below. One
    explode + groupBy for the frequency table, one re-group per doc, all
    on int64 tokens. Lazy: the caller persists it."""
    distinct_hashes = spread(corpus).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(shingles_col(n=n), lambda s: F.xxhash64(s))
            )
        ).alias("tok"),
    )
    tok_df = distinct_hashes.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        distinct_hashes.join(tok_df, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("hsh")
        )
        .filter(F.size("hsh") > 0)
    )


def ngram_jaccard_pairs(
    corpus: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n: int = 3,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (a, b, jaccard) via prefix
    filtering (the All-Pairs / PPJoin family of exact set-similarity
    joins) — no sketching, result identical to the O(n^2) oracle.

    Each doc's distinct shingle set is hashed to int64 JVM-side (xxhash64)
    and sorted ascending, fixing a global total order. Prefix-filter
    theorem: two sets with Jaccard >= t must have overlap
    alpha >= ceil(t * max(|A|,|B|)), and any two sets with overlap >= alpha
    share an element among their first |x| - alpha + 1 elements. We index
    the (longer, hence safe) universal prefix |x| - ceil(t*|x|) + 1, join
    on exploded prefix tokens, apply the length filter
    min >= ceil(t * max), then verify exact Jaccard on the full hash sets.

    The global token order is ASCENDING DOCUMENT FREQUENCY (ties by hash)
    — the canonical PPJoin ordering: prefixes then hold each doc's RAREST
    tokens, so the candidate fan-out per join key is the square of a
    rare token's doc count instead of a common one's. Any global total
    order preserves exactness (the prefix-filter theorem is
    order-agnostic), so the result set is identical; only the candidate
    count changes. The frequency table costs one extra
    explode + groupBy + re-group shuffle, all on int64 tokens.

    Scale shape: shuffle volume is O(sum of prefix lengths) — at t=0.8 a
    prefix is ~20% of each doc's shingles — plus the candidate verify
    join; no all-pairs, no collect. The rare-first ordering bounds
    per-token fan-out by construction; AQE skew join handles residual
    hot tokens.

    ceil() runs on float t*|S|: a binary-rounding overshoot (0.8*15 ->
    12.000...002) would SHORTEN the prefix and break exactness, so an
    epsilon is subtracted — errs only toward longer prefixes / looser
    candidate filters, never toward misses.
    """
    t = float(threshold)
    hashed = _rare_first_hash_sets(corpus, n).persist()
    # materialize once: prefix explode (twice) + verify (twice) otherwise
    # race the lazy cache and re-run the shingle/df chain per consumer
    hashed.count()
    eps = 1e-9
    plen = (
        F.size("hsh") - F.ceil(F.size("hsh") * F.lit(t) - F.lit(eps)) + 1
    ).cast("int")
    pref = hashed.select(
        "doc_id",
        F.size("hsh").alias("sz"),
        F.explode(F.slice("hsh", 1, plen)).alias("tok"),
    )
    left, right = pref.alias("l"), pref.alias("r")
    cand = (
        left.join(right, "tok")
        .filter(
            (F.col("l.doc_id") < F.col("r.doc_id"))
            & (
                F.least("l.sz", "r.sz")
                >= F.ceil(F.greatest("l.sz", "r.sz") * F.lit(t) - F.lit(eps))
            )
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    return checkpoint_result(
        _verify_jaccard(cand, hashed, hashed, threshold), hashed
    )


def containment_pairs(
    corpus: DataFrame, threshold: float = 0.9, n: int = 3
) -> DataFrame:
    """EXACT directed containment pairs (a, b, containment) with
    C(a in b) = |Sa ∩ Sb| / |Sa| >= threshold over n-gram shingle sets —
    the subset-duplicate detector (a quote, excerpt, or truncated copy of
    b) that symmetric Jaccard misses when |Sb| >> |Sa|.

    Scale shape (probe/index asymmetry of the containment prefix filter):
    an overlap of ceil(t*|Sa|) forces a shared token inside a's FIRST
    |Sa| - ceil(t*|Sa|) + 1 tokens under any global order, so only a's
    prefix is exploded on the probe side; the index side must carry every
    token (containment puts no length bound on b). Tokens are ordered by
    ascending document frequency (rarest-first, as in
    :func:`ngram_jaccard_pairs`) so probe fan-out is bounded by rare-token
    doc counts; exact verification runs on the full int64 hash arrays of
    the candidates only.
    """
    t = float(threshold)
    hashed = _rare_first_hash_sets(corpus, n).persist()
    # materialize once (same rationale as ngram_jaccard_pairs)
    hashed.count()
    eps = 1e-9
    plen = (
        F.size("hsh") - F.ceil(F.size("hsh") * F.lit(t) - F.lit(eps)) + 1
    ).cast("int")
    probe = hashed.select(
        F.col("doc_id").alias("a"), F.explode(F.slice("hsh", 1, plen)).alias("tok")
    )
    index = hashed.select(
        F.col("doc_id").alias("b"), F.explode("hsh").alias("tok")
    )
    cand = (
        probe.join(index, "tok")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = hashed.select(F.col("doc_id").alias("a"), F.col("hsh").alias("sha"))
    sb = hashed.select(F.col("doc_id").alias("b"), F.col("hsh").alias("shb"))
    containment = F.size(F.array_intersect("sha", "shb")).cast("double") / F.size(
        "sha"
    ).cast("double")
    return checkpoint_result(
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", F.round(containment, 6).alias("containment"))
        .filter(F.col("containment") >= threshold),
        hashed,
    )


def dedup_clusters(corpus: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup pairs -> document clusters with a canonical keeper:
    (doc_id, cluster_id, cluster_size, is_keeper) for EVERY corpus doc.

    The step an actual dedup pipeline runs after pair generation: connected
    components over the pair graph (the same large-star/small-star operator
    that canonicalizes entities, C2) assigns cluster_id = min doc_id in the
    component; docs in no pair are their own singleton cluster; the keeper
    (the one copy a training corpus retains) is the cluster minimum.

    Scale shape: CC is O(log n) rounds over the PAIR graph (pairs are
    LSH-bounded, far smaller than the corpus); the only corpus-sized
    shuffles are the label join (dup-docs are a small fraction, broadcast
    in practice via AQE) and one groupBy(cluster_id) for sizes.
    """
    from .canonicalize import connected_components

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    mapping = connected_components(edges)
    labeled = (
        corpus.select("doc_id")
        .distinct()
        .join(mapping.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("canon", F.col("doc_id")).alias("cluster_id"))
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def simhash_docs(corpus: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over word occurrences, md5-keyed.

    Word hash = first 15 hex chars of md5(word) as a bigint (matches
    DuckDB's ('0x'||substr(md5(w),1,15))::BIGINT, verified bit-equal).
    Bit j is 1 iff sum over words of (+1 if word-bit j else -1) is
    strictly positive.

    Physical shape: explode words -> md5 once per word -> ONE hash
    aggregate with 60 codegen'd conditional sums (map-side partial agg, a
    single shuffle on doc_id). This is ~10x faster than evaluating 60
    array-lambda aggregates per row, which Catalyst interprets.
    """
    wo = spread(corpus).select(
        "doc_id", F.explode(F.split(normalized_text(), " ")).alias("word")
    )
    hx = wo.select(
        "doc_id",
        _hash60(F.col("word").cast("binary")).alias("h"),
    )
    sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = hx.groupBy("doc_id").agg(*sums)
    combine = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        combine = combine + F.when(
            F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bits.select("doc_id", combine.alias("simhash"))


def simhash_pairs(corpus: DataFrame, max_hamming: int = MAX_HAMMING) -> DataFrame:
    """(a, b, hamming) for all pairs with hamming distance <= max_hamming.

    Banded join over 4x15-bit chunks; hamming<=3 pigeonholes into at least
    one equal chunk, so recall is exactly 1.0 — the Spark result is
    set-equal to the O(n^2) oracle by construction, at O(n) shuffle cost.
    """
    # persist + materialize: the banded self-join references the
    # signature table twice; left lazy, both sides would race the cache
    # and re-run the simhash scan (round-6)
    sim = simhash_docs(corpus).persist()
    sim.count()
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), 15 * i).bitwiseAND(F.lit(0x7FFF))
            for i in range(SIMHASH_CHUNKS)
        ]
    )
    banded = sim.select(
        "doc_id", "simhash", F.posexplode(chunks).alias("band", "key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, on=["band", "key"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.expr("bit_count(l.simhash ^ r.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return checkpoint_result(pairs, sim)


def sentence_dup_profile(docs: DataFrame, min_chars: int = 20) -> DataFrame:
    """Sub-document duplication profile -> (doc_id, n_sentences, n_dup,
    dup_ratio): how much of each document is made of sentences that occur
    elsewhere in the corpus (or twice in the same document). The
    sentence-granular complement of document-level MinHash — the signal
    behind line/sentence-level dedup (Gopher, RefinedWeb) that catches
    templated pages whose full-document signatures all differ.

    Scale shape: sentences reduce to 8-byte md5-prefix hashes at the
    scan (the shared _hash60 convention so DuckDB reproduces them); the
    global frequency table is ONE two-phase count on the hash, and the
    per-document join carries (doc_id, hash) pairs — no sentence text
    ever crosses a shuffle. Sentences split on '. ' and shorter than
    ``min_chars`` chars are ignored (boilerplate fragments).
    """
    sent = (
        docs.select(
            "doc_id",
            F.explode(F.split(normalized_text(), r"\. ")).alias("s"),
        )
        .filter(F.length("s") >= min_chars)
        .select(
            "doc_id",
            _hash60(F.col("s")).alias("h"),
        )
    )
    freq = sent.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
    return (
        sent.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.when(F.col("freq") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_sentences",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_sentences"), 6).alias("dup_ratio"),
        )
    )


def substring_fingerprints(
    corpus: DataFrame,
    k: int = 8,
    window: int = 40,
    anchor_mod: int = 16,
) -> DataFrame:
    """Content-defined substring fingerprints -> (doc_id, fp): the
    char-level signal behind EXACT-substring training-data dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"). A position p is an ANCHOR when the 60-bit md5 prefix of
    the k-char gram at p is divisible by ``anchor_mod``; the fingerprint
    is md5 of the ``window``-char substring starting there. Anchors
    depend only on local CONTENT, never absolute offset, so a copied
    passage fingerprints identically no matter where it lands in the
    host document — the property fixed-stride windows lack and the
    reason winnowing/CDC schemes exist.

    Scale shape: the O(len) per-position scan happens INSIDE the row as
    array expressions (sequence -> filter -> transform, all JVM codegen);
    only the ~len/anchor_mod anchored fingerprints ever explode into
    rows, and they reduce to 32-byte md5 keys before any shuffle.
    """
    expr = f"""
      transform(
        filter(sequence(1, greatest(length(t) - {window - 1}, 1)),
               p -> pmod(cast(conv(substring(md5(substring(t, p, {k})), 1, 15),
                                   16, 10) as bigint), {anchor_mod}) = 0),
        p -> md5(substring(t, p, {window})))
    """
    return (
        spread(corpus)
        .select("doc_id", normalized_text().alias("t"))
        .select("doc_id", F.explode(F.array_distinct(F.expr(expr))).alias("fp"))
    )


def substring_dup_pairs(
    corpus: DataFrame,
    min_shared: int = 2,
    max_posting: int = 50,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` content-defined substring
    fingerprints -> (a, b, n_shared). Catches verbatim passage reuse that
    token-shingle Jaccard dilutes away (a 200-char quote inside two
    otherwise-different pages) and survives offset shifts that break
    stride-aligned windows.

    Skew control: fingerprints appearing in more than ``max_posting``
    documents are dropped BEFORE the self-join (the df-cut every
    posting-list join needs) — a boilerplate 40-char string shared by a
    million pages would otherwise create one O(n^2) bucket. The cut is
    part of the operator contract (the oracle applies the same cut), so
    both engines agree exactly.
    """
    fps = substring_fingerprints(corpus)
    ok = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs")).filter(
        F.col("n_docs") <= max_posting
    )
    kept = fps.join(ok.select("fp"), "fp")
    a = kept.select(F.col("fp"), F.col("doc_id").alias("a"))
    b = kept.select(F.col("fp"), F.col("doc_id").alias("b"))
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup at token granularity: maximal shared spans
# ---------------------------------------------------------------------------

SUFFIX_MIN_MATCH = 20   # tokens a shared span must reach to count
SUFFIX_MAX_POSTING = 50  # df-cut shared with substring_dup_pairs


def suffix_dup_spans(
    corpus: DataFrame,
    min_match: int = SUFFIX_MIN_MATCH,
    max_posting: int = SUFFIX_MAX_POSTING,
) -> DataFrame:
    """EXACT shared-substring spans at token granularity ->
    (a, b, a_start, b_start, match_len): every MAXIMAL run of >=
    ``min_match`` consecutive tokens two documents share verbatim, with
    1-based token offsets in each. The exact complement (VERDICT r4 ask
    #6) of :func:`substring_dup_pairs`' content-defined SAMPLING: Rabin
    anchors make a copied passage *detectable*; this reports every
    duplicated span and its exact extent — the primitive Lee et al. 2022
    build a corpus-wide suffix array for.

    Same answer, join-native shape: a suffix array finds length-L shared
    substrings as suffixes that stay adjacent through rank-L ordering;
    equivalently, two suffixes share >= L tokens iff their first-L-token
    grams are EQUAL — so the gram table (one md5 key per token position,
    O(total tokens) rows, the same cardinality a suffix array sorts) is
    grouped instead of globally sorted: equal keys meet in one keyed
    shuffle, no two-phase global ranking needed. Overlapping matched
    positions collapse to maximal spans per (a, b, diagonal): along
    diagonal d = a_pos - b_pos, matched positions form runs, and a run
    from i..j certifies tokens [i, j + min_match - 1] shared — one
    bounded window (position - row_number is constant within a run)
    per pair-diagonal, never a per-document sort.

    Skew control is the operator contract, like
    :func:`substring_dup_pairs`: grams seen in more than ``max_posting``
    documents are dropped before the pair join (boilerplate kills any
    posting-list join), and BOTH engines apply the cut, so results match
    exactly. md5 equality stands in for token-run equality on both
    engines identically.
    """
    toks = spread(corpus).select(
        "doc_id", F.split(normalized_text(), " ").alias("w")
    )
    gram = F.md5(
        F.concat_ws(
            " ",
            F.slice(F.col("w"), F.col("p"), F.lit(min_match)),
        )
    )
    pos = (
        # docs shorter than min_match emit nothing (Spark's sequence()
        # DESCENDS when start > stop, so the bound can't just clamp to 0)
        toks.filter(F.size("w") >= min_match)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("w") - F.lit(min_match - 1))
            ).alias("p"),
            "w",
        )
        .select("doc_id", "p", gram.alias("g"))
    )
    df_ok = (
        pos.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") <= max_posting)
        .select("g")
    )
    kept = pos.join(df_ok, "g")
    hits = (
        kept.select("g", F.col("doc_id").alias("a"), F.col("p").alias("ia"))
        .join(
            kept.select("g", F.col("doc_id").alias("b"), F.col("p").alias("ib")),
            "g",
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ia", "ib")
        .distinct()
    )
    from pyspark.sql import Window

    wnd = Window.partitionBy("a", "b", (F.col("ia") - F.col("ib"))).orderBy("ia")
    runs = hits.withColumn("run", F.col("ia") - F.row_number().over(wnd))
    return (
        runs.groupBy("a", "b", (F.col("ia") - F.col("ib")).alias("diag"), "run")
        .agg(F.min("ia").alias("a_start"), F.max("ia").alias("a_end"))
        .select(
            "a",
            "b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("a_end") - F.col("a_start") + F.lit(min_match)).alias(
                "match_len"
            ),
        )
    )


def suffix_dup_oracle_sql(
    corpus_sql: str,
    min_match: int = SUFFIX_MIN_MATCH,
    max_posting: int = SUFFIX_MAX_POSTING,
) -> str:
    """DuckDB replay of :func:`suffix_dup_spans`: identical token grams,
    df-cut, diagonal run-merge (row_number islands), 1-based offsets."""
    return f"""
WITH sfx_corpus AS ({corpus_sql}),
sfx_w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM sfx_corpus
),
sfx_pos AS (
  SELECT doc_id, p,
         md5(array_to_string(w[p : p + {min_match} - 1], ' ')) AS g
  FROM (
    SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - {min_match - 1}, 0))) AS p
    FROM sfx_w
  )
),
sfx_ok AS (
  SELECT g FROM sfx_pos GROUP BY g
  HAVING count(DISTINCT doc_id) <= {max_posting}
),
sfx_kept AS (SELECT p.* FROM sfx_pos p JOIN sfx_ok USING (g)),
sfx_hits AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.p AS ia, r.p AS ib
  FROM sfx_kept l JOIN sfx_kept r USING (g)
  WHERE l.doc_id < r.doc_id
),
sfx_runs AS (
  SELECT a, b, ia, ib, (ia - ib) AS diag,
         ia - row_number() OVER (PARTITION BY a, b, (ia - ib) ORDER BY ia) AS run
  FROM sfx_hits
)
SELECT a, b,
       min(ia) AS a_start,
       (min(ia) - diag) AS b_start,
       (max(ia) - min(ia) + {min_match})::BIGINT AS match_len
FROM sfx_runs GROUP BY a, b, diag, run
"""
