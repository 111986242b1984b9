"""Corpus-hygiene operators a training-data pipeline runs before/after
dedup: PII detection + masking, deterministic stratified sampling, and
per-language corpus statistics.

All pure JVM expressions (regexp/md5/percentile inside whole-stage
codegen; zero Python), each with an exact DuckDB oracle:

* PII regexes are written in the common Java-regex / RE2 subset
  (character classes + bounded quantifiers, no lookaround) so Spark and
  DuckDB match identical spans; the masked text is compared by md5.
* sampling keys on md5(doc_id) — NOT rand() — so the sample is a pure
  function of the row (reproducible across runs, engines, cluster
  sizes; the same property that makes the pipeline's deterministic ids
  re-run-safe, vs the reference's random-UUID sink,
  /root/reference/internal/app/storages/qdrant/store.go:32).
* corpus stats use exact linear-interpolation percentiles
  (Spark ``percentile`` == DuckDB ``quantile_cont``).

Scale notes: PII and sampling are per-row map work fused into the scan
(no shuffle at all — a filter pushed on top of the parquet scan);
corpus stats shuffle once on the low-cardinality ``lang`` key, with
map-side partial aggregation; exact percentiles hold full per-group
value lists, so at 100 TB you'd swap ``percentile`` for
``approx_percentile`` (same plan shape, bounded state) — the exact form
is kept here because the gate demands bit-reproducibility.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import fresh_checkpoint, release

# Java-regex / RE2 common-subset patterns (no lookaround, no \b needed —
# the planted fixture delimits tokens with spaces).
RE_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
RE_CARD = "[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}"
RE_PHONE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
RE_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

# masking order: email first (may contain digits/dots), then the longer
# numeric shapes before the shorter ones so a card is never half-eaten
# by the phone/ip patterns
_MASK_ORDER = [
    (RE_EMAIL, "<EMAIL>"),
    (RE_CARD, "<CARD>"),
    (RE_PHONE, "<PHONE>"),
    (RE_IP, "<IP>"),
]


def pii_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic PII-bearing corpus derived from `documents` (whose
    text contains no digits or '@', verified — so every match below is a
    planted one and the oracle can rebuild the corpus from doc_id
    arithmetic)."""
    d = F.col("doc_id")
    text = F.col("text")
    text = F.when(
        d % 3 == 0,
        F.concat(text, F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
    ).otherwise(text)
    text = F.when(
        d % 5 == 0,
        F.concat(text, F.lit(" call +1-555-"), (d % 9000 + 1000).cast("string")),
    ).otherwise(text)
    text = F.when(
        d % 4 == 0,
        F.concat(
            text,
            F.lit(" host 10."),
            (d % 256).cast("string"),
            F.lit("."),
            (d % 100).cast("string"),
            F.lit("."),
            (d % 254 + 1).cast("string"),
        ),
    ).otherwise(text)
    text = F.when(
        d % 7 == 0,
        F.concat(
            text, F.lit(" pay 4111 1111 1111 "), (d % 9000 + 1000).cast("string")
        ),
    ).otherwise(text)
    return docs.select("doc_id", text.alias("text"))


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text) -> per-class PII counts + md5 of the masked text.

    Counting runs on the raw text; masking applies the class replacements
    in a fixed order. Emitting the masked text's md5 (not the text) keeps
    the result row narrow while still value-checking every replacement
    byte-for-byte against the oracle.
    """
    t = F.col(text_col)
    counts = {
        "n_emails": RE_EMAIL,
        "n_phones": RE_PHONE,
        "n_ips": RE_IP,
        "n_cards": RE_CARD,
    }
    masked = t
    for pat, token in _MASK_ORDER:
        masked = F.regexp_replace(masked, pat, token)
    return docs.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long").alias(name)
            for name, pat in counts.items()
        ],
        F.md5(masked.cast("binary")).alias("masked_hash"),
    )


SAMPLE_BUCKETS = 1000


def _hash_bucket(col, buckets: int = SAMPLE_BUCKETS):
    """Deterministic [0, buckets) bucket from md5 — first 15 hex chars as
    a bigint (always < 2^60, so non-negative in both engines; identical
    to DuckDB's ('0x' || substr(md5(x), 1, 15))::BIGINT % buckets)."""
    h = F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 15), 16, 10)
    return F.pmod(h.cast("long"), F.lit(buckets))


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    key_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Hash-deterministic stratified sampling: keep a row iff its md5
    bucket falls under its stratum's rate. Reproducible across runs and
    cluster sizes; composable (a 0.5 sample is a superset of a 0.25 one,
    since buckets are fixed per row)."""
    bucket = _hash_bucket(F.col(key_col))
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(float(r))).otherwise(rate)
    return docs.withColumn("bucket", bucket.cast("long")).filter(
        F.col("bucket") < rate * SAMPLE_BUCKETS
    )


def fixed_k_sample(
    docs: DataFrame,
    k: int = 10,
    key_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Deterministic fixed-size-per-stratum sample: the k rows whose
    md5-derived rank is smallest in each stratum — the reservoir-sampling
    contract (exactly k per group regardless of group size) made
    reproducible by ranking on a hash instead of a random draw.

    Scale shape: rank-and-filter plans as a WindowGroupLimit, so each
    input partition forwards at most k rows per stratum to the single
    exchange — the same bounded-shuffle property a distributed reservoir
    merge has, with none of the RNG state."""
    from pyspark.sql import Window

    # full 60-bit hash as the rank key (not the coarse sample bucket):
    # ties are practically impossible, key_col is the deterministic breaker
    rank_key = F.conv(
        F.substring(
            F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(stratum_col).orderBy(rank_key, F.col(key_col))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def corpus_stats(docs: DataFrame, stratum_col: str = "lang") -> DataFrame:
    """Per-stratum corpus statistics over whitespace token counts:
    (lang, n_docs, total_tokens, avg_tokens, p50/p90/p99_tokens).

    Exact percentiles with linear interpolation — Spark ``percentile``
    and DuckDB ``quantile_cont`` implement the same estimator, so the
    doubles agree bit-for-bit after shared rounding.
    """
    from .dedup import normalized_text

    toks = F.size(F.split(normalized_text(), " ")).cast("double")
    base = docs.select(F.col(stratum_col), toks.alias("toks"))
    return base.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.round(F.avg("toks"), 6).alias("avg_tokens"),
        F.round(F.percentile("toks", F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile("toks", F.lit(0.9)), 6).alias("p90_tokens"),
        F.round(F.percentile("toks", F.lit(0.99)), 6).alias("p99_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 512,
    shard_col: str = "lang",
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk context packing — the LLM-pretraining step that
    concatenates documents in a deterministic order and slices the token
    stream into fixed-``capacity`` training windows. Per shard (language
    here; data source in a real mix), each doc gets its global token
    offset and the window range it lands in:
    (shard, key, n_tokens, start_offset, first_bin, last_bin, n_bins).
    Tokens are single-space splits (the engine's cheap tokenizer contract,
    identical in DuckDB: len(string_split(text, ' '))).

    Scale design — a per-shard prefix sum WITHOUT a per-shard global
    window (a language is corpus-sized; Window.partitionBy(lang) would
    sort 10^12 docs in a handful of tasks). Same two-phase shape as
    graph._global_sorted_rank: repartitionByRange on (shard, key) and
    persist (pinning the sampled range boundaries), per-(partition,
    shard) token totals to the driver (<= P x shards rows —
    maintenance-scale), prefix-sum those into offsets, broadcast back,
    and each task window-sums only its own range. A checkpoint lets
    the staging cache release without recompute ever resampling
    boundaries.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    d = docs.select(
        F.col(shard_col),
        F.col(key_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = (
        d.repartitionByRange(n_part, F.col(shard_col), F.col(key_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        totals = parted.groupBy("_pid", shard_col).agg(
            F.sum("n_tokens").alias("t")
        ).collect()
        totals.sort(key=lambda r: (r[shard_col], r["_pid"]))
        offsets, acc, cur = [], 0, object()
        for r in totals:
            if r[shard_col] != cur:
                cur, acc = r[shard_col], 0
            offsets.append((r["_pid"], r[shard_col], acc))
            acc += r["t"]
        off = F.broadcast(
            spark.createDataFrame(
                offsets or [(0, "", 0)], f"_pid int, {shard_col} string, _off long"
            )
        )
        w = (
            Window.partitionBy("_pid", shard_col)
            .orderBy(key_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pre = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        first = F.floor(F.col("start_offset") / capacity)
        last = F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / capacity)
        out = fresh_checkpoint(
            parted.join(off, ["_pid", shard_col])
            .withColumn("start_offset", F.col("_off") + pre)
            .select(
                shard_col,
                key_col,
                "n_tokens",
                "start_offset",
                first.cast("long").alias("first_bin"),
                last.cast("long").alias("last_bin"),
                (last - first + 1).cast("long").alias("n_bins"),
            )
        )
    finally:
        release(parted)
    return out


def mixture_weights(docs: DataFrame, domain_col: str = "source") -> DataFrame:
    """Temperature-scaled domain-mixing weights for pretraining-corpus
    assembly -> (domain, n_docs, n_tokens, token_share, mix_weight).

    The data-mixing step every large-scale training pipeline runs
    between curation and packing: raw token share over-samples the
    dominant domain, so the sampling weight is the share pushed through
    a concave temperature map and renormalized (the tau = 0.5 special
    case of w_d = share_d^tau / sum share^tau — multilingual-sampling
    practice from mBERT/XLM-R; DoReMi learns these weights, this is the
    deterministic baseline it is initialized from).

    tau is FIXED at 0.5 because sqrt is correctly-rounded IEEE in both
    engines while pow(x, 0.7) may differ by an ulp between the JVM and
    DuckDB's libm — determinism beats tunability in an oracle-gated op.

    Scale shape: one two-phase aggregate over the corpus (map-side
    partial sums collapse before the domain-keyed exchange); the
    normalizing totals ride back onto the domain-sized frame as a
    single-row broadcast cross join — the corpus is scanned once and
    nothing domain-level ever shuffles again.
    """
    from .dedup import normalized_text

    toks = F.size(F.split(normalized_text(), " ")).cast("long")
    per_domain = (
        docs.select(F.col(domain_col).alias("domain"), toks.alias("toks"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
        )
        .withColumn("w", F.round(F.sqrt(F.col("n_tokens")), 9))
    )
    totals = per_domain.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w").alias("tot_w")
    )
    return (
        per_domain.crossJoin(F.broadcast(totals))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias(
                "token_share"
            ),
            F.round(F.col("w") / F.col("tot_w"), 6).alias("mix_weight"),
        )
    )


def dsir_logweights(
    docs: DataFrame,
    target_filter,
    buckets: int = 128,
    text_col: str = "text",
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023)
    log importance weights over hashed unigram features ->
    (doc_id, n_tokens, logw): how much more likely each document is
    under the TARGET distribution (rows matching ``target_filter``) than
    under the RAW corpus, the score DSIR resamples by to skew a web
    crawl toward a quality domain. log w(d) = sum over tokens of
    log p_target(b(t)) - log p_raw(b(t)), with b() a 60-bit md5 hash
    into ``buckets`` Laplace-smoothed bag-of-hashed-unigram buckets —
    the exact featurization the paper uses so the estimator needs no
    vocabulary, only a fixed-size count table.

    Scale shape: one tokenize+explode map stage feeds (a) two
    buckets-sized global count tables (map-side-combining aggregates on
    a key space of 128 — broadcast back), and (b) a per-(doc, bucket)
    count aggregate whose per-doc fan-out is bounded by ``buckets``.
    No vocabulary-sized state, no shuffle keyed on a token. Engine
    parity: per-bucket log-ratios are rounded to 1e-6 and cast to exact
    DECIMAL(12,6) BEFORE the per-doc sum, so the reduction is integer
    arithmetic underneath and no float summation order can split Spark
    from the DuckDB oracle; the final cast back to double is one
    deterministic conversion.
    """
    from .dedup import normalized_text, spread
    from .sketch import _hash60

    toks = (
        spread(docs)
        .select(
            "doc_id",
            F.when(target_filter, F.lit(1)).otherwise(F.lit(0)).alias("is_t"),
            F.explode(F.split(normalized_text(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .withColumn("bucket", F.pmod(_hash60(F.col("token")), F.lit(buckets)))
    )
    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum("is_t").alias("c_tgt"),
    )
    totals = counts.groupBy().agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    ratios = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + buckets))
                - F.log((F.col("c_raw") + 1) / (F.col("t_raw") + buckets)),
                6,
            )
            .cast("decimal(12,6)")
            .alias("lr"),
        )
    )
    per_doc = toks.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_doc.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt").cast("decimal(12,0)") * F.col("lr")).cast(
                    "double"
                ),
                6,
            ).alias("logw"),
        )
    )


def dsir_oracle_sql(
    target_pred_sql: str, buckets: int = 128, norm_sql: str | None = None
) -> str:
    """DuckDB reconstruction of :func:`dsir_logweights` over the
    ``documents`` view (same md5-prefix bucket hash, same Laplace
    smoothing, same decimal-exact per-doc sum)."""
    norm = norm_sql or "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH toks0 AS (
  SELECT doc_id, CASE WHEN {target_pred_sql} THEN 1 ELSE 0 END AS is_t,
         unnest(string_split({norm}, ' ')) AS token
  FROM documents
),
toks AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(token), 1, 15))::BIGINT % {buckets} AS bucket
  FROM toks0 WHERE token <> ''
),
counts AS (
  SELECT bucket, count(*) AS c_raw, sum(is_t) AS c_tgt
  FROM toks GROUP BY bucket
),
totals AS (SELECT sum(c_raw) AS t_raw, sum(c_tgt) AS t_tgt FROM counts),
ratios AS (
  SELECT bucket,
         round(ln((c_tgt + 1) / (t_tgt + {buckets}))
               - ln((c_raw + 1) / (t_raw + {buckets})), 6)::DECIMAL(12,6) AS lr
  FROM counts CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id, bucket, count(*) AS cnt FROM toks GROUP BY doc_id, bucket
)
SELECT p.doc_id, sum(p.cnt)::BIGINT AS n_tokens,
       round((sum(p.cnt::DECIMAL(12,0) * r.lr))::DOUBLE, 6) AS logw
FROM per_doc p JOIN ratios r USING (bucket)
GROUP BY p.doc_id
"""


def quality_probe_scores(
    docs: DataFrame,
    target_filter,
    buckets: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """Linear quality probe trained IN the engine: two deterministic
    full-batch gradient steps of a linear-probability model over hashed
    unigram features -> (doc_id, n_tokens, label, score). The
    fastText-style quality-classifier stage of a crawl pipeline
    (CCNet / GPT-3 Wikipedia-vs-crawl filtering), expressed so training
    itself is a DataFrame program — no sklearn, no driver-side math, no
    collect.

    Model: features x_db = per-doc hashed-unigram fractions (bucket
    count / doc token count, rounded to 1e-6 and held as exact DECIMAL);
    label y_d = 1 where ``target_filter`` holds. Squared loss keeps every
    step POLYNOMIAL — sums of decimal products are exact integers
    underneath, so Spark and the DuckDB oracle agree bit-for-bit with no
    transcendental (sigmoid/exp) parity hazard:

      step 1 (w0 = 0):  w1_j = round(sum_d y_d * x_dj / N, 6)
      step 2:           z_d  = round(sum_j w1_j * x_dj, 6)
                        w2_j = round(w1_j - sum_d (z_d - y_d) * x_dj / N, 6)
      score_d = round(sum_j w2_j * x_dj, 6)

    Scale shape: one tokenize+explode map stage -> per-(doc, bucket)
    counts (fan-out bounded by ``buckets``); every gradient is a
    map-side-combining aggregate onto a ``buckets``-row weight table
    that broadcasts back into the next step. Training cost is
    O(steps) scans of the feature table; weights never leave the
    cluster; adding steps or buckets changes no plan shape.
    """
    from .dedup import normalized_text, spread
    from .sketch import _hash60

    toks = (
        spread(docs)
        .select(
            "doc_id",
            F.when(target_filter, F.lit(1)).otherwise(F.lit(0)).alias("y"),
            F.explode(F.split(normalized_text(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .withColumn("bucket", F.pmod(_hash60(F.col("token")), F.lit(buckets)))
    )
    per_doc = toks.groupBy("doc_id", "y", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n_tok = per_doc.groupBy("doc_id").agg(F.sum("cnt").alias("n_tokens"))
    feats = per_doc.join(n_tok, "doc_id").select(
        "doc_id",
        F.col("y").cast("decimal(12,6)").alias("y"),
        "bucket",
        F.round(F.col("cnt").cast("double") / F.col("n_tokens"), 6)
        .cast("decimal(10,6)")
        .alias("x"),
    )
    n_docs = n_tok.groupBy().agg(F.count(F.lit(1)).alias("n"))
    # step 1: w0 = 0 -> prediction 0 -> gradient is -mean(y*x) per bucket
    w1 = (
        feats.groupBy("bucket")
        .agg(F.sum(F.col("y") * F.col("x")).alias("_s"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "bucket",
            F.round(F.col("_s").cast("double") / F.col("n"), 6)
            .cast("decimal(12,6)")
            .alias("w"),
        )
    )
    # step 2: z = <w1, x> per doc (exact decimal sum), residual gradient
    z = (
        feats.join(F.broadcast(w1), "bucket")
        .groupBy("doc_id", "y")
        .agg(
            F.round(F.sum(F.col("w") * F.col("x")).cast("double"), 6)
            .cast("decimal(12,6)")
            .alias("z")
        )
    )
    grad2 = (
        feats.join(
            F.broadcast(z.select("doc_id", (F.col("z") - F.col("y")).alias("r"))),
            "doc_id",
        )
        .groupBy("bucket")
        .agg(F.sum(F.col("r") * F.col("x")).alias("_g"))
        .crossJoin(F.broadcast(n_docs))
        .select("bucket", (F.col("_g").cast("double") / F.col("n")).alias("g"))
    )
    w2 = (
        w1.join(grad2, "bucket", "left")
        .select(
            "bucket",
            F.round(
                F.col("w").cast("double") - F.coalesce(F.col("g"), F.lit(0.0)), 6
            )
            .cast("decimal(12,6)")
            .alias("w"),
        )
    )
    return (
        feats.join(F.broadcast(w2), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max(F.col("y")).cast("int").alias("label"),
            F.round(F.sum(F.col("w") * F.col("x")).cast("double"), 6).alias(
                "score"
            ),
        )
        .join(n_tok, "doc_id")
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                "label", "score")
    )


def quality_probe_oracle_sql(
    target_pred_sql: str, buckets: int = 32, norm_sql: str | None = None
) -> str:
    """DuckDB reconstruction of :func:`quality_probe_scores`: identical
    hash, identical decimal-exact gradient algebra, identical rounding
    points."""
    norm = norm_sql or "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
WITH toks0 AS (
  SELECT doc_id, CASE WHEN {target_pred_sql} THEN 1 ELSE 0 END AS y,
         unnest(string_split({norm}, ' ')) AS token
  FROM documents
),
toks AS (
  SELECT doc_id, y,
         ('0x' || substr(md5(token), 1, 15))::BIGINT % {buckets} AS bucket
  FROM toks0 WHERE token <> ''
),
per_doc AS (
  SELECT doc_id, y, bucket, count(*) AS cnt FROM toks GROUP BY doc_id, y, bucket
),
n_tok AS (SELECT doc_id, sum(cnt) AS n_tokens FROM per_doc GROUP BY doc_id),
feats AS (
  SELECT p.doc_id, p.y::DECIMAL(12,6) AS y, p.bucket,
         round(p.cnt::DOUBLE / t.n_tokens, 6)::DECIMAL(10,6) AS x
  FROM per_doc p JOIN n_tok t USING (doc_id)
),
n_docs AS (SELECT count(*) AS n FROM n_tok),
w1 AS (
  SELECT bucket, round((sum(y * x))::DOUBLE / n, 6)::DECIMAL(12,6) AS w
  FROM feats CROSS JOIN n_docs GROUP BY bucket, n
),
z AS (
  SELECT f.doc_id, f.y, round((sum(w.w * f.x))::DOUBLE, 6)::DECIMAL(12,6) AS z
  FROM feats f JOIN w1 w USING (bucket) GROUP BY f.doc_id, f.y
),
grad2 AS (
  SELECT f.bucket, (sum((z.z - z.y) * f.x))::DOUBLE / n AS g
  FROM feats f JOIN z USING (doc_id) CROSS JOIN n_docs GROUP BY f.bucket, n
),
w2 AS (
  SELECT w1.bucket,
         round(w1.w::DOUBLE - coalesce(g.g, 0.0), 6)::DECIMAL(12,6) AS w
  FROM w1 LEFT JOIN grad2 g ON g.bucket = w1.bucket
)
SELECT f.doc_id, max(t.n_tokens)::BIGINT AS n_tokens,
       max(f.y)::INTEGER AS label,
       round((sum(w2.w * f.x))::DOUBLE, 6) AS score
FROM feats f JOIN w2 USING (bucket) JOIN n_tok t USING (doc_id)
GROUP BY f.doc_id
"""


def priority_sample(
    docs: DataFrame,
    k: int = 200,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weight-proportional sample of k rows via PRIORITY
    SAMPLING (Duffield, Lund & Thorup 2007): priority q_i = w_i / u_i
    with u_i a deterministic uniform in (0, 1] derived from md5(key);
    the k highest-priority rows form the sample — the scheme's
    inclusion probabilities converge to weight-proportional (IPPS) and,
    unlike Efraimidis-Spirakis keys (u^(1/w)), the priority needs NO
    transcendental function: one long->double conversion and one IEEE
    division, both exactly rounded and therefore BIT-IDENTICAL across
    Spark and DuckDB — no ln()/pow() libm divergence to round away.

    Zero- or negative-weight rows are never sampled (filtered before
    ranking), matching the weighted-sampling contract. Deterministic in
    (key, weight): re-runs, resumes, and both engines pick the same k
    rows in the same order.

    Scale shape: the hash, division, and comparison are whole-stage-
    codegen JVM; the global top-k is orderBy(...).limit(k) — a
    TakeOrdered that keeps at most k rows per partition before the
    single final merge, so the 10^12-row corpus never sorts globally
    (same bounded-shuffle shape as fixed_k_sample's rank-and-filter).
    """
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    # u in (0, 1]: (h + 1) / 2^60, h uniform in [0, 2^60)
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**60))
    w = F.col(weight_col).cast("double")
    return (
        docs.filter(w > 0)
        .withColumn("priority", w / u)
        .orderBy(F.desc("priority"), F.col(key_col))
        .limit(k)
        .select(
            F.col(key_col),
            w.alias("weight"),
            F.col("priority"),
        )
    )


def priority_sample_oracle_sql(
    k: int = 200,
    weight_col: str = "n_chars",
    key_col: str = "doc_id",
    table: str = "documents",
) -> str:
    return f"""
SELECT {key_col},
       CAST({weight_col} AS DOUBLE) AS weight,
       CAST({weight_col} AS DOUBLE)
         / ((('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15))::BIGINT + 1)
            / 1152921504606846976.0) AS priority
FROM {table}
WHERE CAST({weight_col} AS DOUBLE) > 0
ORDER BY priority DESC, {key_col}
LIMIT {k}
"""


UNIMAX_EPOCH_CAP = 2


def unimax_allocation(
    docs: DataFrame,
    budget_frac_pct: int = 50,
    epoch_cap: int = UNIMAX_EPOCH_CAP,
) -> DataFrame:
    """UniMax language-sampling allocation (Chung et al. 2023) ->
    (lang, corpus_chars, cap, allocated, capped, epochs_used_ppm): split
    a total training-character budget across languages so no language
    repeats more than ``epoch_cap`` epochs and the remainder is shared
    EQUALLY among the uncapped (large) languages — the sampling policy
    that replaced temperature mixing for multilingual LLM pretraining
    (temperature over-samples mid-size languages and still over-repeats
    tail ones; UniMax is the fair waterfill).

    Closed-form waterfill instead of the paper's sequential loop: sort
    languages by cap ascending; language at rank r is CAPPED iff
    cap_r * (n - r + 1) + prefix_cap_{r-1} < B (pure BIGINT — the
    sequential "remaining budget / remaining languages" comparison
    cross-multiplied), capped languages take their cap, every uncapped
    language takes floor((B - sum_of_capped_caps) / n_uncapped). All
    integer arithmetic (SQL ``div``, never float ``/``); epochs_used is
    exact parts-per-million computed as two bounded BIGINT terms —
    (alloc div chars) * 1e6 + (alloc mod chars) * 1e6 div chars — so it
    never forms alloc*1e6 (which would wrap past 2^63 for a language
    above ~9.2e12 allocated chars; the mod term is bounded by chars, so
    the safe per-language corpus bound is ~9.2e12 chars ≈ 9 TB of text
    in ONE language, stated here rather than silently wrapped).

    Scale shape: one map-side-combining aggregate collapses the corpus
    to one row per language; everything after runs on the LANGUAGE
    table, which is schema-sized (the single-partition rank window over
    it is over #languages rows, never the corpus — same dispensation as
    every lattice/vocab-sized frame here).
    """
    per = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("corpus_chars")
    )
    tot = per.agg(
        F.sum("corpus_chars").alias("t"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.expr(f"t * {budget_frac_pct} div 100").cast("long").alias("b"),
        "n"
    )
    w = Window.orderBy("cap", "lang")
    ranked = (
        per.select(
            "lang",
            "corpus_chars",
            (F.col("corpus_chars") * epoch_cap).alias("cap"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("r", F.row_number().over(w))
        .withColumn(
            "prefix",
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "capped",
            F.col("cap") * (F.col("n") - F.col("r") + 1) + F.col("prefix")
            < F.col("b"),
        )
    )
    pool = ranked.agg(
        F.sum(F.when(F.col("capped"), F.col("cap")).otherwise(0)).alias(
            "cap_sum"
        ),
        F.sum(F.when(F.col("capped"), 0).otherwise(1)).alias("n_unc"),
    )
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(
        F.expr("(b - cap_sum) div greatest(n_unc, 1)").cast("long")
    )
    return (
        ranked.crossJoin(F.broadcast(pool))
        .withColumn("allocated", alloc.cast("long"))
        .select(
            "lang",
            "corpus_chars",
            F.col("cap").cast("long").alias("cap"),
            "allocated",
            "capped",
            (
                F.expr("allocated div corpus_chars").cast("long")
                * 1000000
                + F.expr(
                    "(allocated % corpus_chars) * 1000000"
                    " div corpus_chars"
                ).cast("long")
            ).alias("epochs_used_ppm"),
        )
    )


def unimax_oracle_sql(
    docs_table: str = "documents",
    budget_frac_pct: int = 50,
    epoch_cap: int = UNIMAX_EPOCH_CAP,
) -> str:
    """DuckDB replay of :func:`unimax_allocation` — identical rank
    order, cross-multiplied cap test, and integer division."""
    return f"""
WITH um_per AS (
  SELECT lang, sum(n_chars)::BIGINT AS corpus_chars
  FROM {docs_table} GROUP BY 1
),
um_tot AS (
  SELECT (sum(corpus_chars) * {budget_frac_pct} // 100)::BIGINT AS b,
         count(*)::BIGINT AS n
  FROM um_per
),
um_rk AS (
  SELECT p.lang, p.corpus_chars,
         (p.corpus_chars * {epoch_cap})::BIGINT AS cap, t.b, t.n,
         row_number() OVER (
           ORDER BY p.corpus_chars * {epoch_cap}, p.lang) AS r,
         coalesce(sum(p.corpus_chars * {epoch_cap}) OVER (
           ORDER BY p.corpus_chars * {epoch_cap}, p.lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS prefix
  FROM um_per p, um_tot t
),
um_c AS (
  SELECT *, (cap * (n - r + 1) + prefix < b) AS capped FROM um_rk
),
um_pool AS (
  SELECT sum(CASE WHEN capped THEN cap ELSE 0 END)::BIGINT AS cap_sum,
         sum(CASE WHEN capped THEN 0 ELSE 1 END)::BIGINT AS n_unc
  FROM um_c
),
um_a AS (
  SELECT lang, corpus_chars, cap,
         (CASE WHEN capped THEN cap
               ELSE ((b - cap_sum) // greatest(n_unc, 1)) END)::BIGINT
           AS allocated,
         capped
  FROM um_c, um_pool
)
SELECT lang, corpus_chars, cap, allocated, capped,
       ((allocated // corpus_chars) * 1000000
        + ((allocated % corpus_chars) * 1000000) // corpus_chars)::BIGINT
         AS epochs_used_ppm
FROM um_a
"""


# ---------------------------------------------------------------------------
# Overlapping context-window chunking
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_documents(
    docs: DataFrame,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document overlapping token windows -> (doc_id, chunk_idx,
    tok_start, tok_end, n_tokens, chunk_text): window k starts at token
    1 + k*stride (1-based), holds ``size`` tokens (the last window keeps
    the tail and may be shorter), and windows are emitted up to
    k = ceil(max(n - size, 0) / stride) — so every token is covered,
    consecutive windows overlap by ``size - stride`` tokens, and a doc
    no longer than ``size`` yields exactly one whole-doc chunk. The
    context-window splitter a training/embedding pipeline runs between
    cleaning and tokenization (RAG passage windows, long-doc embedding,
    fixed-context pretraining all use this shape); the complement of
    :func:`pack_sequences`, which CONCATENATES short docs — this SPLITS
    long ones.

    Tokens are single-space splits (the engine's cheap tokenizer
    contract shared with :func:`pack_sequences`; identical in DuckDB).
    Scale shape: pure map work — split, a per-row sequence explode of
    ceil(n/stride) window indices, slice, concat — fused into the scan;
    no shuffle, no window function, no Python anywhere. Chunk counts
    and offsets are exact BIGINT arithmetic (ceil via (a + b - 1) div b,
    never float), so the DuckDB replay matches bit-for-bit.
    """
    w = F.split(F.col(text_col), " ")
    # ceil(over / stride) in exact integer arithmetic (`div`, never the
    # DOUBLE `/` — exact at any magnitude, honoring the contract above)
    k_max = F.expr(
        f"(greatest(size(w) - {int(size)}, 0) + {int(stride) - 1})"
        f" div {int(stride)}"
    )
    start = F.lit(1) + F.col("k") * stride
    length = F.least(F.lit(size), F.size(F.col("w")) - start + 1)
    return (
        docs.select(F.col(key_col).alias("doc_id"), w.alias("w"))
        .select("doc_id", "w", k_max.alias("km"))
        .select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("km"))).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").cast("int").alias("chunk_idx"),
            start.cast("int").alias("tok_start"),
            (start + length - 1).cast("int").alias("tok_end"),
            length.cast("int").alias("n_tokens"),
            F.concat_ws(" ", F.slice(F.col("w"), start, length)).alias(
                "chunk_text"
            ),
        )
    )


def chunk_oracle_sql(
    corpus_sql: str,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> str:
    """DuckDB replay of :func:`chunk_documents`: same single-space
    tokens, same integer-exact window count, 1-based inclusive slices."""
    return f"""
WITH chk_corpus AS ({corpus_sql}),
chk_w AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM chk_corpus
),
chk_k AS (
  SELECT doc_id, w, n,
         unnest(generate_series(
           0, (greatest(n - {size}, 0) + {stride - 1}) // {stride})) AS k
  FROM chk_w
)
SELECT doc_id,
       k::INT AS chunk_idx,
       (1 + k * {stride})::INT AS tok_start,
       least(1 + k * {stride} + {size - 1}, n)::INT AS tok_end,
       (least(1 + k * {stride} + {size - 1}, n) - k * {stride})::INT
         AS n_tokens,
       array_to_string(w[(1 + k * {stride}) :
                         least(1 + k * {stride} + {size - 1}, n)], ' ')
         AS chunk_text
FROM chk_k
"""
