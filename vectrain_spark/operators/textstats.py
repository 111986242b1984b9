"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

All pure JVM expressions (whole-stage codegen; zero Python) with exact
ANSI-SQL oracle equivalents: every metric is integer counting or a fixed
double formula over integers, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint_result, fresh_checkpoint, release
from .dedup import normalized_text, shingles_col, spread

STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "that", "for", "on"],
    "es": ["el", "la", "de", "que", "los", "y", "en", "un", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "fr": ["le", "les", "des", "et", "une", "est", "dans", "pour", "qui", "sur"],
}
LANG_ORDER = ["en", "es", "de", "fr"]


def _stop_count(words, lang: str):
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def lang_id(docs: DataFrame) -> DataFrame:
    """n-gram-free stopword-vote language ID -> (doc_id, pred_lang, s_*).

    Deterministic argmax with fixed tie-break order en > es > de > fr —
    the oracle SQL encodes the identical CASE chain.
    """
    words = F.split(normalized_text(), " ")
    scored = docs.select(
        "doc_id",
        *[
            _stop_count(words, lang).cast("long").alias(f"s_{lang}")
            for lang in LANG_ORDER
        ],
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when(
            (F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")),
            F.lit("es"),
        )
        .when(F.col("s_de") >= F.col("s_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.select("doc_id", pred.alias("pred_lang"), "s_en", "s_es", "s_de", "s_fr")


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / stopword / word-shape heuristics -> one quality double.

    (doc_id, n_words, n_chars, avg_word_len, stop_ratio, quality)
    """
    norm = normalized_text()
    words = F.split(norm, " ")
    n_words = F.size(words).cast("double")
    n_chars = F.length(norm).cast("double")
    stop = _stop_count(words, "en").cast("double")
    avg_word_len = F.round((n_chars - (n_words - 1)) / n_words, 6)
    stop_ratio = F.round(stop / n_words, 6)
    quality = F.round(
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * 0.5
        + F.least(stop / F.lit(5.0), F.lit(1.0)) * 0.3
        + F.when((avg_word_len >= 3.0) & (avg_word_len <= 10.0), 0.2).otherwise(0.0),
        6,
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + regex token classes + a BPE-ish piece count
    (ceil(len/4) per word — a deterministic stand-in for subword tokenizers).
    """
    norm = normalized_text()
    words = F.split(norm, " ")
    ws_tokens = F.size(words).cast("long")
    alpha_tokens = F.size(F.regexp_extract_all(norm, F.lit("[a-z]+"), 0)).cast("long")
    num_tokens = F.size(F.regexp_extract_all(norm, F.lit("[0-9]+"), 0)).cast("long")
    bpe_pieces = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )
    return docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        alpha_tokens.alias("alpha_tokens"),
        num_tokens.alias("num_tokens"),
        bpe_pieces.alias("bpe_pieces"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: per-document fraction of word
    2-grams taken by the single most frequent 2-gram, and fraction of word
    3-grams that are duplicated (occur more than once) — the two signals
    web-corpus pipelines (Gopher / RefinedWeb rules) use to drop
    boilerplate-repetitive pages before training.

    -> (doc_id, n_grams2, top2_cnt, top2_frac, n_grams3, dup3_cnt,
        dup3_frac), one row per document with at least one 2-gram.

    Scale design: both gram sizes ride ONE explode and one
    (doc_id, gram) shuffle — grams are tagged with their size ("2\\t...",
    "3\\t..."; a tab can never appear inside a gram because normalization
    collapses all whitespace to single spaces) so the per-gram count and
    the per-doc rollup handle both metrics in the same two-phase
    aggregation with map-side partial combine. No Python, no collect;
    per-doc state never materializes the gram set in memory (unlike a
    higher-order-function formulation, which is O(words^2) per doc).
    """
    g2 = shingles_col(n=2, distinct=False)
    g3 = shingles_col(n=3, distinct=False)
    tagged = spread(docs).select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(g2, lambda s: F.concat(F.lit("2\t"), s)),
                F.transform(g3, lambda s: F.concat(F.lit("3\t"), s)),
            )
        ).alias("g"),
    )
    counts = tagged.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    is2 = F.col("g").startswith("2\t")
    cnt = F.col("cnt")
    agg = counts.groupBy("doc_id").agg(
        F.sum(F.when(is2, cnt).otherwise(F.lit(0))).alias("n_grams2"),
        F.max(F.when(is2, cnt)).alias("top2_cnt"),
        F.sum(F.when(~is2, cnt).otherwise(F.lit(0))).alias("n_grams3"),
        F.sum(F.when(~is2 & (cnt > 1), cnt).otherwise(F.lit(0))).alias("dup3_cnt"),
    )
    return agg.select(
        "doc_id",
        F.col("n_grams2").cast("long").alias("n_grams2"),
        F.col("top2_cnt").cast("long").alias("top2_cnt"),
        F.round(F.col("top2_cnt") / F.col("n_grams2"), 6).alias("top2_frac"),
        F.col("n_grams3").cast("long").alias("n_grams3"),
        F.col("dup3_cnt").cast("long").alias("dup3_cnt"),
        F.when(
            F.col("n_grams3") > 0, F.round(F.col("dup3_cnt") / F.col("n_grams3"), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("dup3_frac"),
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style hard document filters as an explicit verdict table:
    per doc, each rule's measurement AND its pass flag, plus the overall
    keep decision — the shape a production corpus pipeline materializes so
    filter decisions are auditable (and re-aggregable into per-rule drop
    stats) instead of silently applied.

    Rules (numeric bounds follow the Gopher paper's published ranges,
    adapted to the fixture's scale): word count in [15, 100000]; mean word
    length in [3, 10]; >= 2 English stopword hits; fraction of
    digit-bearing words <= 0.3.

    -> (doc_id, n_words, mean_word_len, stop_hits, digit_word_frac,
        ok_words, ok_word_len, ok_stops, ok_digits, keep) — flags as 0/1
    ints so every engine hashes them identically.

    All whole-stage-codegen JVM expressions over one projection — no
    shuffle at all; at 100 TB this is a pure map stage that fuses with the
    scan.
    """
    norm = normalized_text()
    words = F.split(norm, " ")
    n_words = F.size(words).cast("long")
    n_chars = F.length(norm)
    mean_wl = F.round((n_chars - (n_words - 1)) / n_words.cast("double"), 6)
    stop = _stop_count(words, "en").cast("long")
    digit_words = F.size(F.filter(words, lambda w: w.rlike("[0-9]")))
    digit_frac = F.round(digit_words / n_words.cast("double"), 6)
    ok_words = (n_words >= 15) & (n_words <= 100_000)
    ok_wl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    ok_stops = stop >= 2
    ok_digits = digit_frac <= 0.3
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop.alias("stop_hits"),
        digit_frac.alias("digit_word_frac"),
        ok_words.cast("long").alias("ok_words"),
        ok_wl.cast("long").alias("ok_word_len"),
        ok_stops.cast("long").alias("ok_stops"),
        ok_digits.cast("long").alias("ok_digits"),
        (ok_words & ok_wl & ok_stops & ok_digits).cast("long").alias("keep"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: lexicographic min/max of
    md5(shingle) over distinct word-3-gram shingles -> (doc_id, fp_min, fp_max).
    Stable under any partitioning; joinable for copy detection.
    """
    sh = shingles_col()
    hashed = F.transform(sh, lambda s: F.md5(s.cast("binary")))
    return spread(docs).select(
        "doc_id",
        F.array_min(hashed).alias("fp_min"),
        F.array_max(hashed).alias("fp_max"),
    ).filter(F.col("fp_min").isNotNull())


def lm_quality_score(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """CCNet-style language-model quality filtering, transcendental-free:
    build a bigram model from the corpus (pairs seen >= ``min_count``
    times, conditional prob p(w2|w1) rounded to 6 decimals), then score
    every document by its coverage under that model ->
    (doc_id, n_bigrams, n_oov, sum_p, avg_p).

    A low avg_p / high OOV rate marks gibberish, boilerplate salad, and
    wrong-language text — the same filtering signal CCNet gets from a
    KenLM perplexity, but with exact arithmetic: per-doc probability mass
    is summed as DECIMAL(18,6) (order-insensitive, engine-exact) and only
    the final average divides in doubles on identical inputs, so an
    independent SQL reconstruction matches value-for-value.

    Scale shape: the model is vocabulary-sized (min_count prunes the
    tail) and broadcast onto the exploded bigram stream; the per-doc
    aggregate is algebraic. Two shuffles total: model build, doc rollup.
    """
    from .dedup import normalized_text, spread

    ws = F.split(normalized_text(), " ")
    grams = (
        spread(docs)
        .select("doc_id", ws.alias("ws"))
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    "             element_at(ws, i + 1) AS w2))"
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
    )
    c2 = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    c1 = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    lm = (
        c2.filter(F.col("cnt") >= min_count)
        .join(c1, "w1")
        .select(
            "w1", "w2",
            F.round(F.col("cnt") / F.col("cnt1"), 6)
            .cast("decimal(18,6)")
            .alias("p"),
        )
    )
    scored = grams.join(F.broadcast(lm), ["w1", "w2"], "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("p").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.coalesce(F.sum("p"), F.lit(0).cast("decimal(18,6)")).alias("_sp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            F.col("_sp").cast("double").alias("sum_p"),
            # floor-quantized average: sum_p*1e6 is integer-valued (the
            # decimal sum has 6 places), so floor on the shared double
            # quotient is engine-unambiguous — round() would diverge at
            # exact .5 boundaries (Spark HALF_UP vs DuckDB half-even)
            (
                F.floor(F.col("_sp").cast("double") * 1e6 / F.col("n_bigrams"))
                / 1e6
            ).alias("avg_p"),
        )
    )


def word_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon word entropy + type-token ratio ->
    (doc_id, n_tokens, n_types, ttr, entropy): low entropy / low TTR
    flags repetitive machine-generated spam the repetition-ratio gate's
    fixed n-gram windows can miss (entropy integrates ALL repetition
    scales at once).

    Engine parity for a transcendental: H = log2(n) - sum(c*log2(c))/n
    over per-word counts c, with every log2 quantized to integer
    micro-units (floor(log2(x) * 1e8) -> BIGINT) BEFORE the sum — the
    sum is then exact long arithmetic, order-independent across Spark's
    and DuckDB's aggregation orders (same trick as kmeans_refine's
    scaled-integer centroid means; the 8-dp quantization is the
    pre-rounded-trig idiom rotate_scores gates). One explode + two
    map-side-combining aggregates; all JVM."""
    from .dedup import normalized_text, spread

    words = spread(docs).select(
        "doc_id", F.explode(F.split(normalized_text(), " ")).alias("w")
    )
    lgmu_c = F.floor(F.log2("c") * F.lit(1e8)).cast("long")
    per = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.col("c") * lgmu_c).alias("_clg"),
        )
    )
    return per.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_types",
        F.round(F.col("n_types") / F.col("n"), 6).alias("ttr"),
        F.round(
            (
                F.floor(F.log2("n") * F.lit(1e8))
                - F.col("_clg") / F.col("n")
            )
            / F.lit(1e8),
            6,
        ).alias("entropy"),
    )


def word_entropy_oracle_sql(norm_sql: str) -> str:
    """DuckDB replay of :func:`word_entropy` — identical micro-unit
    quantization and arithmetic order."""
    return f"""
WITH went_w AS (
  SELECT doc_id, unnest(string_split({norm_sql}, ' ')) AS w FROM documents
),
went_c AS (
  SELECT doc_id, w, count(*)::BIGINT AS c FROM went_w GROUP BY 1, 2
),
went_per AS (
  SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_types,
         sum(c * floor(log2(c) * 100000000.0)::BIGINT)::BIGINT AS clg
  FROM went_c GROUP BY 1
)
SELECT doc_id, n AS n_tokens, n_types,
       round(n_types / n, 6) AS ttr,
       round((floor(log2(n) * 100000000.0) - clg / n) / 100000000.0, 6)
         AS entropy
FROM went_per
"""


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style quality terciles -> (doc_id, avg_p, bucket): rank the
    corpus by its LM coverage score (:func:`lm_quality_score`, higher =
    more fluent) and cut it into head / middle / tail thirds — the
    bucketing Wenzek et al. (2020) apply to Common Crawl before keeping
    the head for LM training. Bucket boundaries are RANK-based
    (bucket = floor(3 * rank / n), rank ordered by (avg_p desc, doc_id)),
    not interpolated percentiles: the cut depends only on the total
    order, which both engines reproduce exactly, never on
    float-interpolation semantics at the tercile boundary.

    Scale shape: the global rank comes from the two-phase
    repartitionByRange + per-partition-offset scheme
    (:func:`..graph._global_sorted_rank`) — no partition-less window
    anywhere; the only driver traffic is one row per partition."""
    from .graph import _global_sorted_rank

    scored = lm_quality_score(docs).select("doc_id", "avg_p")
    keyed = scored.withColumn(
        "_ck",
        F.struct((-F.col("avg_p")).alias("q"), F.col("doc_id").alias("d")),
    )
    ranked, n = _global_sorted_rank(keyed, "_ck", "_rank")
    b = F.floor(F.lit(3) * F.col("_rank") / F.lit(n))
    labels = F.array(F.lit("head"), F.lit("middle"), F.lit("tail"))
    return checkpoint_result(
        ranked.select(
            "doc_id",
            "avg_p",
            F.element_at(labels, (b + 1).cast("int")).alias("bucket"),
        ),
        ranked,
    )


def ccnet_buckets_oracle_sql(lm_score_sql: str) -> str:
    """DuckDB replay of :func:`ccnet_buckets` over the shared LM-score
    oracle: same (avg_p desc, doc_id) total order, same floor cut."""
    return f"""
WITH ccb AS ({lm_score_sql}),
rk AS (
  SELECT doc_id, avg_p,
         row_number() OVER (ORDER BY avg_p DESC, doc_id) - 1 AS r,
         count(*) OVER () AS n
  FROM ccb
)
SELECT doc_id, avg_p,
       CASE (3 * r) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM rk
"""


def textrank_words(docs: DataFrame, min_pair: int = 5) -> DataFrame:
    """TextRank keyword scores -> (id, rank): weighted PageRank over the
    adjacent-word co-occurrence graph (Mihalcea & Tarau 2004, window 2).
    Adjacent unordered word pairs become undirected edges weighted by
    corpus-wide pair count; the existing :func:`..graph.pagerank` runs
    5 weighted iterations over the symmetrized edge list, so the whole
    operator (and its unrolled-CTE oracle) is a composition of two
    already-gated pieces.

    Scale shape: pair generation is IN-ROW (zip_with over sliced token
    arrays — codegen, no self-join); one two-phase pair count;
    ``min_pair`` prunes hapax noise BEFORE the graph is built, so the
    word graph is vocabulary-sized (bounded by the language), not
    corpus-sized — at 100 TB the iteration cost is independent of the
    page count. Self-pairs from stuttered tokens are dropped (TextRank
    graphs are loop-free)."""
    from .graph import pagerank

    return pagerank(word_cooccurrence_edges(docs, min_pair), weight="cnt")


def word_cooccurrence_edges(docs: DataFrame, min_pair: int = 5) -> DataFrame:
    """Symmetrized adjacent-word co-occurrence graph -> (src, dst, cnt):
    the vocabulary-sized word graph both :func:`textrank_words` and the
    SimRank gate iterate over. Pair generation is in-row (zip_with over
    sliced token arrays — codegen, no token self-join); ``min_pair``
    prunes hapax noise before the graph exists."""
    toks = docs.select("doc_id", F.split(normalized_text(), " ").alias("w"))
    pair_arr = F.expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        "         slice(w, 2, greatest(size(w) - 1, 0)),"
        "         (x, y) -> struct(least(x, y) AS wa, greatest(x, y) AS wb))"
    )
    pairs = (
        spread(toks)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.wa", "p.wb")
        .filter(F.col("wa") != F.col("wb"))
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_pair)
    )
    return pairs.select(
        F.col("wa").alias("src"), F.col("wb").alias("dst"), "cnt"
    ).unionAll(
        pairs.select(F.col("wb").alias("src"), F.col("wa").alias("dst"), "cnt")
    )


def word_cooccurrence_edges_sql(norm_sql: str, min_pair: int = 5) -> str:
    """DuckDB reconstruction of :func:`word_cooccurrence_edges` —
    shared by the TextRank and SimRank oracles."""
    return f"""
WITH tr_w AS (SELECT doc_id, string_split({norm_sql}, ' ') AS words FROM documents),
tr_tok AS (
  SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS word
  FROM tr_w
),
tr_pc AS (
  SELECT least(a.word, b.word) AS wa, greatest(a.word, b.word) AS wb,
         count(*)::BIGINT AS cnt
  FROM tr_tok a JOIN tr_tok b
    ON a.doc_id = b.doc_id AND b.pos - a.pos = 1
  WHERE a.word <> b.word
  GROUP BY 1, 2
  HAVING count(*) >= {min_pair}
)
SELECT wa AS src, wb AS dst, cnt FROM tr_pc
UNION ALL
SELECT wb AS src, wa AS dst, cnt FROM tr_pc
"""


def textrank_oracle_sql(norm_sql: str, min_pair: int = 5) -> str:
    """DuckDB replay of :func:`textrank_words`: identical pair graph fed
    to the shared unrolled-CTE weighted-pagerank oracle."""
    from .graph import pagerank_oracle_sql

    return pagerank_oracle_sql(
        word_cooccurrence_edges_sql(norm_sql, min_pair), weight_sql="cnt"
    )


def pmi_pairs(docs: DataFrame, min_pair: int = 5) -> DataFrame:
    """Skip-gram PMI collocations -> (wa, wb, c_ab, c_a, c_b, pmi_ratio):
    unordered word pairs co-occurring within a +/-2 token window, scored
    by p(a,b) / (p(a) p(b)) — the association measure behind phrase
    mining and tokenizer-vocabulary induction over a training corpus.
    pmi_ratio is the raw probability ratio (log-free: ln() is not
    bit-reproducible across libm implementations, the monotone ratio
    carries the identical ranking), with the exact parenthesization
    (c_ab * n_tok * n_tok) / (n_pairs * c_a * c_b) mirrored by the SQL
    oracle so each IEEE op rounds identically on both engines.

    Scale shape: pair generation is IN-ROW — distance-1 and distance-2
    pairs come from zip_with over sliced token arrays (whole-stage
    codegen, no self-join, no shuffle), then ONE two-phase count per
    pair and per word; the corpus-total counts ride in as a broadcast
    single-row frame. min_pair prunes the heavy tail BEFORE the unigram
    joins, so the joined set is the collocation shortlist, not the
    pair universe."""
    toks = docs.select(
        "doc_id", F.split(normalized_text(), " ").alias("w")
    )
    pair_arr = F.expr(
        "flatten(transform(array(1, 2), g ->"
        " zip_with(slice(w, 1, greatest(size(w) - g, 0)),"
        "          slice(w, g + 1, greatest(size(w) - g, 0)),"
        "          (x, y) -> struct(least(x, y) AS wa, greatest(x, y) AS wb))))"
    )
    pairs = (
        toks.select(F.explode(pair_arr).alias("p"))
        .select("p.wa", "p.wb")
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    uni = (
        toks.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = pairs.agg(F.sum("c_ab").alias("n_pairs")).crossJoin(
        uni.agg(F.sum("c").alias("n_tok"))
    )
    shortlist = pairs.filter(F.col("c_ab") >= min_pair)
    return (
        shortlist.join(
            uni.select(F.col("word").alias("wa"), F.col("c").alias("c_a")), "wa"
        )
        .join(uni.select(F.col("word").alias("wb"), F.col("c").alias("c_b")), "wb")
        .crossJoin(F.broadcast(totals))
        .select(
            "wa",
            "wb",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                (F.col("c_ab").cast("double") * F.col("n_tok") * F.col("n_tok"))
                / (F.col("n_pairs").cast("double") * F.col("c_a") * F.col("c_b")),
                6,
            ).alias("pmi_ratio"),
        )
    )


def bpe_pair_counts(docs: DataFrame, top_n: int = 50) -> DataFrame:
    """First-round byte-pair-encoding merge statistics: frequency of
    every ADJACENT character pair inside corpus words, weighted by word
    frequency — the argmax of this table is exactly the first merge a
    BPE tokenizer trainer would pick (Sennrich et al. 2016), and re-running
    it after each merge is the full training loop.

    Plan shape: wordcount first (one map-side-combining shuffle collapses
    the corpus to its vocabulary — pair generation then touches each
    DISTINCT word once, not each occurrence), pair explode via a JVM
    transform over substring indices (no Python), second two-phase
    aggregate, and a top-N TakeOrderedAndProject (never a full sort).
    """
    from .dedup import normalized_text, spread

    words = (
        spread(docs)
        .select(F.explode(F.split(normalized_text(), " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_n)
    )


def bpe_train(docs: DataFrame, merges: int = 3) -> DataFrame:
    """Full BPE tokenizer TRAINING loop (Sennrich et al. 2016), in-engine:
    ``merges`` rounds of [count adjacent symbol pairs -> pick the global
    argmax -> merge it everywhere] -> the learned merge table
    (rank, left, right, merged, cnt). :func:`bpe_pair_counts` is round 1
    of this loop; this runs the loop itself — tokenizer training as a
    DataFrame program, the way you'd learn a vocab on a 100 TB corpus
    without ever leaving the cluster.

    Plan shape per round: the corpus collapsed to its weighted vocabulary
    ONCE up front (two-phase wordcount — pair statistics then touch each
    DISTINCT word, not each occurrence); symbol sequences live as
    DOUBLE-space-joined strings (' a  b  a  b '), so the merge apply is
    ONE literal replace of ' x  y ' with ' xy ': each boundary owns two
    spaces, a match consumes only one, and the leftover space lets the
    scanner match a back-to-back occurrence immediately — left-to-right
    non-overlapping replace becomes EXACTLY BPE's greedy merge ('a b a b'
    merges both pairs in one round, 'a a a' merges once), and the
    replacement re-establishes the canonical form so no cleanup pass is
    needed. The argmax is a 1-row TakeOrdered broadcast-cross-joined
    back — NO collect, no driver loop over data. DuckDB replays every
    round verbatim (unrolled CTEs).
    """
    words = _bpe_words(docs).filter(F.length("w") >= 2)
    seq, table, bests = _bpe_loop(words, merges)
    release(seq)
    return checkpoint_result(table, *bests)


def _bpe_words(docs: DataFrame) -> DataFrame:
    from .dedup import normalized_text, spread

    return (
        spread(docs)
        .select(F.explode(F.split(normalized_text(), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def _bpe_loop(words: DataFrame, merges: int):
    """Shared BPE merge loop: (w, f) vocabulary -> (final symbol
    sequences, lazy learned merge table, the per-round checkpoints that
    table reads); the caller releases the checkpoints. See :func:`bpe_train` for the double-space boundary
    encoding that makes one literal replace per round exactly greedy
    BPE."""
    # ' a  b  c ' — one symbol per char, DOUBLE-space separated, padded
    seq = fresh_checkpoint(
        words.select(
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace("w", "(.)", "$1  ")),
                F.lit(" "),
            ).alias("s"),
            "f",
        )
    )
    out = None
    bests = []
    for r in range(merges):
        toks = F.split(F.trim("s"), "  ")
        pair_list = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        best = fresh_checkpoint(
            seq.select(F.explode(pair_list).alias("pair"), "f")
            .groupBy("pair")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(
                F.lit(r + 1).cast("long").alias("rank"),
                F.split("pair", " ")[0].alias("left"),
                F.split("pair", " ")[1].alias("right"),
                F.concat(F.split("pair", " ")[0], F.split("pair", " ")[1]).alias(
                    "merged"
                ),
                F.col("cnt").cast("long").alias("cnt"),
            )
        )
        bests.append(best)
        out = best if out is None else out.unionAll(best)
        nxt = seq.crossJoin(F.broadcast(best)).select(
            F.replace(
                F.col("s"),
                F.concat(
                    F.lit(" "), F.col("left"), F.lit("  "), F.col("right"),
                    F.lit(" "),
                ),
                F.concat(F.lit(" "), F.col("merged"), F.lit(" ")),
            ).alias("s"),
            "f",
        )
        seq = checkpoint_result(nxt, seq)
    return seq, out, bests


def bpe_encode_tokens(
    docs: DataFrame, merges: int = 3, top_n: int = 30
) -> DataFrame:
    """APPLY side of :func:`bpe_train`: learn ``merges`` merges, encode
    the whole corpus vocabulary with them, and return the ``top_n``
    resulting subword tokens with corpus frequencies (token, cnt) — the
    learned-vocab histogram a tokenizer build hands to the model config.
    Single-char words (excluded from pair STATISTICS, which they cannot
    affect) are still encoded and counted here, so the histogram covers
    every corpus token. Same all-JVM loop; the final explode/count is
    one two-phase aggregate + TakeOrdered."""
    words = _bpe_words(docs)
    seq, _, bests = _bpe_loop(words.filter(F.length("w") >= 2), merges)
    release(*bests)  # seq is a checkpoint: it no longer reads them
    singles = words.filter(F.length("w") < 2).select(
        F.concat(F.lit(" "), F.col("w"), F.lit(" ")).alias("s"), "f"
    )
    toks = seq.unionAll(singles).select(
        F.explode(F.split(F.trim("s"), "  ")).alias("token"), "f"
    )
    top = (
        toks.groupBy("token")
        .agg(F.sum("f").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(top_n)
    )
    return checkpoint_result(top, seq)


def bpe_encode_oracle_sql(norm_sql: str, merges: int = 3, top_n: int = 30) -> str:
    """DuckDB replay of bpe_encode_tokens: the bpe_train CTE chain on
    the >=2-char vocabulary, single-char words appended un-merged, then
    the identical token histogram."""
    train = bpe_train_oracle_sql(norm_sql, merges)
    body = train[len("WITH ") : train.index("\nSELECT 1::BIGINT")]
    return f"""WITH {body},
bt_singles AS (
  SELECT ' ' || w || ' ' AS s, f FROM (
    SELECT w, count(*) AS f FROM (
      SELECT unnest(string_split({norm_sql}, ' ')) AS w FROM documents
    ) WHERE w <> '' AND length(w) < 2 GROUP BY w
  )
),
bt_all AS (SELECT s, f FROM bt_s{merges} UNION ALL SELECT s, f FROM bt_singles)
SELECT token, sum(f)::BIGINT AS cnt FROM (
  SELECT unnest(string_split(trim(s), '  ')) AS token, f FROM bt_all
) GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {top_n}
"""


def bpe_train_oracle_sql(norm_sql: str, merges: int = 3) -> str:
    """DuckDB replay of bpe_train: identical wordcount, symbol encoding,
    argmax tie-break, boundary-replace and squish, one CTE pair per
    merge round."""
    parts = [
        f"""bt_wf AS MATERIALIZED (
  SELECT w, count(*) AS f FROM (
    SELECT unnest(string_split({norm_sql}, ' ')) AS w FROM documents
  ) WHERE w <> '' AND length(w) >= 2 GROUP BY w
)""",
        "bt_s0 AS (SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g'))"
        " || ' ' AS s, f FROM bt_wf)",
    ]
    for r in range(merges):
        parts.append(
            f"""bt_b{r} AS (
  SELECT pair, cnt FROM (
    SELECT pair, sum(f) AS cnt FROM (
      SELECT f, unnest(list_transform(range(1, length(tk)),
                       i -> tk[i] || ' ' || tk[i + 1])) AS pair
      FROM (SELECT string_split(trim(s), '  ') AS tk, f FROM bt_s{r})
    ) GROUP BY pair
  ) ORDER BY cnt DESC, pair ASC LIMIT 1
)"""
        )
        parts.append(
            f"""bt_s{r + 1} AS (
  SELECT replace(q.s,
                 ' ' || string_split(b.pair, ' ')[1] || '  '
                     || string_split(b.pair, ' ')[2] || ' ',
                 ' ' || string_split(b.pair, ' ')[1]
                     || string_split(b.pair, ' ')[2] || ' ') AS s, q.f
  FROM bt_s{r} q, bt_b{r} b
)"""
        )
    selects = [
        f"SELECT {r + 1}::BIGINT AS rank,"
        f" string_split(pair, ' ')[1] AS \"left\","
        f" string_split(pair, ' ')[2] AS \"right\","
        f" string_split(pair, ' ')[1] || string_split(pair, ' ')[2] AS merged,"
        f" cnt::BIGINT AS cnt FROM bt_b{r}"
        for r in range(merges)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def readability(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document -> (doc_id,
    n_words, n_sentences, n_syllables, flesch, fk_grade): the classic
    quality-mix signal a curriculum/mixture stage buckets on (alongside
    gopher_rules' structural verdicts). Syllables use the standard
    vowel-group approximation ([aeiouy]+ runs); sentence count is the
    number of terminal-punctuation runs, floored at 1 so punctuation-free
    fragments stay finite.

    Pure JVM regexp_count projections fused into the scan — a map stage
    with zero shuffles at any scale; DuckDB reproduces every count with
    regexp_extract_all and the identical IEEE divide/round sequence.
    """
    t = F.lower(F.col("text"))
    n_words = F.greatest(F.regexp_count(t, F.lit(r"[a-z0-9']+")), F.lit(1))
    n_sent = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    n_syl = F.greatest(F.regexp_count(t, F.lit(r"[aeiouy]+")), F.lit(1))
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syl.cast("double") / n_words.cast("double")
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4).alias("flesch"),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4).alias("fk_grade"),
    )


def nb_langid_confusion(docs: DataFrame) -> DataFrame:
    """Trained char-trigram Naive Bayes language identifier, fit AND
    evaluated in-engine -> confusion matrix (true_lang, pred_lang,
    n_docs): train on the docs with doc_id % 5 != 0 (labels = the lang
    column), predict the held-out fifth, Laplace-smoothed multinomial
    scoring. The TRAINED counterpart of :func:`lang_id`'s fixed
    stopword heuristic — fastText-style langid as a pure DataFrame
    program (fit = one groupBy; predict = one broadcast join), the way
    a 100 TB corpus actually gets language labels.

    Engine parity for the log-likelihoods: every per-(trigram, lang)
    weight floor-quantizes log2((cnt+1) / (n_lang+V)) to integer 1e-8
    units BEFORE summation (the word_entropy idiom), so document scores
    are exact BIGINT sums and the argmax is deterministic on both
    engines; ties break to the lexicographically first language.
    Out-of-vocabulary trigram occurrences score the per-language
    Laplace default, counted as (T_doc - matched) in one subtraction —
    no dense OOV rows anywhere.

    Scale shape: the model is VOCAB-sized (bounded by charset^3 x
    n_langs, never corpus-sized), built dense over (trigram x language)
    so prediction needs no per-language outer join; it broadcasts onto
    one scan of the held-out docs' trigram counts. Two
    map-side-combining aggregates end-to-end; all JVM.
    """
    from .dedup import normalized_text, spread

    base = spread(docs).select(
        "doc_id", "lang", normalized_text().alias("t")
    ).filter(F.length("t") >= 3)
    tris = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 2),
                lambda i: F.col("t").substr(i, F.lit(3)),
            )
        ).alias("tri"),
    )
    is_test = F.col("doc_id") % 5 == 0
    train = tris.filter(~is_test)
    cnt = train.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("cnt"))
    nl = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    vt = train.select("tri").distinct()
    vsize = vt.agg(F.count(F.lit(1)).alias("v"))
    langs = nl.crossJoin(F.broadcast(vsize)).select(
        "lang",
        "n_l",
        "v",
        F.floor(-F.log2(F.col("n_l") + F.col("v")) * F.lit(1e8))
        .cast("long")
        .alias("lp0"),
    )
    model = (
        vt.crossJoin(F.broadcast(langs.select("lang", "n_l", "v")))
        .join(cnt, ["lang", "tri"], "left")
        .select(
            "tri",
            "lang",
            F.floor(
                F.log2(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1))
                    / (F.col("n_l") + F.col("v"))
                )
                * F.lit(1e8)
            )
            .cast("long")
            .alias("lp"),
        )
    )
    tc = (
        tris.filter(is_test)
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "tri")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    td = tc.groupBy("doc_id", "true_lang").agg(F.sum("c").alias("t_d"))
    matched = (
        tc.join(F.broadcast(model), "tri")
        .groupBy("doc_id", F.col("lang").alias("cand"))
        .agg(
            F.sum(F.col("c") * F.col("lp")).alias("s1"),
            F.sum("c").alias("m"),
        )
    )
    scored = (
        td.crossJoin(
            F.broadcast(langs.select(F.col("lang").alias("cand"), "lp0"))
        )
        .join(matched, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (
                F.coalesce(F.col("s1"), F.lit(0))
                + (F.col("t_d") - F.coalesce(F.col("m"), F.lit(0)))
                * F.col("lp0")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("cand")
    )
    pred = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        pred.groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def nb_langid_oracle_sql(norm_sql: str) -> str:
    """DuckDB replay of :func:`nb_langid_confusion` — identical split,
    smoothing, 1e-8 log2 quantization, and (score DESC, lang ASC)
    argmax."""
    return f"""
WITH nb_base AS (
  SELECT doc_id, lang, {norm_sql} AS t FROM documents
  WHERE length({norm_sql}) >= 3
),
nb_tris AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, length(t) - 2),
                i -> substring(t, i, 3))) AS tri
  FROM nb_base
),
nb_cnt AS (
  SELECT lang, tri, count(*)::BIGINT AS cnt FROM nb_tris
  WHERE doc_id % 5 != 0 GROUP BY 1, 2
),
nb_nl AS (
  SELECT lang, count(*)::BIGINT AS n_l FROM nb_tris
  WHERE doc_id % 5 != 0 GROUP BY 1
),
nb_vt AS (
  SELECT DISTINCT tri FROM nb_tris WHERE doc_id % 5 != 0
),
nb_v AS (SELECT count(*)::BIGINT AS v FROM nb_vt),
nb_langs AS (
  SELECT lang, n_l, v,
         floor(-log2((n_l + v)::DOUBLE) * 100000000.0)::BIGINT AS lp0
  FROM nb_nl, nb_v
),
nb_model AS (
  SELECT t.tri, l.lang,
         floor(log2((coalesce(c.cnt, 0) + 1)::DOUBLE
                    / (l.n_l + l.v)::DOUBLE) * 100000000.0)::BIGINT AS lp
  FROM nb_vt t CROSS JOIN nb_langs l
  LEFT JOIN nb_cnt c ON c.lang = l.lang AND c.tri = t.tri
),
nb_tc AS (
  SELECT doc_id, lang AS true_lang, tri, count(*)::BIGINT AS c
  FROM nb_tris WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3
),
nb_td AS (
  SELECT doc_id, true_lang, sum(c)::BIGINT AS t_d FROM nb_tc GROUP BY 1, 2
),
nb_matched AS (
  SELECT tc.doc_id, m.lang AS cand,
         sum(tc.c * m.lp)::BIGINT AS s1, sum(tc.c)::BIGINT AS m
  FROM nb_tc tc JOIN nb_model m ON m.tri = tc.tri
  GROUP BY 1, 2
),
nb_scored AS (
  SELECT d.doc_id, d.true_lang, l.lang AS cand,
         coalesce(mt.s1, 0)
           + (d.t_d - coalesce(mt.m, 0)) * l.lp0 AS score
  FROM nb_td d CROSS JOIN nb_langs l
  LEFT JOIN nb_matched mt ON mt.doc_id = d.doc_id AND mt.cand = l.lang
),
nb_pred AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
  FROM nb_scored
)
SELECT true_lang, cand AS pred_lang, count(*)::BIGINT AS n_docs
FROM nb_pred WHERE rn = 1 GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training
# ---------------------------------------------------------------------------

UNIGRAM_CAP = 10        # words truncated to this many chars on both engines
UNIGRAM_PIECE_LEN = 4   # max piece length in the seed vocabulary
UNIGRAM_MIN_COUNT = 2   # multi-char seed pieces below this are dropped
UNIGRAM_ITERS = 2       # Viterbi-EM refinement rounds
UNIGRAM_TOP_N = 30
_UQ_SCALE = 1e8         # 1e-8 log2 quantization units (the nb_langid idiom)


def _unigram_words(docs: DataFrame) -> DataFrame:
    """Corpus collapsed to its capped weighted vocabulary (w, f): the
    two-phase wordcount — every downstream stage touches DISTINCT capped
    words, never occurrences."""
    from .dedup import normalized_text, spread

    return (
        spread(docs)
        .select(F.explode(F.split(normalized_text(), " ")).alias("w0"))
        .filter(F.col("w0") != "")
        .select(F.substring("w0", 1, UNIGRAM_CAP).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def _unigram_quantize(counted: DataFrame) -> DataFrame:
    """(piece, cnt) -> (piece, cnt, logp_q): floor-quantized log2
    relative frequency in 1e-8 units, so Viterbi scores are exact BIGINT
    sums and the argmax is deterministic on both engines."""
    total = counted.agg(F.sum("cnt").alias("tot"))
    return counted.crossJoin(F.broadcast(total)).select(
        "piece",
        "cnt",
        F.floor(F.log2(F.col("cnt") / F.col("tot")) * F.lit(_UQ_SCALE))
        .cast("long")
        .alias("logp_q"),
    )


def _unigram_viterbi(words: DataFrame, pieces: DataFrame) -> DataFrame:
    """Viterbi segmentation of every distinct word under the current
    piece scores -> (w, f, seg): the candidate (position, length) grid
    explodes per word (<= CAP x PIECE_LEN cells), joins the broadcast
    piece table once, folds back to a per-word score map, and the DP
    itself runs as ONE in-row F.aggregate over positions — O(CAP x
    PIECE_LEN) per word, all JVM, no token self-joins (the bpe_encode
    fold idiom). Ties break by the lexicographically largest
    segmentation string: best[i] = max(struct(score, seg))."""
    n = F.length("w")
    entries = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(UNIGRAM_PIECE_LEN)),
                    lambda L: F.when(
                        i + L - F.lit(1) <= n,
                        F.struct(
                            (i * 16 + L).alias("k"),
                            F.col("w").substr(i, L).alias("p"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    cand = words.select("w", "f", F.explode(entries).alias("e")).select(
        "w", "f", F.col("e.k").alias("k"), F.col("e.p").alias("piece")
    )
    wmap = (
        cand.join(F.broadcast(pieces.select("piece", "logp_q")), "piece")
        .groupBy("w", "f")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("k", "logp_q"))
            ).alias("m")
        )
    )

    init = F.array(
        F.when(
            F.lit(True),
            F.struct(F.lit(0).cast("long").alias("q"), F.lit("").alias("seg")),
        )
    )

    def step(acc, i):
        cands = []
        for L in range(1, UNIGRAM_PIECE_LEN + 1):
            start = i - F.lit(L) + F.lit(1)
            prev = F.element_at(acc, start.cast("int"))
            pq = F.element_at(F.col("m"), start * 16 + F.lit(L))
            piece = F.col("w").substr(start, F.lit(L))
            cands.append(
                F.when(
                    (i >= F.lit(L)) & prev.isNotNull() & pq.isNotNull(),
                    F.struct(
                        (prev["q"] + pq).alias("q"),
                        F.concat(prev["seg"], F.lit(" "), piece).alias("seg"),
                    ),
                )
            )
        return F.concat(acc, F.array(F.greatest(*cands)))

    return wmap.select(
        "w",
        "f",
        F.trim(
            F.element_at(
                F.aggregate(F.sequence(F.lit(1), F.length("w")), init, step),
                (F.length("w") + 1).cast("int"),
            )["seg"]
        ).alias("seg"),
    )


def unigram_lm_train(
    docs: DataFrame,
    iters: int = UNIGRAM_ITERS,
    top_n: int = UNIGRAM_TOP_N,
) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece
    default), in-engine -> the learned piece table (piece, cnt, logp_q),
    top_n by final usage. Seed vocabulary = every <=PIECE_LEN-char
    substring of the capped word vocabulary, occurrence-weighted
    (single-char pieces always kept, so every word stays segmentable);
    then ``iters`` rounds of hard EM: Viterbi-segment every distinct
    word under the current quantized scores (E), recount piece usage
    word-frequency-weighted and re-quantize (M). Pieces that win no
    Viterbi path drop out — the vocabulary self-prunes exactly as
    SentencePiece's EM+prune loop does, with the integer-quantized
    log2 scoring making every round engine-exact.

    Scale shape: the corpus collapses to its DISTINCT capped words once
    up front; the piece table is charset^PIECE_LEN-bounded (never
    corpus-sized) and BROADCASTS onto one scan of the word-level
    candidate grid; the DP is one in-row fold. No stage touches
    occurrences after the first wordcount, so 100 TB costs one
    aggregate plus vocabulary-sized work per EM round.
    """
    words = fresh_checkpoint(_unigram_words(docs))
    seed_counts = (
        words.select(
            "f",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("w")),
                        lambda i: F.filter(
                            F.transform(
                                F.sequence(F.lit(1), F.lit(UNIGRAM_PIECE_LEN)),
                                lambda L: F.when(
                                    i + L - F.lit(1) <= F.length("w"),
                                    F.col("w").substr(i, L),
                                ),
                            ),
                            lambda x: x.isNotNull(),
                        ),
                    )
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("f").alias("cnt"))
        .filter(
            (F.length("piece") == 1)
            | (F.col("cnt") >= UNIGRAM_MIN_COUNT)
        )
    )
    pieces = fresh_checkpoint(_unigram_quantize(seed_counts))
    for _ in range(iters):
        seg = _unigram_viterbi(words, pieces)
        counted = (
            seg.select(F.explode(F.split("seg", " ")).alias("piece"), "f")
            .groupBy("piece")
            .agg(F.sum("f").alias("cnt"))
        )
        pieces = checkpoint_result(_unigram_quantize(counted), pieces)
    top = (
        pieces.orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(top_n)
        .select("piece", F.col("cnt").cast("long").alias("cnt"), "logp_q")
    )
    return checkpoint_result(top, words, pieces)


def unigram_lm_oracle_sql(
    norm_sql: str,
    iters: int = UNIGRAM_ITERS,
    top_n: int = UNIGRAM_TOP_N,
) -> str:
    """DuckDB replay of :func:`unigram_lm_train`: identical capped
    wordcount, substring seeding, 1e-8 log2 quantization, and per-EM-round
    Viterbi DP — the DP unrolled as UNIGRAM_CAP max-reduction rounds per
    iteration (the shortest_paths oracle idiom), tie-broken (q DESC,
    seg DESC) to mirror Spark's max(struct(q, seg))."""
    cap, plen = UNIGRAM_CAP, UNIGRAM_PIECE_LEN
    parts = [
        f"""u_words AS MATERIALIZED (
  SELECT substring(w0, 1, {cap}) AS w, count(*)::BIGINT AS f FROM (
    SELECT unnest(string_split({norm_sql}, ' ')) AS w0 FROM documents
  ) WHERE w0 <> '' GROUP BY 1
)""",
        f"""u_grid AS MATERIALIZED (
  SELECT w, f, i, L, substring(w, i, L) AS piece FROM (
    SELECT w, f, unnest(generate_series(1, length(w))) AS i FROM u_words
  ) CROSS JOIN (SELECT unnest([{", ".join(str(x) for x in range(1, plen + 1))}]) AS L) ls
  WHERE i + L - 1 <= length(w)
)""",
        f"""u_seed AS (
  SELECT piece, sum(f)::BIGINT AS cnt FROM u_grid GROUP BY piece
  HAVING length(piece) = 1 OR sum(f) >= {UNIGRAM_MIN_COUNT}
)""",
        """u_p0 AS MATERIALIZED (
  SELECT piece, cnt,
         floor(log2(cnt::DOUBLE / (SELECT sum(cnt) FROM u_seed)::DOUBLE)
               * 100000000.0)::BIGINT AS logp_q
  FROM u_seed
)""",
    ]
    for it in range(iters):
        p = f"u_p{it}"
        parts.append(
            f"""u_e{it} AS MATERIALIZED (
  SELECT g.w, g.i - 1 AS j, g.i + g.L - 1 AS pos, g.piece, p.logp_q
  FROM u_grid g JOIN {p} p USING (piece)
)"""
        )
        parts.append(
            f"u_d{it}_0 AS (SELECT w, 0 AS pos, 0::BIGINT AS q,"
            f" '' AS seg FROM u_words)"
        )
        for k in range(1, cap + 1):
            parts.append(
                f"""u_d{it}_{k} AS MATERIALIZED (
  SELECT w, pos, q, seg FROM (
    SELECT w, pos, q, seg, row_number() OVER (
      PARTITION BY w, pos ORDER BY q DESC, seg DESC) AS rn
    FROM (
      SELECT w, pos, q, seg FROM u_d{it}_{k - 1}
      UNION ALL
      SELECT d.w, e.pos, d.q + e.logp_q AS q,
             d.seg || ' ' || e.piece AS seg
      FROM u_d{it}_{k - 1} d JOIN u_e{it} e ON e.w = d.w AND e.j = d.pos
    )
  ) WHERE rn = 1
)"""
            )
        parts.append(
            f"""u_seg{it} AS MATERIALIZED (
  SELECT d.w, uw.f, trim(d.seg) AS seg
  FROM u_d{it}_{cap} d JOIN u_words uw USING (w)
  WHERE d.pos = length(d.w)
)"""
        )
        parts.append(
            f"""u_c{it} AS (
  SELECT piece, sum(f)::BIGINT AS cnt FROM (
    SELECT unnest(string_split(seg, ' ')) AS piece, f FROM u_seg{it}
  ) GROUP BY piece
)"""
        )
        parts.append(
            f"""u_p{it + 1} AS MATERIALIZED (
  SELECT piece, cnt,
         floor(log2(cnt::DOUBLE / (SELECT sum(cnt) FROM u_c{it})::DOUBLE)
               * 100000000.0)::BIGINT AS logp_q
  FROM u_c{it}
)"""
        )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT piece, cnt, logp_q FROM u_p{iters}
ORDER BY cnt DESC, piece ASC LIMIT {top_n}
"""
