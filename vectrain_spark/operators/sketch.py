"""Mergeable cardinality sketches: KMV (k-minimum-values) distinct-count
estimation per group.

The reference has no aggregation surface at all (SURVEY §2.2) — this is
part of the training-data-pipeline surface a 100 TB corpus engine needs:
"how many distinct documents/urls/shingles per language" without paying an
exact global distinct. HyperLogLog (Spark's approx_count_distinct) is the
built-in answer but its register layout is engine-private and cannot be
reconstructed by an independent SQL oracle; KMV over a shared md5-derived
hash is equally mergeable, has a known estimator (Bar-Yossef et al. 2002:
distinct ~= (k-1) / R_k where R_k is the k-th smallest normalized hash),
and is bit-for-bit reproducible in DuckDB — so the gate can check the
sketch VALUE, not just row counts.

Scale design: the per-group k smallest hashes are selected with
row_number over (group ORDER BY hash) filtered to rn <= k — Spark >= 3.5
rewrites exactly this shape to a WindowGroupLimit, which keeps only k rows
per group per partition BEFORE the exchange (asserted in
tests/test_sketch.py), i.e. the shuffle carries O(k * groups * partitions)
rows, not the distinct set. The preceding distinct is one hash shuffle of
(group, 8-byte hash) pairs — the narrow representation of the input, never
the payload column itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K_DEFAULT = 16
_TWO60 = float(1 << 60)  # md5-prefix hash space: 15 hex chars = 60 bits


def _hash60(col: F.Column) -> F.Column:
    # identical on both engines: first 15 hex chars of md5 -> bigint, the
    # DuckDB ('0x' || substr(md5(x), 1, 15))::BIGINT; every md5-60 hash
    # in the package goes through here
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = K_DEFAULT
) -> DataFrame:
    """-> (group_col, n_hashes, kth_hash, est_distinct).

    For groups with fewer than k distinct values the sketch has seen
    everything and the estimate IS the exact count; otherwise
    est = floor((k-1) * 2^60 / kth_hash). floor (not round) so no
    half-way tie semantics can diverge between engines.
    """
    kn = float(k - 1) * _TWO60  # exactly representable for k <= ~2^12
    d = (
        df.select(F.col(group_col), _hash60(F.col(value_col)).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    kept = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return (
        kept.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_hashes"),
            F.max("h").alias("kth_hash"),
        )
        .select(
            group_col,
            "n_hashes",
            "kth_hash",
            F.when(F.col("n_hashes") < k, F.col("n_hashes"))
            .otherwise(F.floor(F.lit(kn) / F.col("kth_hash")))
            .cast("long")
            .alias("est_distinct"),
        )
    )


def kmv_oracle_sql(
    source_sql: str, group_col: str, value_col: str, k: int = K_DEFAULT
) -> str:
    """DuckDB reconstruction of :func:`kmv_distinct` over ``source_sql``
    (a SELECT producing at least group_col and value_col)."""
    kn = repr(float(k - 1) * _TWO60)
    return f"""
WITH d AS (
  SELECT DISTINCT {group_col},
         ('0x' || substr(md5({value_col}), 1, 15))::BIGINT AS h
  FROM ({source_sql})
),
r AS (
  SELECT {group_col}, h,
         row_number() OVER (PARTITION BY {group_col} ORDER BY h) AS rn
  FROM d
),
g AS (
  SELECT {group_col}, count(*)::BIGINT AS n_hashes, max(h) AS kth_hash
  FROM r WHERE rn <= {k} GROUP BY {group_col}
)
SELECT {group_col}, n_hashes, kth_hash,
       CASE WHEN n_hashes < {k} THEN n_hashes
            ELSE floor({kn} / kth_hash)::BIGINT END AS est_distinct
FROM g
"""


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable frequency estimation
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 16


def _cms_bucket(col: F.Column, j: int, width: int) -> F.Column:
    # row-j hash: md5 over a row-tagged key (0x1f separator cannot appear
    # in a word after whitespace normalization); identical in DuckDB
    h = _hash60(F.concat(F.lit(f"{j}\x1f"), col))
    return (h % width).cast("int")


def cms_sketch(
    df: DataFrame, value_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Count-Min sketch of a value stream -> (row, bucket, cnt).

    The frequency twin of the KMV cardinality sketch: depth x width
    counters, each occurrence incrementing one bucket per row. MERGEABLE —
    two corpora's sketches union+sum into the combined sketch — and
    bounded at depth*width rows regardless of input size, so shipping a
    10^13-token corpus's frequency summary costs a few KB.

    Scale shape: one narrow projection (value -> depth tagged buckets, an
    in-row transform fused with the scan) and ONE aggregate with map-side
    partial combine on a key space of at most depth*width — the shuffle
    carries O(partitions * depth * width) rows, never the corpus.
    """
    tagged = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_bucket(F.col(value_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb")
    ).select("rb.row", "rb.bucket")
    return tagged.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimates(
    df: DataFrame, value_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Point-query every distinct value against the corpus's own CMS ->
    (value_col, exact_cnt, cms_est, overcount).

    cms_est = min over rows of the value's bucket counter; the CMS
    guarantee cms_est >= exact always holds (gate-checked value-for-value
    — the width is deliberately small so collisions actually occur and
    the min-of-rows correction is exercised, not vacuous). The sketch
    side of the join is depth*width rows -> broadcast; the exact counts
    exist only to exhibit the sketch's error and would be dropped in a
    production point-query path.
    """
    sketch = cms_sketch(df, value_col, depth, width)
    exact = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.select(
        value_col,
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        _cms_bucket(F.col(value_col), j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(value_col, "exact_cnt", "rb.row", "rb.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(value_col, "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            value_col,
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


def cms_oracle_sql(
    source_sql: str, value_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    """DuckDB reconstruction of :func:`cms_estimates` over ``source_sql``."""
    return f"""
WITH src AS ({source_sql}),
h AS (
  SELECT {value_col}, j,
         (('0x' || substr(md5(j::VARCHAR || chr(31) || {value_col}), 1, 15))::BIGINT
          % {width})::INT AS bucket
  FROM src, generate_series(0, {depth - 1}) t(j)
),
sketch AS (SELECT j, bucket, count(*) AS cnt FROM h GROUP BY j, bucket),
exact AS (SELECT {value_col}, count(*)::BIGINT AS exact_cnt FROM src GROUP BY {value_col}),
probes AS (SELECT DISTINCT {value_col}, j, bucket FROM h),
est AS (
  SELECT p.{value_col}, min(s.cnt)::BIGINT AS cms_est
  FROM probes p JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
  GROUP BY p.{value_col}
)
SELECT e.{value_col}, e.exact_cnt, est.cms_est,
       (est.cms_est - e.exact_cnt)::BIGINT AS overcount
FROM exact e JOIN est ON est.{value_col} = e.{value_col}
"""


# ---------------------------------------------------------------------------
# HyperLogLog: register-exact cardinality sketch
# ---------------------------------------------------------------------------

HLL_P = 6  # 2^6 = 64 registers

# alpha_m * m^2 for m = 64 (Flajolet et al. 2007: alpha_64 = 0.709)
_HLL_ALPHA_M2 = 0.709 * 64 * 64
_TWO55 = float(1 << 55)


def hll_registers(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HyperLogLog registers -> (group, bucket, max_rank).

    Spark's own approx_count_distinct is HLL++ with an engine-private
    register layout no independent oracle can replay; this is the same
    algorithm over the shared md5-derived 60-bit hash: bucket = top
    HLL_P bits, rank = leading zeros of the remaining 54 bits + 1
    (computed as 55 - length(bin(rest)) — Spark and DuckDB print
    identical minimal binary strings, verified in the oracle contract).

    Scale shape: ONE two-phase aggregate with map-side combine on a key
    space of at most 64 * groups — the register table, not the corpus,
    crosses the wire, and register tables from disjoint corpora merge by
    GROUP BY bucket: max(max_rank) (the mergeability that makes HLL the
    planet-scale distinct-counter)."""
    h = _hash60(F.col(value_col))
    bucket = F.floor(h / F.lit(1 << 54)).cast("int")
    rest = h % F.lit(1 << 54)
    rank = (
        F.when(rest == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(rest)))
        .cast("int")
    )
    return (
        df.select(
            F.col(group_col), bucket.alias("bucket"), rank.alias("rank")
        )
        .groupBy(group_col, "bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """-> (group, n_registers, est_distinct) from :func:`hll_registers`.

    The harmonic mean runs in INTEGER space so both engines agree to the
    bit: S_int = sum(2^(55 - max_rank)) per group (64 terms <= 2^54 each
    — exact int64, order-free), then
    S = (64 - n_registers) + S_int / 2^55 and
    est = floor(alpha_64 * 64^2 / S) — two deterministic double ops, no
    order-dependent float summation anywhere. Raw HLL estimator only
    (the ln-based small-range correction is libm-dependent across
    engines and deliberately out of contract; with m = 64 the raw
    estimate is the documented ±13 % even at small n)."""
    regs = hll_registers(df, group_col, value_col)
    s_int = F.sum(
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.lit(55) - F.col("max_rank")
        )
    )
    return (
        regs.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_registers"),
            s_int.alias("s_int"),
        )
        .select(
            group_col,
            "n_registers",
            F.floor(
                F.lit(_HLL_ALPHA_M2)
                / (
                    (F.lit(64) - F.col("n_registers")).cast("double")
                    + F.col("s_int").cast("double") / F.lit(_TWO55)
                )
            )
            .cast("long")
            .alias("est_distinct"),
        )
    )


def hll_oracle_sql(source_sql: str, group_col: str, value_col: str) -> str:
    """DuckDB reconstruction of :func:`hll_distinct` over ``source_sql``."""
    return f"""
WITH src AS ({source_sql}),
h AS (
  SELECT {group_col},
         ('0x' || substr(md5({value_col}), 1, 15))::BIGINT AS hv
  FROM src
),
b AS (
  SELECT {group_col}, (hv // {1 << 54})::INT AS bucket,
         CASE WHEN hv % {1 << 54} = 0 THEN 55
              ELSE 55 - length(bin(hv % {1 << 54})) END AS rank
  FROM h
),
regs AS (
  SELECT {group_col}, bucket, max(rank) AS max_rank
  FROM b GROUP BY {group_col}, bucket
),
g AS (
  SELECT {group_col}, count(*)::BIGINT AS n_registers,
         sum(1::BIGINT << (55 - max_rank))::BIGINT AS s_int
  FROM regs GROUP BY {group_col}
)
SELECT {group_col}, n_registers,
       floor({_HLL_ALPHA_M2!r} /
             ((64 - n_registers)::DOUBLE + s_int::DOUBLE / {_TWO55!r}))::BIGINT
         AS est_distinct
FROM g
"""


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable fixed-bin quantile estimates per group ->
    (grp, q, n, est): the SCALE path for percentiles.

    Exact per-group percentiles (the ntile gate) need a per-group SORT —
    at 10^12 rows that is the dominant shuffle. The histogram sketch
    replaces it with TWO hash aggregations whose partial states merge
    associatively (a bin-count vector is a CRDT): pass 1 finds each
    group's [lo, hi] range, pass 2 counts ``n_bins`` equal-width bins,
    and the quantile is read off the cumulative bin distribution with
    linear interpolation inside the winning bin — error bounded by one
    bin width, independent of row count. This is how every streaming /
    pre-aggregated metrics store (e.g. Prometheus histogram_quantile)
    serves p99s; the same bin vectors also merge across waves of an
    incremental corpus without rescanning old rows.

    Determinism: bin assignment, the cumulative window (<= n_bins rows
    per group) and the interpolation are the same IEEE op sequence in
    Spark and DuckDB; estimates round to 6.
    """
    from pyspark.sql.window import Window as W

    v = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("x"),
    )
    bounds = v.groupBy("grp").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_bins))
    bin_ix = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("x") - F.col("lo")) / width).cast("int"),
        )
    )
    binned = (
        v.join(F.broadcast(bounds), "grp")
        .select("grp", bin_ix.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("grp").orderBy("bin")
    cum = binned.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    probes = cum.join(F.broadcast(bounds), "grp").select(
        "grp",
        "bin",
        "cnt",
        "cum",
        "cum_prev",
        "lo",
        "hi",
        "n",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    target = F.ceil(F.col("q") * F.col("n"))
    hit = probes.filter(F.col("cum") >= target)
    first = W.partitionBy("grp", "q").orderBy("bin")
    est = F.col("lo") + ((F.col("hi") - F.col("lo")) / F.lit(float(n_bins))) * (
        F.col("bin") + (target - F.col("cum_prev")) / F.col("cnt")
    )
    return (
        hit.withColumn("rk", F.row_number().over(first))
        .filter(F.col("rk") == 1)
        .select(
            "grp",
            "q",
            F.col("n").cast("bigint").alias("n"),
            F.round(est, 6).alias("est"),
        )
    )


def quantile_sketch_oracle_sql(
    source_sql: str,
    value_col: str,
    group_col: str,
    n_bins: int = 64,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB reconstruction of quantile_sketch (same binning, same
    interpolation arithmetic)."""
    q_values = ", ".join(f"({float(q)!r})" for q in qs)
    return f"""
WITH v AS (SELECT {group_col} AS grp, {value_col}::DOUBLE AS x
           FROM ({source_sql})),
bounds AS (
  SELECT grp, min(x) AS lo, max(x) AS hi, count(*) AS n FROM v GROUP BY grp
),
binned AS (
  SELECT v.grp,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE least({n_bins - 1},
                         floor((v.x - b.lo) / ((b.hi - b.lo) / {float(n_bins)!r}))::INT)
         END AS bin,
         count(*) AS cnt
  FROM v JOIN bounds b ON b.grp = v.grp
  GROUP BY 1, 2
),
cum AS (
  SELECT grp, bin, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) - cnt AS cum_prev
  FROM binned
),
probes AS (
  SELECT c.grp, c.bin, c.cnt, c.cum, c.cum_prev, b.lo, b.hi, b.n, qq.q
  FROM cum c JOIN bounds b ON b.grp = c.grp, (VALUES {q_values}) qq(q)
),
hit AS (
  SELECT *, row_number() OVER (PARTITION BY grp, q ORDER BY bin) AS rk
  FROM probes WHERE cum >= ceil(q * n)
)
SELECT grp, q, n::BIGINT AS n,
       round(lo + ((hi - lo) / {float(n_bins)!r})
             * (bin + (ceil(q * n) - cum_prev) / cnt), 6) AS est
FROM hit WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection / Jaccard between sketches
# ---------------------------------------------------------------------------

K_SETOPS = 256  # larger k than plain counting: intersection error ~ 1/sqrt(k)


def kmv_set_ops(
    df: DataFrame, set_col: str, value_col: str, k: int = K_SETOPS
) -> DataFrame:
    """Pairwise set-operation estimates from KMV sketches (Beyer et al.,
    SIGMOD 2007) -> (sa, sb, n_m, rho, est_union, est_inter, jaccard_est)
    for every pair of sets in ``set_col``.

    The merged sketch M = k smallest hashes of S_a ∪ S_b estimates the
    union like any KMV; rho = |{h ∈ M : h in BOTH sketches}| rescales it
    into an intersection estimate, and rho/|M| IS the Jaccard estimate.
    Everything is 60-bit md5-prefix integer math (the shared _hash60
    convention), so DuckDB reproduces every hash, rank, and floor.

    Scale shape: per-set sketches are two-phase aggregations whose state
    is k longs (mergeable across partitions/days by construction); the
    pairwise stage operates on #sets rows of k-long arrays — for the
    dashboard-sized set counts this serves (languages, sources, crawls),
    that table is broadcast-sized, while the raw sets it summarizes can
    be 100 TB. No value text ever shuffles; only hashes.
    """
    d = df.select(F.col(set_col).alias("sid"), _hash60(F.col(value_col)).alias("h")).distinct()
    w = Window.partitionBy("sid").orderBy("h")
    kept = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    sk = kept.groupBy("sid").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    a = sk.select(F.col("sid").alias("sa"), F.col("hs").alias("ha"))
    b = sk.select(F.col("sid").alias("sb"), F.col("hs").alias("hb"))
    pairs = a.crossJoin(b).filter(F.col("sa") < F.col("sb"))
    kn = float(k - 1) * _TWO60
    merged = F.slice(F.array_sort(F.array_distinct(F.concat("ha", "hb"))), 1, k)
    # build incrementally so each lambda can reference the merged array
    out = (
        pairs.withColumn("mg", merged)
        .withColumn(
            "rho",
            F.expr(
                "size(filter(mg, x -> array_contains(ha, x) AND array_contains(hb, x)))"
            ).cast("long"),
        )
        .withColumn("n_m", F.size("mg").cast("long"))
        .withColumn("tau", F.element_at("mg", -1))
        .withColumn(
            "est_union",
            F.when(F.col("n_m") < k, F.col("n_m"))
            .otherwise(F.floor(F.lit(kn) / F.col("tau")))
            .cast("long"),
        )
        .withColumn(
            "est_inter",
            F.floor(F.col("rho") * F.col("est_union") / F.col("n_m")).cast("long"),
        )
        .withColumn("jaccard_est", F.round(F.col("rho") / F.col("n_m"), 6))
    )
    return out.select(
        "sa", "sb", "n_m", "rho", "est_union", "est_inter", "jaccard_est"
    )


def kmv_set_ops_oracle_sql(
    source_sql: str, set_col: str, value_col: str, k: int = K_SETOPS
) -> str:
    """DuckDB reconstruction of :func:`kmv_set_ops`."""
    kn = repr(float(k - 1) * _TWO60)
    return f"""
WITH d AS (
  SELECT DISTINCT {set_col} AS sid,
         ('0x' || substr(md5({value_col}), 1, 15))::BIGINT AS h
  FROM ({source_sql})
),
r AS (
  SELECT sid, h, row_number() OVER (PARTITION BY sid ORDER BY h) AS rn FROM d
),
sk AS (
  SELECT sid, list(h ORDER BY h) AS hs FROM r WHERE rn <= {k} GROUP BY sid
),
p AS (
  SELECT a.sid AS sa, b.sid AS sb, a.hs AS ha, b.hs AS hb
  FROM sk a JOIN sk b ON a.sid < b.sid
),
m AS (
  SELECT sa, sb, ha, hb,
         list_sort(list_distinct(list_concat(ha, hb)))[1:{k}] AS mg
  FROM p
),
s AS (
  SELECT sa, sb,
         len(mg)::BIGINT AS n_m,
         len(list_filter(mg, x -> list_contains(ha, x)
                                  AND list_contains(hb, x)))::BIGINT AS rho,
         mg[len(mg)] AS tau
  FROM m
),
est AS (
  SELECT sa, sb, n_m, rho,
         CASE WHEN n_m < {k} THEN n_m
              ELSE floor({kn} / tau)::BIGINT END AS est_union
  FROM s
)
SELECT sa, sb, n_m, rho, est_union,
       floor(rho * est_union / n_m)::BIGINT AS est_inter,
       round(rho / n_m, 6) AS jaccard_est
FROM est
"""


AMS_COUNTERS = 8


def _ams_sign(col: F.Column, j: int) -> F.Column:
    # counter-j sign hash: md5 parity over a counter-tagged key -> ±1;
    # identical construction in DuckDB (same tag, same substring)
    h = _hash60(F.concat(F.lit(f"s{j}\x1f"), col.cast("string")))
    return (F.lit(1) - F.lit(2) * (h % 2)).cast("long")


def _ams_counters(
    df: DataFrame, col: str, out: str, counters: int
) -> DataFrame:
    """One AMS sketch pass: ``counters`` signed sums over the join-key
    occurrences of ``df[col]`` — one scan, one aggregate onto a key
    space of ``counters`` rows (shared by the exhibit gate and the
    planner-consult path)."""
    tagged = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _ams_sign(F.col(col), j).alias("s"),
                    )
                    for j in range(counters)
                ]
            )
        ).alias("x")
    ).select("x.j", "x.s")
    return tagged.groupBy("j").agg(F.sum("s").alias(out))


AMS_EST_GROUPS = 8
AMS_EST_GROUP_SIZE = 8


def ams_estimate(
    a: DataFrame,
    a_col: str,
    b: DataFrame,
    b_col: str,
    groups: int = AMS_EST_GROUPS,
    group_size: int = AMS_EST_GROUP_SIZE,
) -> tuple[int, int]:
    """Scalar AMS join-size estimate, MEDIAN-OF-MEANS form — the number a
    cost-based planner actually consults. A single tug-of-war product has
    sd ~ sqrt(F2(a) * F2(b)): at planner-relevant scales that is a small
    relative error, but a decision threshold needs the textbook variance
    reduction too — ``groups`` groups of ``group_size`` counters,
    AVERAGE within a group (sd shrinks by sqrt(group_size)), upper
    MEDIAN across groups (outlier-robust). Returns
    ``(median_group_sum, group_size)`` — the UNDIVIDED group sum plus
    its scale, so callers compare ``median_group_sum * k >= bound *
    group_size`` in exact integers (DuckDB ``//`` truncates toward zero
    while Python floors, so any division would diverge on negative
    estimates). Costs one scan + (groups*group_size)-row aggregate per
    side and ONE collect of that many rows (convergence-check-sized);
    per-shard counters are mergeable, so at 100 TB a catalog maintains
    them per wave and the consult is free."""
    counters = groups * group_size
    per = (
        _ams_counters(a, a_col, "c_a", counters)
        .join(_ams_counters(b, b_col, "c_b", counters), "j")
        .select("j", (F.col("c_a") * F.col("c_b")).alias("est"))
        .collect()
    )
    if len(per) != counters:
        # disjoint/empty sides produce no counter rows on one side
        return 0, group_size
    gsum: dict[int, int] = {}
    for r in per:
        g = r["j"] // group_size
        gsum[g] = gsum.get(g, 0) + int(r["est"])
    sums = sorted(gsum.values())
    return sums[groups // 2], group_size


def ams_join_size(
    a: DataFrame,
    a_col: str,
    b: DataFrame,
    b_col: str,
    counters: int = AMS_COUNTERS,
) -> DataFrame:
    """AMS tug-of-war join-size estimation (Alon, Matias & Szegedy 1996;
    Alon et al. 1999 for the join form) -> one row per counter
    (j, c_a, c_b, est, exact_join, median_est): counter j of a stream is
    the signed sum of seeded ±1 hashes over its join-key occurrences;
    E[c_a * c_b] = SUM_k f_a(k) * f_b(k) = the JOIN OUTPUT SIZE — the
    estimate a cost-based planner wants BEFORE committing to a join
    strategy (and with a == b it is the second frequency moment F2, the
    self-join size / skew measure). MERGEABLE: counters of two shards
    add. The gate value-checks every register, every per-counter
    product, the exact join size, and the median estimate.

    Engine parity: signs are md5-parity integers, counters and products
    are exact BIGINT, the median is the sorted-list upper median picked
    by index (no fractional midpoint). Scale shape: each sketch is one
    in-row explode to ``counters`` tagged signs fused with the scan plus
    ONE aggregate onto a key space of ``counters`` rows — the shuffle
    carries O(partitions * counters) rows; the exact join size exists
    only to exhibit the estimator's error and is computed as two keyed
    counts joined on the key (never the materialized join).
    """

    ska = _ams_counters(a, a_col, "c_a", counters)
    skb = _ams_counters(b, b_col, "c_b", counters)
    ca = a.groupBy(F.col(a_col).alias("k")).agg(F.count(F.lit(1)).alias("na"))
    cb = b.groupBy(F.col(b_col).alias("k")).agg(F.count(F.lit(1)).alias("nb"))
    exact = ca.join(cb, "k").agg(
        F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
        .cast("long")
        .alias("exact_join")  # disjoint key sets -> 0, never NULL
    )
    per = ska.join(skb, "j").select(
        "j", "c_a", "c_b", (F.col("c_a") * F.col("c_b")).alias("est")
    )
    med = per.agg(
        F.element_at(
            F.sort_array(F.collect_list("est")), counters // 2 + 1
        ).alias("median_est")
    )
    return (
        per.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(med))
        .select("j", "c_a", "c_b", "est", "exact_join", "median_est")
    )


def ams_oracle_sql(
    a_sql: str,
    a_col: str,
    b_sql: str,
    b_col: str,
    counters: int = AMS_COUNTERS,
) -> str:
    """DuckDB replay of :func:`ams_join_size` — identical sign hashes,
    counter sums, and index-picked upper median."""
    sign = (
        "(1 - 2 * ((('0x' || substr(md5('s' || j::VARCHAR || chr(31)"
        " || {col}::VARCHAR), 1, 15))::BIGINT) % 2))"
    )
    return f"""
WITH ams_a AS ({a_sql}),
ams_b AS ({b_sql}),
ams_ska AS (
  SELECT j, sum({sign.format(col=a_col)})::BIGINT AS c_a
  FROM ams_a, generate_series(0, {counters - 1}) t(j) GROUP BY j
),
ams_skb AS (
  SELECT j, sum({sign.format(col=b_col)})::BIGINT AS c_b
  FROM ams_b, generate_series(0, {counters - 1}) t(j) GROUP BY j
),
ams_exact AS (
  SELECT coalesce(sum(na * nb), 0)::BIGINT AS exact_join FROM
    (SELECT {a_col} AS k, count(*)::BIGINT AS na FROM ams_a GROUP BY 1) xa
    JOIN
    (SELECT {b_col} AS k, count(*)::BIGINT AS nb FROM ams_b GROUP BY 1) xb
    USING (k)
),
ams_per AS (
  SELECT a.j, a.c_a, b.c_b, (a.c_a * b.c_b)::BIGINT AS est
  FROM ams_ska a JOIN ams_skb b USING (j)
),
ams_med AS (
  SELECT list_sort(list(est))[{counters // 2 + 1}]::BIGINT AS median_est
  FROM ams_per
)
SELECT j::INT AS j, c_a, c_b, est, exact_join, median_est
FROM ams_per, ams_exact, ams_med
"""
