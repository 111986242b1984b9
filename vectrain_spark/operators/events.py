"""Event-stream operators over the driver `events` table: a generic
distributed AS-OF join and JSON property extraction.

The as-of join is the canonical operator Spark lacks natively (joins each
left row to the latest right row at-or-before its timestamp — attribution,
slowly-changing dimensions, market data). The naive formulation is a range
join (quadratic blow-up per key); the scale-correct distributed shape used
here is union + keyed window:

    union(left tagged 1, right tagged 0)
      -> ONE shuffle: partitionBy(key), in-partition sort by (ts, tag)
      -> last(right attrs, ignorenulls) over rows unbounded-preceding
      -> keep left rows

Cost is a single exchange + sort, identical to a self-join aggregate —
no candidate explosion regardless of how many right rows precede a left
row. Hot keys are bounded by per-key row counts (the same skew profile as
any keyed window; salt the key and merge per-salt tails if one key exceeds
a partition).

Reference analog: none — the reference has no joins at all (SURVEY.md
§2.2); this extends the engine's relational surface over the event stream
the way Qdrant payload filtering would be used downstream of vectrain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint_result, fresh_checkpoint


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """For every left row, attach the right row with the greatest ``ts``
    at-or-before the left row's ``ts`` for the same ``key`` (inclusive:
    equal timestamps match). Right rows must be unique per (key, ts) for a
    deterministic result — the standard as-of precondition.

    ``right`` must carry ``key`` and ``ts`` plus any attribute columns to
    attach; attribute names must not collide with left's columns. Left
    rows with no prior right row keep nulls (left-outer semantics).
    """
    carry = [c for c in right.columns if c not in (key, ts)]
    # the carried attributes travel as ONE struct that is non-null exactly
    # on right rows: last(_r, ignorenulls) then picks the matched right row
    # WHOLESALE. Per-column last() would skip a NULL attribute on the
    # matched row and stitch in a stale value from an older right row.
    r_struct = F.struct(*carry).alias("_r")
    null_struct = F.lit(None).cast(
        "struct<" + ", ".join(
            f"{c}: {right.schema[c].dataType.simpleString()}" for c in carry
        ) + ">"
    ).alias("_r")
    lt = left.select("*", F.lit(1).alias("_side"), null_struct)
    rt = right.select(
        *[
            F.col(c) if c in (key, ts) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        F.lit(0).alias("_side"),
        r_struct,
    )
    # right rows sort BEFORE left rows at equal ts (0 < 1) -> inclusive match
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = lt.unionByName(rt).select(
        *left.columns,
        "_side",
        F.last("_r", ignorenulls=True).over(w).alias("_r"),
    )
    return matched.filter(F.col("_side") == 1).select(
        *left.columns, *[F.col(f"_r.{c}").alias(c) for c in carry]
    )


def sessionize(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Gap-based batch sessionization: per user, a new session starts at
    the first event and whenever the inactivity gap exceeds ``gap_sec``.
    The batch twin of streaming.session_windows — backfill jobs sessionize
    historical corpora with this exact query shape.

    -> (user_id, sess_seq, n_events, start_us, duration_us, total_value)

    Scale design: ONE hash exchange on user_id serves both windows (lag
    flag + running session index) AND the final per-session aggregate —
    Catalyst reuses the partitioning, so a 10^10-event backfill pays a
    single shuffle. Per-user state in the window is O(1) (lag + running
    sum), never a buffered session. Timestamps flow as unix microseconds
    (exact integers end-to-end); money sums in DECIMAL(18,2), cast to
    double only at the edge.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    new_sess = F.when(
        prev_us.isNull() | (us - prev_us > gap_sec * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = events.withColumn("_new", new_sess).withColumn(
        "sess_seq",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sess.groupBy("user_id", "sess_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
    )


def extract_event_props(events: DataFrame, fields: dict[str, str]) -> DataFrame:
    """Promote JSON ``props`` keys to typed columns:
    ``fields`` maps json key -> spark type. The JSON-column cousin of the
    payload-coercion operator (operators/payload.py) — late-bound schema
    promotion, all JVM (`get_json_object`)."""
    return events.select(
        "*",
        *[
            F.get_json_object("props", f"$.{k}").cast(t).alias(f"prop_{k}")
            for k, t in fields.items()
        ],
    )


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    bucket_sec: int = 86_400,
) -> DataFrame:
    """Join each event to every interval of the same ``key`` that contains
    its timestamp (inclusive bounds) — campaign attribution, maintenance
    windows, exposure periods. Spark has no native range join; the naive
    `ON e.ts BETWEEN i.start AND i.end` is a per-key cross product.

    Scale shape — time bucketing: each interval explodes to the
    ``bucket_sec`` buckets it overlaps (fanout bounded by interval length
    / bucket width, a constant for bounded windows), each event maps to
    exactly ONE bucket, and the join runs as an equi-join on
    (key, bucket) followed by the exact containment filter. An event's
    single bucket meets at most one exploded copy of an interval, so no
    dedup pass is needed. The shuffle key gains time locality —
    per-entity hot keys spread across their active days instead of one
    reducer. This is the standard distributed interval-join plan (the
    same bucketing Spark's own OSS range-join hints implement).
    """
    w_us = F.lit(bucket_sec * 1_000_000)
    ev = events.withColumn("_b", F.floor(F.unix_micros(F.col(ts)) / w_us))
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start)) / w_us),
                F.floor(F.unix_micros(F.col(end)) / w_us),
            )
        ),
    )
    return (
        ev.join(iv, [key, "_b"])
        .filter((F.col(ts) >= F.col(start)) & (F.col(ts) <= F.col(end)))
        .drop("_b")
    )


def sequence_patterns(
    events: DataFrame,
    symbols: dict[str, str],
    patterns: dict[str, str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """Adjacent-sequence pattern mining (the MATCH_RECOGNIZE shape):
    map each event type to a one-character symbol, concatenate every
    user's events in time order into a symbol string, and count
    NON-OVERLAPPING adjacent occurrences of each literal pattern ->
    (pattern, n_users, n_matches). Complements the funnel operator
    (eventually-followed semantics) with strictly-adjacent semantics —
    'viewed then immediately purchased', 'two views back to back'.

    Determinism / parity: the per-user string is built by array_sort
    over (order_cols..., symbol) structs — a total order when the
    second order col is unique — so both engines agree byte-for-byte;
    occurrence counting is (len(s) - len(replace(s, p, ''))) / len(p),
    the same left-to-right non-overlapping semantics in Spark and SQL.

    Scale shape: one user-keyed exchange builds all sequences
    (map-side-combined collect_list); the pattern stage is a tiny
    broadcast cross of |patterns| literals; counting is pure JVM string
    arithmetic. Per-user state is that user's event count — the
    standard sessionized-clickstream assumption (cap upstream if a bot
    user can emit unbounded events).
    """
    sym = None
    for t, c in symbols.items():
        cond = F.when(F.col(type_col) == t, F.lit(c))
        sym = cond if sym is None else sym.when(F.col(type_col) == t, F.lit(c))
    o1, o2 = order_cols
    seq = (
        events.withColumn("_sym", sym)
        .filter(F.col("_sym").isNotNull())
        .groupBy(user_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(o1), F.col(o2), "_sym"))
                    ),
                    lambda x: x["_sym"],
                ),
            ).alias("_s")
        )
    )
    pats = events.sparkSession.createDataFrame(
        [(name, lit) for name, lit in patterns.items()], "pattern: string, lit: string"
    )
    cnt = (
        (F.length("_s") - F.length(F.replace(F.col("_s"), F.col("lit"))))
        / F.length("lit")
    ).cast("long")
    return (
        seq.crossJoin(F.broadcast(pats))
        .select("pattern", cnt.alias("cnt"))
        .groupBy("pattern")
        .agg(
            F.sum((F.col("cnt") > 0).cast("long")).alias("n_users"),
            F.sum("cnt").alias("n_matches"),
        )
    )


def sequence_patterns_oracle_sql(
    symbols: dict[str, str], patterns: dict[str, str]
) -> str:
    """DuckDB mirror of :func:`sequence_patterns` over the ``events``
    view (same symbol mapping, same ordered string_agg, same
    replace-based non-overlapping counts)."""
    case = " ".join(
        f"WHEN '{t}' THEN '{c}'" for t, c in symbols.items()
    )
    types = ", ".join(f"'{t}'" for t in symbols)
    vals = ", ".join(f"('{n}', '{p}')" for n, p in patterns.items())
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id,
         CASE event_type {case} END AS sym
  FROM events WHERE event_type IN ({types})
),
seq AS (
  SELECT user_id, string_agg(sym, '' ORDER BY ts, event_id) AS s
  FROM ev GROUP BY user_id
),
pat(pattern, lit) AS (VALUES {vals}),
m AS (
  SELECT p.pattern,
         ((length(s.s) - length(replace(s.s, p.lit, ''))) / length(p.lit))::BIGINT AS cnt
  FROM seq s CROSS JOIN pat p
)
SELECT pattern, sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END)::BIGINT AS n_users,
       sum(cnt)::BIGINT AS n_matches
FROM m GROUP BY pattern
"""


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition statistics over per-user event
    streams -> (prev_type, next_type, cnt, prob).

    Each user's events are ordered by (ts, event_id) — event_id breaks
    timestamp ties deterministically — and adjacent pairs are counted
    globally; prob is the row-normalized conditional p(next | prev),
    rounded to 6. The behavioral-model complement of
    :func:`sequence_patterns` (which counts literal multi-step motifs):
    this is the full one-step transition matrix a session simulator or
    anomaly scorer consumes.

    Scale shape: ONE user-keyed exchange for the lag window (users are
    numerous, so the window partitions evenly — no partition-less
    window), then a map-side-combining (prev, next) rollup whose
    cardinality is |event_types|^2 — tiny. The per-prev normalizer is a
    broadcast join of an equally tiny aggregate.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("prev_type"), "next_type")
    )
    cnt = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = cnt.groupBy("prev_type").agg(F.sum("cnt").alias("tot"))
    return (
        cnt.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("tot"), 6).alias("prob"),
        )
    )


def transition_matrix_oracle_sql(events_table: str = "events") -> str:
    return f"""
WITH pairs AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM {events_table}
),
cnt AS (
  SELECT prev_type, next_type, count(*) AS cnt FROM pairs
  WHERE next_type IS NOT NULL GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, cnt::BIGINT AS cnt,
       round(cnt / sum(cnt) OVER (PARTITION BY prev_type), 6) AS prob
FROM cnt
"""


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """CUSUM change-point detection over each event type's daily count
    series -> (event_type, n_days, total_events, cp_day, cusum_peak):
    the day at which the cumulative deviation from the series mean peaks
    — the classic Page (1954) statistic for "did this stream's rate
    shift, and when?", the monitoring primitive a crawl/ingest pipeline
    runs over its own lineage counters (a topic's volume falling off a
    cliff mid-crawl is a change point, not an outlier day — z-score
    gates like events_anomaly can't see slow drifts that never leave
    1.5 sigma).

    Engine parity without transcendentals: with n days and S total
    events, the mean-deviation of day d is x_d - S/n; scaling by n makes
    it the INTEGER n*x_d - S, so the running statistic
    C_d = sum_{i<=d} (n*x_i - S) is exact BIGINT arithmetic in both
    engines (C_d = n * classicCUSUM_d; the argmax is invariant under
    the positive scaling). Peak = max |C_d|, earliest day on ties.

    The day series is DENSIFIED over the stream's global [min_day,
    max_day] span before anything else: a type that stops emitting
    entirely — the cleanest possible cliff — contributes x=0 rows for
    its silent days instead of silently vanishing from its own series
    (with only observed days, a 100/day -> total-stop type would show
    n*x-S = 0 everywhere and no change point at all).

    Scale shape: one groupBy to days (map-side combine collapses the
    raw stream), one calendar explode bounded by span-days x types
    (series-sized, never event-sized), one broadcast of the per-type
    totals (type cardinality is schema-sized), one window partitioned
    by event_type over DAYS, one per-type argmax via max(struct). No
    partition-less window, no driver state.
    """
    observed = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    span = observed.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = (
        observed.select("event_type").distinct()
        .crossJoin(F.broadcast(calendar))
        .join(observed, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("x", F.lit(0)).alias("x")
        )
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.sum(F.col("n") * F.col("x") - F.col("s")).over(w)
    scored = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            "s",
            F.abs(c).alias("abs_c"),
            F.datediff(F.col("day"), F.lit("1970-01-01")).alias("dnum"),
        )
    )
    best = scored.groupBy("event_type").agg(
        F.max(F.struct(F.col("abs_c"), (-F.col("dnum")).alias("nd"))).alias(
            "b"
        ),
        F.first("n").alias("n_days"),
        F.first("s").alias("total_events"),
    )
    return best.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("total_events").cast("long").alias("total_events"),
        F.date_add(F.lit("1970-01-01"), -F.col("b.nd")).cast("string").alias(
            "cp_day"
        ),
        F.col("b.abs_c").cast("long").alias("cusum_peak"),
    )


def cusum_oracle_sql(events_table: str = "events") -> str:
    """DuckDB replay of :func:`cusum_changepoints` — identical integer
    scaling (n*x - S) and (|C| DESC, day ASC) argmax."""
    return f"""
WITH cus_obs AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
  FROM {events_table} GROUP BY 1, 2
),
cus_cal AS (
  SELECT unnest(generate_series(min(day), max(day),
                INTERVAL 1 DAY))::DATE AS day
  FROM cus_obs
),
cus_daily AS (
  SELECT t.event_type, c.day, coalesce(o.x, 0)::BIGINT AS x
  FROM (SELECT DISTINCT event_type FROM cus_obs) t
  CROSS JOIN cus_cal c
  LEFT JOIN cus_obs o ON o.event_type = t.event_type AND o.day = c.day
),
cus_tot AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS s
  FROM cus_daily GROUP BY 1
),
cus_c AS (
  SELECT d.event_type, d.day, t.n, t.s,
         abs(sum(t.n * d.x - t.s) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS UNBOUNDED PRECEDING))::BIGINT AS abs_c
  FROM cus_daily d JOIN cus_tot t USING (event_type)
),
cus_r AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY abs_c DESC, day ASC) AS rn
  FROM cus_c
)
SELECT event_type, n AS n_days, s AS total_events,
       day::VARCHAR AS cp_day, abs_c AS cusum_peak
FROM cus_r WHERE rn = 1
"""


MARKOV_STEPS = 12


def attribution_removal_effect(
    events: DataFrame, steps: int = MARKOV_STEPS
) -> DataFrame:
    """Markov-chain attribution with removal effects (Anderl et al.
    2016 — the data-driven alternative to last-touch): per-user event
    journeys (truncated at the first purchase, which absorbs into
    'conv'; journeys that end otherwise absorb into 'null') build a
    first-order transition matrix; each channel's credit is how much
    the start->conv absorption probability DROPS when that channel's
    inbound edges are redirected to 'null' ->
    (channel, p_conv_removed, p_conv_full, removal_effect).

    Determinism: transition probabilities round to 6 dp, the absorption
    vector iterates ``steps`` times with per-step 1e-8 rounding (the
    pagerank idiom — both engines iterate the same doubles), and the
    final effect rounds to 6 dp. Absorbing states carry explicit
    p=1 self-loops so mass persists across steps.

    Scale shape: journey construction is one user-keyed window pass
    over the raw events; everything after runs on the TYPE-level
    matrix, which is schema-sized (states x states x channels rows) —
    the removal variants ride a single 'removed' key column through the
    iteration, so all channels propagate in the same `steps` keyed
    joins instead of one rerun per channel.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("prior_conv"),
    ).filter(F.col("prior_conv") == 0)
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = flagged.select(
        "user_id",
        "state",
        F.coalesce(F.lag("state").over(w2), F.lit("start")).alias("prev"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
        ).alias("rn_last"),
    )
    steps_t = seq.select(F.col("prev").alias("src"), F.col("state").alias("dst"))
    terminal = seq.filter(
        (F.col("rn_last") == 1) & (F.col("state") != "conv")
    ).select(F.col("state").alias("src"), F.lit("null").alias("dst"))
    trans = steps_t.unionAll(terminal)
    cnt = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("src").agg(F.sum("c").alias("t"))
    matrix = cnt.join(tot, "src").select(
        "src", "dst", F.round(F.col("c") / F.col("t"), 6).alias("p")
    )
    loops = matrix.sparkSession.createDataFrame(
        [("conv", "conv", 1.0), ("null", "null", 1.0)],
        "src string, dst string, p double",
    )
    matrix = matrix.unionByName(loops)
    channels = (
        trans.select(F.col("dst").alias("channel"))
        .filter(~F.col("channel").isin("conv", "null"))
        .distinct()
    )
    variants = channels.unionAll(
        channels.sparkSession.createDataFrame(
            [("__none__",)], "channel string"
        )
    ).withColumnRenamed("channel", "removed")
    edges = (
        variants.crossJoin(matrix)
        .filter(F.col("src") != F.col("removed"))
        .select(
            "removed",
            "src",
            F.when(F.col("dst") == F.col("removed"), "null")
            .otherwise(F.col("dst"))
            .alias("dst"),
            "p",
        )
    )
    edges_r = fresh_checkpoint(
        edges.select(
            F.col("removed").alias("e_removed"),
            F.col("src").alias("e_src"),
            "dst",
            "p",
        )
    )
    v = variants.select(
        "removed", F.lit("start").alias("state"), F.lit(1.0).alias("v")
    )
    for _ in range(steps):
        nxt = (
            v.join(
                edges_r,
                (F.col("removed") == F.col("e_removed"))
                & (F.col("state") == F.col("e_src")),
            )
            .groupBy("e_removed", "dst")
            .agg(F.round(F.sum(F.col("v") * F.col("p")), 8).alias("v"))
            .select(
                F.col("e_removed").alias("removed"),
                F.col("dst").alias("state"),
                "v",
            )
        )
        v = checkpoint_result(nxt, v)
    # LEFT join from the variant list: a channel whose removal zeroes
    # conversion has NO conv row in v — it must surface as p_conv=0,
    # removal_effect=1 (the single most important channel), not vanish
    pconv = variants.join(
        v.filter(F.col("state") == "conv").select(
            "removed", F.col("v").alias("p_conv")
        ),
        "removed",
        "left",
    ).select("removed", F.coalesce("p_conv", F.lit(0.0)).alias("p_conv"))
    full = pconv.filter(F.col("removed") == "__none__").select(
        F.col("p_conv").alias("p_full")
    )
    out = (
        pconv.filter(F.col("removed") != "__none__")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("removed").alias("channel"),
            F.col("p_conv").alias("p_conv_removed"),
            F.col("p_full").alias("p_conv_full"),
            # p_full = 0 (no conversions at all, or start->conv mass that
            # rounds to 0 within the step budget): removal effect is
            # undefined — report NULL explicitly on BOTH engines rather
            # than inherit divide-by-zero semantics that differ between
            # Spark (NULL) and DuckDB (error/inf)
            F.when(
                F.col("p_full") != 0.0,
                F.round(F.lit(1.0) - F.col("p_conv") / F.col("p_full"), 6),
            ).alias("removal_effect"),
        )
    )
    return checkpoint_result(out, edges_r, v)


def attribution_oracle_sql(
    events_table: str = "events", steps: int = MARKOV_STEPS
) -> str:
    """Unrolled DuckDB replay of :func:`attribution_removal_effect` —
    identical journey truncation, matrix rounding, step count and
    per-step rounding."""
    parts = [
        f"""att_fl AS MATERIALIZED (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'conv'
              ELSE event_type END AS state,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prior_conv
  FROM {events_table}
)""",
        """att_seq AS MATERIALIZED (
  SELECT user_id, state,
         coalesce(lag(state) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id), 'start') AS prev,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM att_fl WHERE prior_conv = 0
)""",
        """att_tr AS MATERIALIZED (
  SELECT prev AS src, state AS dst FROM att_seq
  UNION ALL
  SELECT state, 'null' FROM att_seq WHERE rn_last = 1 AND state != 'conv'
)""",
        """att_m AS MATERIALIZED (
  SELECT src, dst, round(c * 1.0 / t, 6) AS p FROM
    (SELECT src, dst, count(*)::BIGINT AS c FROM att_tr GROUP BY 1, 2) x
    JOIN (SELECT src, count(*)::BIGINT AS t FROM att_tr GROUP BY 1) y
    USING (src)
  UNION ALL SELECT 'conv', 'conv', 1.0
  UNION ALL SELECT 'null', 'null', 1.0
)""",
        """att_ch AS (
  SELECT DISTINCT dst AS removed FROM att_tr
  WHERE dst NOT IN ('conv', 'null')
  UNION ALL SELECT '__none__'
)""",
        """att_e AS MATERIALIZED (
  SELECT ch.removed, m.src,
         CASE WHEN m.dst = ch.removed THEN 'null' ELSE m.dst END AS dst,
         m.p
  FROM att_ch ch CROSS JOIN att_m m
  WHERE m.src != ch.removed
)""",
        "att_v0 AS (SELECT removed, 'start' AS state, 1.0::DOUBLE AS v"
        " FROM att_ch)",
    ]
    for i in range(1, steps + 1):
        parts.append(
            f"""att_v{i} AS MATERIALIZED (
  SELECT e.removed, e.dst AS state, round(sum(v.v * e.p), 8) AS v
  FROM att_v{i - 1} v
  JOIN att_e e ON e.removed = v.removed AND e.src = v.state
  GROUP BY 1, 2
)"""
        )
    body = ",\n".join(parts)
    return f"""WITH {body},
att_pc AS (
  SELECT ch.removed, coalesce(x.v, 0.0) AS p_conv
  FROM att_ch ch LEFT JOIN (
    SELECT removed, v FROM att_v{steps} WHERE state = 'conv'
  ) x ON x.removed = ch.removed
),
att_full AS (SELECT p_conv AS p_full FROM att_pc WHERE removed = '__none__')
SELECT removed AS channel, p_conv AS p_conv_removed, p_full AS p_conv_full,
       CASE WHEN p_full = 0 THEN NULL
            ELSE round(1.0 - p_conv / p_full, 6) END AS removal_effect
FROM att_pc, att_full WHERE removed != '__none__'
"""
