"""Explicit skew handling: salted joins and two-phase aggregates.

The north rule demands partitioning/shuffle/skew handled explicitly. Most
of the engine gets skew-safety structurally — algebraic aggregates
(map-side partial combine IS the salting answer for count/min/sum) and
AQE skew-join splitting — but AQE only splits SORT-MERGE join partitions
at runtime; an iterative or pre-AQE context (or a deliberately
partitioned join whose partitioning must be preserved) sometimes needs
the classic manual construction. These utilities make it first-class:

* :func:`salted_join` — fact rows get a deterministic salt in [0, s);
  the (small-ish but not broadcastable) build side is exploded s-fold
  with every salt value; the join key becomes (key, salt), so a hub key's
  rows spread over s reducers instead of one straggler.
* :func:`two_phase_agg` — pre-aggregate on (key, salt), then finish on
  key: the first exchange carries at most s rows per hot key.

Both are result-identical to their naive forms (asserted in
tests/test_skew.py) and deterministic: the salt comes from xxhash64 of
the fact row's own columns, never from rand().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch import _hash60


def salted_join(
    fact: DataFrame,
    build: DataFrame,
    key: str,
    salt_from: list[str],
    s: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``fact`` (huge, skewed on ``key``) with ``build`` (too big to
    broadcast, small enough to explode s-fold) on ``key``.

    ``salt_from`` names fact columns whose hash spreads a hot key's rows
    across salts (use a unique row id; using ``key`` itself would put the
    whole hub back on one reducer). Result == fact.join(build, key, how)
    with the salt column dropped.

    ``how`` is restricted to the fact-preserving joins (inner, left,
    left_semi, left_anti, cross): the construction explodes every build
    row s-fold, so any join that must preserve UNMATCHED build rows
    (right/full outer) would emit each of them s times — parity with the
    naive join breaks silently. Those joins raise instead.
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti", "cross"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} is not fact-preserving — the s-fold "
            "exploded build side would duplicate unmatched build rows "
            "(use inner/left/left_semi/left_anti)"
        )
    salt: Column = F.pmod(F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(s))
    f = fact.withColumn("_salt", salt.cast("int"))
    b = build.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(s)]))
    )
    return f.join(b, [key, "_salt"], how).drop("_salt")


def two_phase_agg(
    df: DataFrame,
    key: str,
    salt_from: list[str],
    aggs: dict[str, str],
    s: int = 16,
) -> DataFrame:
    """Skew-proof groupBy(key) for ALGEBRAIC aggregates: sum/count/min/max
    run once per (key, salt) and once more per key. ``aggs`` maps output
    column -> 'fn(col)' with fn in {sum, count, min, max}.

    (Spark's own hash aggregate already partial-combines map-side, which
    covers most skew; the explicit form exists for when the first pass
    must ALSO bound reducer-side state, e.g. feeding an iterative loop
    that repartitions by key.)
    """
    fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    refin = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    parsed = {}
    for out, spec in aggs.items():
        fn, col = spec.rstrip(")").split("(")
        assert fn in fns, f"non-algebraic aggregate {fn}"
        parsed[out] = (fn, col)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(s))
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(*[fns[fn](col).alias(out) for out, (fn, col) in parsed.items()])
    )
    return phase1.groupBy(key).agg(
        *[refin[fn](out).alias(out) for out, (fn, _) in parsed.items()]
    )


def rendezvous_assign(
    keys: DataFrame, key_col: str, n_shards: int
) -> DataFrame:
    """Highest-random-weight (rendezvous) hashing (Thaler & Ravishankar
    1998) -> (key, shard): each key goes to the shard with the maximal
    md5(key, shard) weight. THE assignment scheme behind consistent
    partition placement: deterministic, coordination-free, and — unlike
    modulo hashing, which remaps (N-1)/N of all keys when a shard is
    added — moves only ~1/(N+1) of keys on a resize (every key's old
    winner stays unless the NEW shard out-weighs it). One in-row explode
    to n_shards weights + one max_by aggregate with map-side combine.
    """
    tagged = keys.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(*[F.lit(j) for j in range(n_shards)])
        ).alias("j"),
    ).select(
        "key",
        "j",
        _hash60(
            F.concat(
                F.col("key").cast("string"), F.lit(":"), F.col("j").cast("string")
            )
        ).alias("w"),
    )
    return tagged.groupBy("key").agg(
        F.max_by("j", "w").cast("int").alias("shard")
    )


def rendezvous_rebalance_report(
    keys: DataFrame, key_col: str, n_from: int, n_to: int
) -> DataFrame:
    """Shard histogram under ``n_from`` shards plus how many of each
    shard's keys MOVE when resizing to ``n_to`` -> (shard, n_keys,
    n_moved). The minimal-disruption invariant is the value check: with
    HRW every moved key must land on a NEW shard id (>= n_from) when
    growing — old shards never exchange keys among themselves — and the
    expected moved fraction is (n_to - n_from) / n_to.
    """
    a = rendezvous_assign(keys, key_col, n_from).withColumnRenamed(
        "shard", "shard_a"
    )
    b = rendezvous_assign(keys, key_col, n_to).withColumnRenamed(
        "shard", "shard_b"
    )
    return (
        a.join(b, "key")
        .groupBy(F.col("shard_a").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(
                F.when(F.col("shard_a") != F.col("shard_b"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_moved"),
        )
    )


def rendezvous_oracle_sql(
    keys_sql: str, key_col: str, n_from: int, n_to: int
) -> str:
    """DuckDB replay of :func:`rendezvous_rebalance_report` — identical
    md5 weights and arg_max winner rule."""

    def assign(n: int, alias: str) -> str:
        return f"""
{alias} AS (
  SELECT key, arg_max(j, w) AS shard FROM (
    SELECT k.key, t.j,
           ('0x' || substr(md5(k.key::VARCHAR || ':' || t.j::VARCHAR),
                           1, 15))::BIGINT AS w
    FROM (SELECT {key_col} AS key FROM ({keys_sql})) k,
         generate_series(0, {n - 1}) t(j)
  ) GROUP BY key
)"""

    return f"""
WITH {assign(n_from, "hrw_a")},
{assign(n_to, "hrw_b")}
SELECT a.shard::INT AS shard, count(*)::BIGINT AS n_keys,
       sum(CASE WHEN a.shard != b.shard THEN 1 ELSE 0 END)::BIGINT
         AS n_moved
FROM hrw_a a JOIN hrw_b b USING (key)
GROUP BY 1
"""
