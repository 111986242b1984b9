"""Truth discovery / fact fusion over multi-source triple claims.

When canonicalization merges mentions, the KG frequently ends up with
CONFLICTING objects for one (subject, predicate) slot — different sources
assert different values. The reference pipeline has no fusion stage at all
(it stores every embedded message verbatim —
/root/reference/internal/app/storages/qdrant/store.go:43-71 upserts
whatever arrives); a web-scale KG build needs one. This module implements
one voting round of TruthFinder-style fusion (Yin et al., KDD 2007,
simplified to a single source-accuracy re-weighting pass):

  1. unweighted vote: per (s, p, o) count the distinct sources asserting
     it; the round-1 winner per (s, p) is the modal object;
  2. source accuracy: each source is scored by the fraction of its claims
     that agree with a round-1 winner;
  3. weighted re-vote: claims are re-tallied with source-accuracy weights
     and the final winner per (s, p) re-selected.

Determinism across engines: accuracies are fixed-point MICRO units
(floor(matches * 1e6 / claims) as BIGINT), so the re-vote weight is an
integer SUM — associative and order-independent, immune to float
summation-order drift between Spark partitions and DuckDB's scan order.
Ties break on the lexicographically smallest object.

Scale shape (100 TB): three hash aggregations (claims on (s,p,o), sources
on source, re-vote on (s,p,o)) plus two windows partitioned by (s, p) —
per-partition state is the number of DISTINCT objects claimed for one
slot (bounded by source disagreement, never corpus size). The round-1
winner table is (s, p)-sized and broadcast back onto claims. No
cross-product anywhere; every shuffle key is a natural fact key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import checkpoint_result, fresh_checkpoint


def fuse_facts(claims: DataFrame) -> DataFrame:
    """(source, subj, pred, obj) claims -> one fused fact per (subj, pred).

    Output: (subj, pred, obj, n_sources, weight_micro, n_alternatives)
      obj            = the weighted-vote winner
      n_sources      = distinct sources asserting the winner
      weight_micro   = integer sum of supporter accuracies in 1e-6 units
      n_alternatives = how many distinct objects competed for the slot
    """
    # checkpoint: the distinct claim set feeds THREE consumers
    # (round-1 votes, the accuracy join, the weighted re-vote) — without
    # truncation each consumer re-runs the caller's upstream plan (the
    # full extract->link->canonicalize chain in the gate)
    c = fresh_checkpoint(claims.select("source", "subj", "pred", "obj").distinct())
    votes = c.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w1 = Window.partitionBy("subj", "pred").orderBy(
        F.col("votes").desc(), F.col("obj").asc()
    )
    winner1 = (
        votes.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select("subj", "pred", F.col("obj").alias("winner"))
    )
    # source accuracy in fixed-point micro units: floor(matches*1e6/total)
    # — ONE double division + floor (identical IEEE ops in the oracle),
    # then integer-only arithmetic from here on
    acc = (
        c.join(F.broadcast(winner1), ["subj", "pred"])
        .groupBy("source")
        .agg(
            F.floor(
                F.sum((F.col("obj") == F.col("winner")).cast("bigint"))
                * F.lit(1000000.0)
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("acc_micro")
        )
    )
    weighted = (
        c.join(F.broadcast(acc), "source")
        .groupBy("subj", "pred", "obj")
        .agg(
            F.sum("acc_micro").alias("weight_micro"),
            F.count(F.lit(1)).alias("n_sources"),
        )
    )
    w2 = Window.partitionBy("subj", "pred").orderBy(
        F.col("weight_micro").desc(), F.col("obj").asc()
    )
    alts = Window.partitionBy("subj", "pred")
    out = (
        weighted.withColumn("rk", F.row_number().over(w2))
        .withColumn("n_alternatives", F.count(F.lit(1)).over(alts))
        .filter(F.col("rk") == 1)
        .select(
            "subj",
            "pred",
            "obj",
            F.col("n_sources").cast("bigint").alias("n_sources"),
            F.col("weight_micro").cast("bigint").alias("weight_micro"),
            F.col("n_alternatives").cast("bigint").alias("n_alternatives"),
        )
    )
    return checkpoint_result(out, c)


def fuse_facts_oracle_sql(claims_sql: str) -> str:
    """DuckDB reconstruction of fuse_facts over the same claims set."""
    return f"""
WITH c AS MATERIALIZED (
  SELECT DISTINCT source, subj, pred, obj FROM ({claims_sql})
),
votes AS (
  SELECT subj, pred, obj, count(*) AS votes FROM c GROUP BY 1, 2, 3
),
w1 AS (
  SELECT subj, pred, obj AS winner FROM (
    SELECT subj, pred, obj,
           row_number() OVER (PARTITION BY subj, pred
                              ORDER BY votes DESC, obj ASC) AS rk
    FROM votes
  ) WHERE rk = 1
),
acc AS (
  SELECT c.source,
         floor(sum((c.obj = w1.winner)::INT) * 1000000.0 / count(*))::BIGINT
           AS acc_micro
  FROM c JOIN w1 USING (subj, pred)
  GROUP BY c.source
),
weighted AS (
  SELECT subj, pred, obj,
         sum(acc_micro)::BIGINT AS weight_micro,
         count(*)::BIGINT AS n_sources
  FROM c JOIN acc USING (source)
  GROUP BY 1, 2, 3
),
r AS (
  SELECT subj, pred, obj, n_sources, weight_micro,
         row_number() OVER (PARTITION BY subj, pred
                            ORDER BY weight_micro DESC, obj ASC) AS rk,
         count(*) OVER (PARTITION BY subj, pred) AS n_alternatives
  FROM weighted
)
SELECT subj, pred, obj, n_sources, weight_micro,
       n_alternatives::BIGINT AS n_alternatives
FROM r WHERE rk = 1
"""
