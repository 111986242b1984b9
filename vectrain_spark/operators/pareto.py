"""Skyline (Pareto-front) queries — Börzsönyi, Kossmann & Stocker,
ICDE 2001.

A row is in the 2-D skyline of (minimize ``min_col``, maximize
``max_col``) when NO other row is at least as good on both dimensions
and strictly better on one. The classic "cheap AND big" shortlist
query — the dominance semantics no plain ORDER BY / GROUP BY composes.

The reference has no relational layer at all (its only "query" is the
vector-index delegation at /root/reference/internal/app/storages/qdrant/
client.go:37), so this is pure new surface on the OLAP axis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import checkpoint_result, fresh_checkpoint, release


def skyline_2d(df: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """Exact 2-D skyline via the sorted SWEEP, distributed two-phase:
    a row is dominated iff (a) some strictly-cheaper price group reaches
    a >= ``max_col``, or (b) its own price group's max strictly beats it.

    Plan shape (the reason this beats the textbook nested loop): the
    dominance test collapses to per-price-group running maxima, so
    phase 1 is one groupBy(``min_col``) aggregate (map-side combining),
    and phase 2 is the house two-phase prefix pattern —
    repartitionByRange over the PRICE-GROUP table, per-partition running
    max inside each range, partition-level maxima (<= P rows) prefix-
    combined on the driver and broadcast back. No partition-less window,
    no O(n^2) dominance join; the corpus-sized table is touched by one
    aggregate and one final broadcast-join filter. (The naive
    BroadcastNestedLoopJoin skyline is the O(n^2) anchor the oracle
    uses — NOT EXISTS dominance — which is fine for DuckDB at gate
    scale and wrong at 10^12 rows.)
    """
    spark = df.sparkSession
    groups = df.groupBy(min_col).agg(F.max(max_col).alias("_gmax"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = (
        groups.repartitionByRange(n_part, F.col(min_col))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        pmax = sorted(
            parted.groupBy("_pid").agg(F.max("_gmax").alias("m")).collect(),
            key=lambda r: r["_pid"],
        )
        offs, run = [], None
        for r in pmax:
            # max over all PRECEDING ranges (float: the broadcast schema
            # is double regardless of the input column's numeric type)
            offs.append((r["_pid"], None if run is None else float(run)))
            run = r["m"] if run is None or r["m"] > run else run
        off = F.broadcast(
            spark.createDataFrame(
                offs or [(0, None)], "_pid int, _premax double"
            )
        )
        w = (
            Window.partitionBy("_pid")
            .orderBy(min_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prefix = fresh_checkpoint(
            parted.join(off, "_pid")
            .withColumn(
                "_strict_max",
                F.greatest(F.max("_gmax").over(w), F.col("_premax")),
            )
            .select(min_col, "_gmax", "_strict_max")
        )
    finally:
        release(parted)
    dominated = F.coalesce(
        F.col("_strict_max") >= F.col(max_col), F.lit(False)
    ) | (F.col("_gmax") > F.col(max_col))
    out = df.join(prefix, min_col).filter(~dominated).select(*df.columns)
    return checkpoint_result(out, prefix)


def skyline_2d_oracle_sql(
    rows_sql: str, min_col: str, max_col: str, cols: str
) -> str:
    """DuckDB oracle for :func:`skyline_2d`: the textbook NOT EXISTS
    dominance test (quadratic, exact — the semantics anchor)."""
    return f"""
WITH sky_rows AS MATERIALIZED ({rows_sql})
SELECT {cols} FROM sky_rows p
WHERE NOT EXISTS (
  SELECT 1 FROM sky_rows q
  WHERE q.{min_col} <= p.{min_col} AND q.{max_col} >= p.{max_col}
    AND (q.{min_col} < p.{min_col} OR q.{max_col} > p.{max_col})
)
"""
