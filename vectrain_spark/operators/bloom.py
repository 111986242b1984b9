"""Bloom-filter runtime join pruning: drop probe-side rows that cannot
match BEFORE the shuffle join pays to move them.

The 100 TB story: a fact-to-dim join where the dim side is selective
(filtered to thousands of keys) but the fact side is the corpus. A plain
shuffle join moves every fact row; a broadcast join needs the dim side
small enough to ship raw. The Bloom filter is the third point in that
design space — compress the dim keys into a few KB of bits, evaluate the
membership test INSIDE the fact scan (pure JVM expressions fused into
whole-stage codegen, filter runs before the exchange), and let only the
candidate rows reach the shuffle. Spark's own runtime row-group filters
(spark.sql.optimizer.runtime.bloomFilter.enabled) do this transparently
for some shapes; this operator is the explicit, engine-independent form
with a deterministic md5 hash family, so the gate can verify the
no-false-negative contract end-to-end: the pruned join's RESULT equals
the plain join's, value for value (the DuckDB oracle is the plain join).

Scale design:
* Build side: one two-phase aggregate over the dim keys — each key sets
  ``k`` bits; bits are grouped into 64-bit words with a map-side-combined
  ``bit_or``, so the shuffle carries at most ``m/64`` rows per partition.
* The finished filter (``m/64`` longs — KBs even for m = 2^20) is pulled
  to the driver and embedded as a LITERAL array column in the probe-side
  filter expression. That collect is control-plane, same class as
  broadcast-join hash-table shipping: it moves the *summary*, never data
  rows, and its size is fixed by ``m`` regardless of corpus size.
* Probe side: k array lookups + bit tests per row, all
  ``pyspark.sql.functions`` — no UDF, no shuffle, runs inside the scan
  stage; the subsequent exact join only sees survivors.

False positives only cost wasted shuffle rows (the exact join removes
them); false negatives are impossible, which is what the value-exact gate
checks.

Reference analogy: vectrain filters per-point by payload key before
upserting to Qdrant (internal/app/processors/embedder.go routes on
payload); this is the set-membership analogue for relational pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch import _hash60

M_BITS_DEFAULT = 4096  # 64 words of 64 bits
K_HASHES_DEFAULT = 3


def _positions(col: Column, m_bits: int, k: int) -> list[Column]:
    """k deterministic bit positions for a key — md5 over a hash-index-
    tagged key (same 60-bit-prefix trick as the KMV/CMS sketches, so an
    independent engine can reproduce every position)."""
    out = []
    for j in range(k):
        h = _hash60(F.concat(F.lit(f"{j}\x1f"), col.cast("string")))
        out.append((h % m_bits).cast("int"))
    return out


def bloom_build(
    dim: DataFrame, key: str, m_bits: int = M_BITS_DEFAULT, k: int = K_HASHES_DEFAULT
) -> list[int]:
    """Aggregate the dim side's keys into a Bloom bitmap -> list of
    ``m_bits / 64`` Python ints (the driver-side literal for
    :func:`bloom_filter_col`). Distributed: per-partition partial
    ``bit_or`` combine, then a words-sized exchange."""
    n_words = m_bits // 64
    pos = F.explode(F.array(*_positions(F.col(key), m_bits, k))).alias("pos")
    words = (
        dim.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            # F.call_function: the SQL shiftleft takes a column shift
            # amount; the PySpark wrapper F.shiftleft only accepts an int
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.col("pos") % 64
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * n_words
    for row in words:
        bitmap[row["word"]] = row["bits"]
    return bitmap


def bloom_filter_col(
    key: Column, bitmap: list[int], m_bits: int = M_BITS_DEFAULT,
    k: int = K_HASHES_DEFAULT,
) -> Column:
    """Boolean membership-test column: True iff every one of the key's k
    bits is set in ``bitmap``. Pure built-in expressions (array literal +
    bit tests) — stays inside whole-stage codegen on the scan."""
    words = F.array(*[F.lit(w).cast("long") for w in bitmap])
    cond = F.lit(True)
    for p in _positions(key, m_bits, k):
        word = F.element_at(words, (p / 64).cast("int") + 1)
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), p % 64)
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    m_bits: int = M_BITS_DEFAULT,
    k: int = K_HASHES_DEFAULT,
) -> DataFrame:
    """Inner-join fact to dim on ``key``, Bloom-pruning the fact side
    before the shuffle. Result is EXACTLY ``fact.join(dim, key)`` — the
    filter admits false positives (removed by the join) and can never
    drop a matching row."""
    bitmap = bloom_build(dim, key, m_bits, k)
    pruned = fact.filter(bloom_filter_col(F.col(key), bitmap, m_bits, k))
    return pruned.join(dim, key)
