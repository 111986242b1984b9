"""File-format ingestion: JSON-lines wire format in and out.

The reference's only wire format is JSON — Kafka messages and HTTP bodies
are unmarshalled straight into its Entity record
(/root/reference/internal/app/sources/kafka/fetch_messages.go:33-35,
internal/app/sources/http/client.go:79-87). The Spark-native analog of
that ingestion edge is a JSONL scan with an EXPLICIT schema (schema
inference is a full extra pass at 100 TB and non-deterministic under
drift), plus a JSONL sink for interchange with line-oriented tooling.

Fidelity matters more than parsing: a corpus document can contain
newlines, quotes, backslashes, and non-ASCII — all of which must survive
writer-escape -> reader-unescape byte-identically. The gate query proves
it end-to-end: documents -> write JSONL -> read JSONL (explicit schema)
-> per-group aggregate including a 60-bit text checksum folded with
bit_xor, compared against DuckDB aggregating the ORIGINAL parquet — any
single corrupted byte in any row flips the checksum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sketch import _hash60

DOCS_JSONL_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def write_jsonl(df: DataFrame, path: str, n_files: int = 4) -> None:
    """Stage a DataFrame as JSON-lines (one object per line, UTF-8).

    ``n_files`` bounds the file count for small corpora; a real corpus
    export would instead target a per-file size via the writer's
    maxRecordsPerFile option.
    """
    df.coalesce(n_files).write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONL scan with a declared schema — no inference pass; malformed
    lines surface as nulls under the default PERMISSIVE mode (pair with a
    validation gate downstream, mirroring the pipeline's quarantine)."""
    return spark.read.schema(schema).json(path)


def jsonl_roundtrip_stats(
    spark: SparkSession, docs: DataFrame, stage_dir: str
) -> DataFrame:
    """documents -> JSONL -> back -> per-lang (n_docs, total_chars,
    text_xor), where text_xor is the bit_xor fold of a 60-bit md5-derived
    hash of every text — a value-level round-trip fidelity check."""
    write_jsonl(
        docs.select("doc_id", "text", "lang", "source", "n_chars"), stage_dir
    )
    back = read_jsonl(spark, stage_dir, DOCS_JSONL_SCHEMA)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.bit_xor(_hash60(F.col("text"))).alias("text_xor"),
    )


def write_csv(df: DataFrame, path: str, n_files: int = 4) -> None:
    """RFC-4180 CSV stage: quote char doubled as the escape (escape='"')
    rather than Spark's default backslash escaping — the doubled-quote
    dialect is what external CSV tooling reads back unambiguously, and it
    round-trips embedded quotes/backslashes/newlines (tested on hostile
    strings in tests/test_sketch_ingest.py)."""
    (
        df.coalesce(n_files)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        # the WRITER trims whitespace by default (these default true on
        # write, false on read) — disable for byte fidelity
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV scan, declared schema, multiLine for quoted embedded newlines
    (multiLine disables input-split parallelism per file — the writer side
    keeps files small/multiple so readers still fan out)."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        # fidelity over convenience: the reader's defaults silently strip
        # leading/trailing whitespace inside quoted fields
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        # default nullValue is "" which silently turns empty strings into
        # nulls; an out-of-band sentinel keeps "" round-tripping (a corpus
        # with REAL nulls would set the writer's nullValue to the same
        # sentinel)
        .option("nullValue", "\x01")
        .csv(path)
    )


def csv_roundtrip_stats(
    spark: SparkSession, docs: DataFrame, stage_dir: str
) -> DataFrame:
    """documents -> CSV -> back -> same per-lang checksum aggregate as the
    JSONL round-trip (shared oracle)."""
    write_csv(
        docs.select("doc_id", "text", "lang", "source", "n_chars"), stage_dir
    )
    back = read_csv(spark, stage_dir, DOCS_JSONL_SCHEMA)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.bit_xor(_hash60(F.col("text"))).alias("text_xor"),
    )


JSONL_STATS_ORACLE_SQL = """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS text_xor
FROM documents
GROUP BY lang
"""
