"""X2/X3/X4 — boilerplate strip, quarantine gate, triple extraction.

Spark-first layout: ONE narrow ``mapInArrow`` pass (Arrow-batched, no
per-row Python at the plan level) extracts the text and, on request, the
triples of that same text as a nested ``triples`` column; the explode to
one row per triple is a JVM ``inline``. Catalyst pipelines scan -> extract
-> explode inside ONE task with no shuffle, and every page crosses the
Python boundary exactly once. The scalar rules live in textops.py and are
shared verbatim with the oracle — that is what makes the byte-identity
invariant hold by construction.

Round-6 boundary optimization (guide §4.2): the pass consumes raw Arrow
record batches instead of pandas frames — pass-through columns (url,
warc_ts, lang, part_id) are re-emitted as the INPUT arrays, zero-copy, so
the only bytes that ever cross into Python objects are the html column in
(and text/error/triples out). The pandas round-trip previously converted every
column both ways per batch; measured ~20% off the whole extract stage at
bench scale.

Reference analog: the fan-out embed map at
/root/reference/internal/app/pipeline/pipeline.go:242-273 (N goroutines,
one synchronous RPC per row). Here parallelism is partitions x cores and
the per-row RPC is replaced by in-executor vectorized compute; row-level
error tagging (pipeline.go:259-264) becomes an ``error`` column, but unlike
the reference (which upserts broken rows with nil vectors,
/root/reference/internal/app/storages/qdrant/store.go:25-38) bad rows are
split into a quarantine table and never reach the sink.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textops import extract_text, extract_triples

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, error string, "
    "part_id int, html_bytes long, wall_share double"
)

# nested per-page triples, emitted by the fused pass (extract_pages(triples=True))
TRIPLES_COLUMN = "triples array<struct<sent_idx:int,subj:string,pred:string,obj:string>>"
_TRIPLE_FIELDS = ("sent_idx", "subj", "pred", "obj")


def _triples_array(texts: list[str | None]) -> pa.ListArray:
    """``textops.extract_triples`` of each text as one list<struct> array
    (empty list for a null text, i.e. an error row)."""
    offsets = [0]
    flat: list = []
    for text in texts:
        flat.extend(extract_triples(text))
        offsets.append(len(flat))
    values = pa.StructArray.from_arrays(
        [pa.array([t.sent_idx for t in flat], pa.int32())]
        + [pa.array([getattr(t, f) for t in flat], pa.string()) for f in _TRIPLE_FIELDS[1:]],
        names=list(_TRIPLE_FIELDS),
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)


def _extract_batches(
    batches: Iterator[pa.RecordBatch], triples: bool = False
) -> Iterator[pa.RecordBatch]:
    for rb in batches:
        t0 = time.time()
        idx = {name: i for i, name in enumerate(rb.schema.names)}
        texts: list[str | None] = []
        errs: list[str | None] = []
        nbytes: list[int] = []
        for html in rb.column(idx["html"]).to_pylist():
            text, err = extract_text(html)
            texts.append(text)
            errs.append(err)
            nbytes.append(0 if html is None else len(html))
        extra = [_triples_array(texts)] if triples else []
        wall = time.time() - t0
        n = max(rb.num_rows, 1)
        yield pa.record_batch(
            [
                rb.column(idx["url"]),
                rb.column(idx["warc_ts"]),
                rb.column(idx["lang"]),
                pa.array(texts, pa.string()),
                pa.array(errs, pa.string()),
                rb.column(idx["part_id"]),
                pa.array(nbytes, pa.int64()),
                # per-row share of batch wall time: summing over a partition's
                # rows reconstructs the partition's exact extract wall time (Z2)
                pa.array([wall / n] * rb.num_rows, pa.float64()),
                *extra,
            ],
            names=[
                "url",
                "warc_ts",
                "lang",
                "text",
                "error",
                "part_id",
                "html_bytes",
                "wall_share",
                *(["triples"] if triples else []),
            ],
        )


def _extract_batches_with_triples(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    return _extract_batches(batches, triples=True)


def extract_pages(pages: DataFrame, triples: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, lang, ...) -> one row per page with
    extracted ``text`` or non-null ``error``.

    ``triples=True`` adds the nested ``triples`` column (see
    :data:`TRIPLES_COLUMN`): ``textops.extract_triples`` of the text the
    same Arrow pass just extracted, empty for error rows. Only callers that
    go on to :func:`extract_triples_df` should ask for it — it roughly
    doubles the pass's CPU.

    ``part_id``/``wall_share`` feed the per-partition lineage rows (Z2).
    Column pruning: only (url, warc_ts, html, lang) are read — the parquet
    scan never materializes other columns.
    """
    src = pages.select("url", "warc_ts", "html", "lang").withColumn(
        "part_id", F.spark_partition_id()
    )
    if triples:
        return src.mapInArrow(
            _extract_batches_with_triples, schema=f"{EXTRACT_SCHEMA}, {TRIPLES_COLUMN}"
        )
    return src.mapInArrow(_extract_batches, schema=EXTRACT_SCHEMA)


def split_quarantine(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine).  Quarantine keeps the error code (X3)."""
    good = extracted.filter(F.col("error").isNull())
    quarantine = extracted.filter(F.col("error").isNotNull()).select(
        "url", "warc_ts", "lang", "error"
    )
    return good, quarantine


def extract_triples_df(good: DataFrame) -> DataFrame:
    """Output of ``extract_pages(..., triples=True)`` ->
    (url, sent_idx, subj, pred, obj, part_id), one row per triple.

    A JVM ``inline`` of the nested column: no second Python pass and no
    shuffle, so the stage stays fused with extraction. part_id is carried
    through for lineage (Z2).
    """
    if "triples" not in good.columns:
        raise ValueError("extract_triples_df needs extract_pages(..., triples=True)")
    return good.select("url", "part_id", F.inline("triples")).select(
        "url", *_TRIPLE_FIELDS, "part_id"
    )
