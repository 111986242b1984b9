"""Correctness checks run after the timed window of every benchmark run.

Each check returns ``(name, ok, detail)``; a failed check counts as a
failed operation in the run's ``fail_ratio``. For ``build`` the reference
is the single-process pandas oracle (``vectrain_spark.oracle``), which
shares the scalar rules with the engine but links by brute-force cosine;
for ``queries`` it is each query's SQL oracle run on DuckDB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vectrain_spark.catalog import Catalog
from vectrain_spark.oracle import oracle_extract, oracle_pipeline, oracle_triples, prf

MIN_PR = 0.95

Check = tuple[str, bool, str]


def expected_triples(pages_pdf: pd.DataFrame) -> int:
    """Triples the oracle extracts from the whole corpus. Every mention is
    linked (exact, LSH or a fallback id), so the pipeline must commit
    exactly this many."""
    return len(oracle_triples(oracle_extract(pages_pdf)))


def counts_check(ops: list[dict], expected_total: int) -> Check:
    """Every run committed the expected triple count and the same
    canonical count."""
    totals = {op["triples"] for op in ops}
    canon = {op["canonical_triples"] for op in ops}
    ok = totals == {expected_total} and len(canon) == 1
    return "counts", ok, f"total={sorted(totals)} expected={expected_total} canonical={sorted(canon)}"


def sample_check(
    spark,
    pages_pdf: pd.DataFrame,
    aliases_pdf: pd.DataFrame,
    out_root: str,
    seed: int,
    n_sample: int,
) -> list[Check]:
    """Byte-identical extracted text and linked-triple P/R >= MIN_PR against
    the oracle, on a seeded sample of pages of the committed warehouse."""
    rng = np.random.default_rng(seed)
    urls = sorted(pages_pdf["url"])
    sample = sorted(rng.choice(urls, size=min(n_sample, len(urls)), replace=False))
    sample_pages = pages_pdf[pages_pdf["url"].isin(sample)]
    gold = oracle_pipeline(sample_pages, aliases_pdf)

    cat = Catalog(out_root)
    in_sample = F.col("url").isin(sample)
    got_ext = (
        cat.read(spark, "extracted").filter(in_sample).select("url", "text", "error").toPandas()
    )
    merged = gold["extracted"].merge(got_ext, on="url", how="outer", suffixes=("_o", "_s"))
    same = (
        merged["text_o"].fillna("\0none").eq(merged["text_s"].fillna("\0none"))
        & merged["error_o"].fillna("").eq(merged["error_s"].fillna(""))
    )
    text_ok = len(merged) == len(sample) and bool(same.all())

    cols = ["url", "sent_idx", "subj", "pred", "obj", "subj_id", "obj_id"]
    got_tri = cat.read(spark, "triples").filter(in_sample).select(*cols).toPandas()
    want = set(gold["linked"][cols].itertuples(index=False, name=None))
    have = set(got_tri[cols].itertuples(index=False, name=None))
    p, r = prf(have, want) if want else (1.0, 1.0)
    return [
        ("extract_text", text_ok, f"{int(same.sum())}/{len(sample)} pages identical"),
        ("link_pr", p >= MIN_PR and r >= MIN_PR, f"precision={p:.4f} recall={r:.4f}"),
    ]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form of a result: sorted columns and rows, floats
    rounded to 9 places (the gate's comparison)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def _same(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    g, w = _normalize(got), _normalize(want)
    if list(g.columns) != list(w.columns):
        return False, f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return False, f"rows {len(g)} vs {len(w)}"
    return bool(g.equals(w)), f"{len(g)} rows"


def query_checks(sf_dir: str, ops: list[dict], query_set, expect_offset: int = 0) -> list[Check]:
    """Every query of the last pass, and the shared edge table, equal the
    query's ``driver_queries.ORACLES`` SQL run on DuckDB over the same
    files; every pass returned the same results; the edge table holds the
    oracle's triple count."""
    import duckdb

    from vectrain_spark.driver_queries import ORACLES

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    last = ops[-1]
    out: list[Check] = []
    want_edges = con.sql(ORACLES["kg_edges"]).df()
    ok, detail = _same(last["edges"], want_edges)
    out.append(("edges_cache", ok, detail))
    want_triples = int(want_edges["cnt"].sum()) + expect_offset
    out.append(("counts", last["triples"] == want_triples,
                f"triples={last['triples']} expected={want_triples}"))
    for q in query_set:
        ok, detail = _same(last["results"][q], con.sql(ORACLES[q]).df())
        out.append((q, ok, detail))
    stable = all(
        _same(op["results"][q], last["results"][q])[0] for op in ops[:-1] for q in query_set
    )
    out.append(("passes_agree", stable, f"{len(ops)} passes"))
    con.close()
    return out
