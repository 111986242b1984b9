"""The driver gate, as a pytest: every queries() entry matches its DuckDB
oracle at sf0.001 (row count + column names + order-insensitive values).
This is the same comparison tools/check_driver_queries.py runs standalone.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from vectrain_spark.driver_queries import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    # DuckDB's default limit is 80% of host memory; any oracle whose plan
    # explodes (say, a CTE read more than once but not MATERIALIZED, which
    # DuckDB inlines at every reference) would take that beside the test
    # JVM and bring on the OOM killer for the whole session. sf0.001
    # oracles need megabytes: past 4 GB a query fails with DuckDB's own
    # OutOfMemoryException instead.
    con.execute("SET memory_limit = '4GB'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        else:
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        assert len(got) > 0  # rows-only contract for approximate ops
        return
    want = duck.sql(ORACLES[name]).df()
    g, w = _normalize(got), _normalize(want)
    assert list(g.columns) == list(w.columns)
    assert len(g) == len(w), f"{len(g)} vs {len(w)} rows"
    pd.testing.assert_frame_equal(g, w, check_dtype=False)
