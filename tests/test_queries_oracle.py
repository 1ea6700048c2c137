"""Local mirror of the driver's correctness gate: run every ``queries()``
entry at sf0.01 on Spark and its ``oracle_sql()`` twin on DuckDB, compare
row count, column names, and order-insensitive values."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from distributed_web_scrapper_and_crawler_c__spark.operators import dedup as DD

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s) or str(s.dtype) == "object" and len(s) and isinstance(s.iloc[0], int):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
SQL_CHECKED = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(spark, ddb, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = ddb.execute(ORACLES[name]).df()

    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"

    g, w = normalize(got), normalize(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            assert np.allclose(
                g[c].astype(float), w[c].astype(float), atol=1e-6, equal_nan=True
            ), f"{name}.{c}: float mismatch\n{g[c].head()}\n{w[c].head()}"
        else:
            eq = (g[c].astype(str) == w[c].astype(str))
            assert eq.all(), (
                f"{name}.{c}: value mismatch at rows "
                f"{list(g.index[~eq])[:5]}:\n"
                f"spark={g[c][~eq].head()}\noracle={w[c][~eq].head()}"
            )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"rating", "n_books", "avg_price"} <= set(df.columns)


def test_near_dup_pipeline_threshold_zero_matches_oracle(spark, ddb):
    """At threshold 0 every LSH candidate pair is an edge. The oracle's
    shared-shingle self-join never pairs disjoint documents, so this holds
    only while no candidate pair is disjoint (equal band values imply a
    shared minimizing shingle)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = normalize(DD.near_dup_pipeline(docs, threshold=0).toPandas())
    want = normalize(ddb.execute(DD.near_dup_pipeline_sql(0)).df())
    assert len(got) == len(want)
    assert (got[["doc_a", "doc_b"]].values == want[["doc_a", "doc_b"]].values).all()
    assert np.allclose(got["jaccard"], want["jaccard"], atol=1e-6)
