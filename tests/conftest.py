"""Shared fixtures: one session-scoped SparkSession, DuckDB oracle helper."""

from __future__ import annotations

import os

import duckdb
import pytest

from australia_company_etl_pipeline_spark.operators import staging
from australia_company_etl_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("ace-spark-tests", shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "4g"})
    yield spark


@pytest.fixture(autouse=True)
def _staging_scope():
    """Each test runs in its own staging scope: every frame it (or a
    builder it calls) stages is unpersisted when the test ends, pass or
    fail."""
    with staging.scope():
        yield


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def normalize_cell(v):
    """Canonical form for value comparison (mirrors an order-insensitive
    hash: sort columns by name, stringify cells)."""
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def compare_frames(spark_df, duck_df) -> list[str]:
    """Compare a Spark result with a DuckDB (pandas) result the way the
    driver does: row count, sorted column names, order-insensitive values.
    Returns a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    sp = spark_df.toPandas()
    if sorted(sp.columns) != sorted(duck_df.columns):
        problems.append(
            f"schema: spark={sorted(sp.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if len(sp) != len(duck_df):
        problems.append(f"rowcount: spark={len(sp)} duck={len(duck_df)}")
    cols = sorted(sp.columns)
    def canon(df):
        rows = [tuple(normalize_cell(v) for v in row)
                for row in df[cols].itertuples(index=False, name=None)]
        return sorted(rows)
    s_rows, d_rows = canon(sp), canon(duck_df)
    if s_rows != d_rows:
        diff_s = [r for r in s_rows if r not in set(d_rows)][:5]
        diff_d = [r for r in d_rows if r not in set(s_rows)][:5]
        problems.append(f"values: spark-only={diff_s} duck-only={diff_d}")
    return problems
