"""Table catalog over the test parquet datasets.

The engine's "schema catalog" (SURVEY.md §1.1) exposed as plain parquet
scans — filters/column pruning push down into the scan, which the reference
never got because all its data entered via driver-side ``createDataFrame``
(``/root/reference/src/pipeline.py:388-413``, the 50 MB-task defect).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# Parquet METADATA cache (r11, guide §1.2/§6): schema inference is a
# driver-side footer read per spark.read.parquet() call — ~50-150 ms
# each, and the bench pays it once per table/artifact reference per
# repetition (a builder re-reads its inputs every run). A real engine
# amortizes this through its catalog/metastore; this dict is that
# metastore for the path-addressed tables here. It caches the INFERRED
# SCHEMA ONLY — never rows, never results — keyed by (path, size,
# mtime_ns) so any rewrite/regen of the underlying files (including the
# atomic-rename index swaps, which land a fresh directory) invalidates
# the entry. Non-local paths (no os.stat) skip the cache and infer as
# before.
# ---------------------------------------------------------------------------
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def _stat_key(path: str) -> tuple[str, int, int] | None:
    p = path[len("file:"):] if path.startswith("file:") else path
    try:
        st = os.stat(p)
    except OSError:
        return None
    return (path, st.st_size, st.st_mtime_ns)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the schema served from the metadata
    cache when the path has been read before (and its files are
    unchanged) — skips the per-call footer-inference round.  Use for
    every repeated artifact/table read; semantics are identical to the
    plain read (the cached schema IS the inferred schema)."""
    key = _stat_key(path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# One-row parameter tables (index meta/ blocks: dims, seeds, hash
# params). Reading one costs a scan job + a collect per reference; the
# values are immutable for a given generation of the artifact (the
# build swaps a whole new directory in), so the collected ROWS are
# cached under the same (path, size, mtime_ns) key. This caches index
# PARAMETERS — the same class of metadata as the schema cache above —
# never corpus rows and never query results.
_ROWS_CACHE: dict[tuple[str, int, int], list] = {}

# Hard bound on what counts as a "parameter table" (r12, closing the
# r11 verdict's item 7: the contract was docstring-only, and one misuse
# pins a corpus in driver memory). The largest table read through here
# is a PQ codebook, m·n_codes rows: 65536 rows covers 8-bit codes
# (n_codes=256) at up to 256 subspaces, and stays far below any corpus.
# Enforced through a LIMIT read, so an oversized table fails after
# transferring at most bound+1 rows — never after collecting the whole
# corpus into the driver first.
META_ROWS_MAX = 65536


def read_meta_rows(spark: SparkSession, path: str) -> list:
    """Collect a SMALL parquet parameter table (an index ``meta/``
    block), cached by file identity. Only for bounded parameter tables
    (≤ ``META_ROWS_MAX`` rows, enforced) — a corpus read through this
    would pin corpus rows in driver memory, so it raises instead."""
    key = _stat_key(path)
    if key is not None and key in _ROWS_CACHE:
        return _ROWS_CACHE[key]
    rows = read_parquet(spark, path).limit(META_ROWS_MAX + 1).collect()
    if len(rows) > META_ROWS_MAX:
        raise ValueError(
            f"read_meta_rows({path!r}): more than {META_ROWS_MAX} rows — "
            "this helper is for bounded index-parameter tables only; "
            "read corpus-sized data with read_parquet and keep it "
            "distributed")
    if key is not None:
        _ROWS_CACHE[key] = rows
    return rows

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Timestamp-bearing columns per table. Testdata generations have shipped
# timestamps as TIMESTAMP(MICROS), TIMESTAMP(NANOS) (which Spark rejects
# by default), and NTZ variants — normalize every one of them to the
# session-zone timestamp the operators expect, whatever physical type
# the current generation uses.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one catalog table. Pure parquet scan — Catalyst handles
    predicate pushdown / column pruning / partition sizing."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    ts_cols = _TS_COLS.get(name, ())
    if ts_cols:
        # NANOS would otherwise fail the read outright; as long + rebuild
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if ts_cols:
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        for c in ts_cols:
            t = df.schema[c].dataType
            if isinstance(t, LongType):  # NANOS read as epoch-nano longs
                # integer div, NOT (col/1000).cast: double division loses
                # exactness above 2^53 — epoch-nanos are ~2^60, so the
                # rounded quotient can land a whole-second boundary on
                # x.999999s and shift every floor(epoch) comparison
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
            elif isinstance(t, TimestampNTZType):
                # session tz is pinned UTC, so NTZ→LTZ keeps wall-clock
                # values; downstream (windows, epoch casts) expects LTZ
                df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for spark.sql queries
    (the engine's analog of the reference's dbt sources,
    ``dbt/models/staging/sources.yml``)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
