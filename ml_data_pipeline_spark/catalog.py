"""Tiny catalog over the driver-generated parquet test tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to session-TZ TIMESTAMP.

    The testdata parquet stores naive microsecond timestamps
    (isAdjustedToUTC=false); Spark 4 infers those as TIMESTAMP_NTZ, which
    rejects numeric casts and diverges from the engine's (and DuckDB
    oracle's) plain-timestamp semantics. With the session TZ pinned to UTC
    the cast is value-identical; it happens at scan time so every operator
    downstream sees one timestamp type regardless of how the files were
    written.
    """
    ntz = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    if not ntz:
        return df
    from pyspark.sql import functions as F

    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


# (applicationId, path) -> (stamp, inferred schema); see _read_parquet
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}


def _file_stamps(path: str) -> tuple | None:
    """(file, size, mtime_ns) of every file under a local path, or None when
    the path cannot be stat'ed (a URI, a missing path)."""
    if "://" in path or not os.path.exists(path):
        return None
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(root, f) for root, _, names in os.walk(path) for f in names
    )
    try:
        return tuple((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with its inferred schema memoized.

    Inference is a Spark job that reads the parquet footers, and it runs on
    every plain read; an interactive session re-reads the same tables for
    every query. The memo holds only the schema, so each call still returns
    a fresh relation with fresh attribute ids (self-joins stay
    unambiguous). An entry is reused only for the same session, the same
    size and mtime of every file under the path, and the same
    ``nanosAsLong`` setting (the one conf that changes inference here);
    anything else infers again. Paths that cannot be stat'ed always infer.
    """
    stamps = _file_stamps(path)
    if stamps is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    stamp = (stamps, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan — columnar, predicate-pushdown- and pruning-friendly.

    Some testdata generations write the events table with nanosecond
    timestamps, which Spark's vectorized parquet reader rejects; read them
    as longs and convert to microsecond timestamps (truncating, matching
    DuckDB's ns→us behavior). Naive (NTZ) timestamps are normalized to the
    session timezone in all tables. The parquet schema is inferred once
    per file state and session (``_read_parquet``).
    """
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_ntz(df)
    return _normalize_ntz(_read_parquet(spark, f"{sf_dir}/{name}.parquet"))

def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table and register it as a temp view for spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
