"""The catalog's parquet schema memo and the session's codegen cache size:
both cut per-query fixed cost without changing what a query returns."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ml_data_pipeline_spark import catalog
from ml_data_pipeline_spark.catalog import TABLES, load_table


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize("name", TABLES)
def test_memo_keeps_dtypes_and_starts_no_job(spark, sf_dir, name):
    catalog._SCHEMAS.clear()
    inferred = load_table(spark, sf_dir, name).dtypes
    j0 = _jobs(spark)
    memo = load_table(spark, sf_dir, name)
    assert _jobs(spark) == j0
    assert memo.dtypes == inferred
    # the raw read under the memo equals a fresh inference
    path = f"{sf_dir}/{name}.parquet"
    assert catalog._read_parquet(spark, path).dtypes == spark.read.parquet(path).dtypes


def test_memo_nanos_events_path(spark, tmp_path):
    """Nanosecond events go through nanosAsLong and the ns->us conversion
    whether the schema was inferred or memoized."""
    t = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_999], pa.timestamp("ns")),
            "value": pa.array([1.5, 2.5]),
        }
    )
    pq.write_table(t, tmp_path / "events.parquet", version="2.6", coerce_timestamps=None)
    first = load_table(spark, str(tmp_path), "events")
    raw = catalog._read_parquet(spark, str(tmp_path / "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "bigint"  # read under nanosAsLong
    j0 = _jobs(spark)
    second = load_table(spark, str(tmp_path), "events")
    assert _jobs(spark) == j0
    assert first.dtypes == second.dtypes
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert second.collect() == first.collect()


def test_memo_infers_again_after_rewrite(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "int")]
    pq.write_table(pa.table({"a": ["x"], "b": [0.5]}), path)  # same path, new schema
    j0 = _jobs(spark)
    again = load_table(spark, str(tmp_path), "t")
    assert _jobs(spark) > j0
    assert again.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in again.collect()] == [("x", 0.5)]


def test_memo_self_join_resolves(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")  # memo hit: a fresh relation
    out = a.join(b, a["o_orderkey"] == b["o_orderkey"]).select(
        a["o_custkey"].alias("ca"), b["o_custkey"].alias("cb")
    )
    assert out.where(F.col("ca") != F.col("cb")).count() == 0
    assert out.count() == a.count()


def test_codegen_cache_holds_a_working_set(spark, sf_dir):
    """One pass over the relational queries compiles more classes than
    Spark's default cache of 100 holds; with the engine's cache, re-running
    the first query after them compiles (almost) nothing again."""
    from ml_data_pipeline_spark.queries import ALL_QUERIES

    queries = dict(ALL_QUERIES)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    queries["q1_pricing_summary"](spark, sf_dir).collect()
    c0 = _compiles(spark)
    for name in (
        "q3_shipping_priority",
        "q5_region_revenue",
        "q_topk_per_group",
        "q_sessionize",
        "i1_impute_mean",
        "i4_interpolate",
        "e3_target_encode",
    ):
        queries[name](spark, sf_dir).collect()
        if _compiles(spark) - c0 > 100:
            break
    assert _compiles(spark) - c0 > 100
    c1 = _compiles(spark)
    queries["q1_pricing_summary"](spark, sf_dir).collect()
    assert _compiles(spark) - c1 <= 2
