"""Driver-contract tests: entry() smoke + a fast subset of oracle parity at
sf0.001 (the full gate over every registered query runs via tools/verify_local.py)."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from ml_data_pipeline_spark.queries import ALL_QUERIES
from tools.verify_local import TABLES, canon_rows

FAST_SUBSET = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "p6_value_counts",
    "e2_label_encode",
    "i1_impute_mean",
    "tx_token_count",
    "ss_brute_topk",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_oracle_has_a_query():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 50
    # the gate-window reorder loses and rebinds nothing
    assert len(qs) == len(ALL_QUERIES) and set(qs) == set(ALL_QUERIES)
    assert all(qs[n] is ALL_QUERIES[n] for n in qs)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_oracle_parity(spark, sf_dir, duck, name):
    sdf = entrymod.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    assert len(srows) == len(orows)
    assert sorted(sdf.columns) == sorted(ocols)
    assert canon_rows(sdf.columns, srows) == canon_rows(ocols, orows)
