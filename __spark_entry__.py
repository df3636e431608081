"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The correctness gate records a row only for the first 50 entries of
``queries()``, so their order is the one policy this module adds on top of
the registry:

- head: ``_WINDOW_HEAD``, the gates whose implementing code round
  ``_WINDOW_ROUND`` modified, in the listed order;
- tail: every other registered name, sorted ascending by (the last round
  before ``_WINDOW_ROUND`` whose ``CORRECTNESS_r{N}.json`` next to this
  module lists it, else 0; name) — stalest gate row first.

Closing a round edits ``_WINDOW_HEAD`` and ``_WINDOW_ROUND`` and nothing
else; the tail follows from the committed CORRECTNESS files.

Implementations live in ml_data_pipeline_spark.queries (Spark) and
ml_data_pipeline_spark.oracles (DuckDB SQL); this module is the thin contract
surface.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from ml_data_pipeline_spark.oracles import ALL_ORACLES
from ml_data_pipeline_spark.queries import ALL_QUERIES, q1_pricing_summary

_WINDOW_ROUND = 16
_WINDOW_HEAD = [
    # Arrow MinHash signature kernel + dispatch
    "dd_minhash_pairs",
    "dd_minhash_md5",
    # Arrow SimHash per-token kernel + dispatch
    "dd_simhash_pairs",
    "dd_simhash_md5_sigs",
    # staged tokenize projections in text.py
    "tx_quality",
    "tx_lang_id",
    "tx_lang_stats",
    "m43_cohens_kappa",
    # thread-pool fold/trial overlap in ml/tuning.py
    "m5_cross_val",
    "m6_random_search_trials",
    "m7_tpe_trials",
    "m9_learning_curve",
    # Arrow exact-Lloyd assign in similarity.py
    "ss_ivf_topk",
]


def _last_rounds(directory: str) -> dict[str, int]:
    """Name -> last round < _WINDOW_ROUND whose CORRECTNESS file lists it."""
    last: dict[str, int] = {}
    for fname in os.listdir(directory):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None or int(m.group(1)) >= _WINDOW_ROUND:
            continue
        with open(os.path.join(directory, fname)) as f:
            for name in json.load(f):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def _window_order(registry: dict, directory: str) -> dict:
    """``registry`` reordered head-first (see module docstring); an
    unregistered head name raises KeyError."""
    head = {n: registry[n] for n in _WINDOW_HEAD}
    last = _last_rounds(directory)
    tail = sorted(set(registry) - set(head), key=lambda n: (last.get(n, 0), n))
    return {**head, **{n: registry[n] for n in tail}}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ scale packs),
    in gate-window order."""
    return _window_order(ALL_QUERIES, _HERE)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; seeded/hash-specific operators
    are intentionally absent (driver applies rows-only checks to those)."""
    return dict(ALL_ORACLES)
