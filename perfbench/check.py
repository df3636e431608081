"""Correctness gate: every executed query's result against its DuckDB oracle.

Comparison follows ``tools/verify_local.py``: row count, column names, type
parity and an order-insensitive multiset of canonical rows. Queries without
an oracle (the xxhash64 near-duplicate pairs) must give the same canonical
fingerprint on every pass and on every run of a seed; the first run of a
seed records it next to the cached inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import duckdb

from ml_data_pipeline_spark.oracles import ALL_ORACLES
from tools.verify_local import canon_rows, type_parity_problems

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _plain(v, integral: bool):
    """A pandas cell as the Python value ``collect()`` would give."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if integral and isinstance(v, float):
        return int(v)  # an integral column with nulls comes back as float64
    if hasattr(v, "tolist"):
        return v.tolist()
    return v


def result_rows(pdf, types: list[str]) -> list[tuple]:
    cols = [
        [_plain(v, t in _INTEGRAL) for v in pdf[c].astype(object).tolist()]
        for c, t in zip(pdf.columns, types)
    ]
    return list(zip(*cols)) if cols else []


def _digest(canon: list[str]) -> str:
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Gate:
    """Checks results against DuckDB over the generated tables."""

    def __init__(self, data_dir: Path, tables: list[str]):
        self.data_dir = data_dir
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._oracle: dict[str, tuple] = {}
        self._last: dict[str, tuple] = {}  # query -> (result frame, its problems)

    def _expected(self, name: str) -> tuple:
        if name not in self._oracle:
            rel = self.con.sql(ALL_ORACLES[name])
            cols = [d[0] for d in rel.description]
            types = [str(t) for t in rel.types]
            rows = rel.fetchall()
            self._oracle[name] = (cols, types, len(rows), _digest(canon_rows(cols, rows)))
        return self._oracle[name]

    def problems(self, name: str, pdf, types: list[str]) -> list[str]:
        """Why one execution's result (a ``toPandas()`` frame and its Spark
        column types) is wrong; empty when it is right. A frame identical to
        the query's previous one, row order included, gets the same verdict
        without being canonicalized again."""
        last = self._last.get(name)
        if last is not None and pdf.equals(last[0]):
            return last[1]
        out = self._check(name, list(pdf.columns), types, result_rows(pdf, types))
        self._last[name] = (pdf, out)
        return out

    def _check(self, name: str, cols: list[str], types: list[str], rows: list[tuple]) -> list[str]:
        canon = _digest(canon_rows(cols, rows))
        if name not in ALL_ORACLES:
            return self._fingerprint_problems(name, canon)
        ocols, otypes, n, odigest = self._expected(name)
        out = []
        if len(rows) != n:
            out.append(f"rowcount spark={len(rows)} oracle={n}")
        if sorted(cols) != sorted(ocols):
            out.append(f"schema spark={sorted(cols)} oracle={sorted(ocols)}")
        out.extend(type_parity_problems(cols, types, ocols, otypes))
        if not out and canon != odigest:
            out.append("values differ from the oracle")
        return out

    def _fingerprint_problems(self, name: str, canon: str) -> list[str]:
        path = self.data_dir / "_FINGERPRINTS.json"
        known = json.loads(path.read_text()) if path.is_file() else {}
        if name not in known:
            known[name] = canon
            path.write_text(json.dumps(known, sort_keys=True))
        return [] if known[name] == canon else [f"fingerprint {canon[:12]} != recorded {known[name][:12]}"]

    def close(self) -> None:
        self.con.close()
