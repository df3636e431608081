"""Seeded input generator for the benchmark workloads.

Writes one parquet file per table, with the schemas and value domains of the
engine's synthetic test tables (a TPC-H-like star schema, an ``events``
stream, a ``documents`` corpus and an ``embeddings`` table). The same seed
always gives byte-identical tables. The engine only ever sees the generated
directory.

The corpus is built the way ``tools/scale_probe.py`` scales it: a base
corpus is replicated with a per-copy letter rotation of the text (copies are
not near-duplicates of each other) and a per-copy circular shift of each
embedding with disjoint label blocks. Here the seed picks the rotations.

Generated inputs are cached per (workload, seed) under the benchmark's work
directory, so generation never lands in a timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator changes, so stale cached inputs are never reused
# (a changed workload spec already changes the cache key).
GEN_VERSION = 3

_VOCAB = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _line_numbers(orderkey: np.ndarray) -> np.ndarray:
    """1, 2, ... within each order, so (orderkey, linenumber) is unique as
    in TPC-H and ordered operators need no price tie-break."""
    order = np.argsort(orderkey, kind="stable")
    keys = orderkey[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    rank = np.arange(len(keys)) - np.repeat(starts, np.diff(np.r_[starts, len(keys)]))
    out = np.empty(len(keys), dtype=np.int32)
    out[order] = rank + 1
    return out


def relational_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """TPC-H-like tables plus ``events`` at ``scale`` (1.0 = 6M lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    orderkey = rng.integers(0, n_ord, n_li, dtype=np.int64)
    out["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": _line_numbers(orderkey),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        # whole hundreds: price * (1 - discount) * (1 + tax) is then an exact
        # cent, so no rounded revenue or charge sum sits on a half cent, where
        # Spark (half up) and DuckDB round a float sum differently
        "l_extendedprice": 100.0 * rng.integers(9, 1051, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * _DAY_US),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, max(int(15_000 * scale), 1), n_ev, dtype=np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return out


def _base_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts over a small vocabulary; 5% are an earlier text + ' dup'."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return texts


def _rotate_letters(text: str, rot: int) -> str:
    a, up = string.ascii_lowercase, string.ascii_uppercase
    return text.translate(str.maketrans(a + up, a[rot:] + a[:rot] + up[rot:] + up[:rot]))


def corpus_tables(
    rng: np.random.Generator, base_docs: int, base_vecs: int, copies: int, dim: int = 64
) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings``: a seeded base replicated ``copies``
    times, with seed-chosen letter rotations and vector shifts per copy."""
    rots = rng.choice(26, copies, replace=False)
    shifts = rng.choice(dim, copies, replace=False)
    base = _base_texts(rng, base_docs)
    langs = np.asarray(_LANGS, dtype=object)[rng.choice(5, base_docs, p=_LANG_P)]
    texts = [_rotate_letters(t, int(r)) for r in rots for t in base]
    n_docs = base_docs * copies
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.tile(langs, copies)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((base_vecs, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, base_vecs).astype(np.int32)
    emb = np.concatenate([np.roll(vecs, int(s), axis=1) for s in shifts])
    n_vecs = base_vecs * copies
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": np.concatenate([labels + 10 * c for c in range(copies)]).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def build(spec: dict, seed: int) -> dict[str, pa.Table]:
    """All tables of one workload spec (see ``workloads.WORKLOADS``)."""
    # one stream per workload name, so workloads never share draws
    rng = np.random.default_rng([seed, sum(map(ord, spec["name"]))])
    if spec["kind"] == "corpus":
        return corpus_tables(rng, spec["base_docs"], spec["base_vecs"], spec["copies"])
    return relational_tables(rng, spec["scale"])


def ensure(spec: dict, seed: int, work_dir: Path) -> tuple[Path, dict[str, int]]:
    """Return the cached input directory for (workload, seed) and its table
    row counts, generating it first if it is missing."""
    key = hashlib.sha256(json.dumps([GEN_VERSION, spec], sort_keys=True).encode()).hexdigest()[:10]
    out = work_dir / "inputs" / f"{spec['name']}-seed{seed}-{key}"
    done = out / "_ROWS.json"
    if not done.is_file():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        rows = {}
        for name, table in build(spec, seed).items():
            pq.write_table(table, tmp / f"{name}.parquet")
            rows[name] = table.num_rows
        (tmp / "_ROWS.json").write_text(json.dumps(rows, sort_keys=True))
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out, json.loads(done.read_text())


if __name__ == "__main__":
    import sys

    from workloads import WORKLOADS

    name, seed, work = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])
    data_dir, rows = ensure(WORKLOADS[name], seed, work)
    print(json.dumps({"dir": str(data_dir), "rows": rows}))
