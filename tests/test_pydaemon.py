"""The engine's Python daemon: the zip-directory memo and worker imports."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from ml_data_pipeline_spark import _pydaemon

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def test_zip_directory_memo_rereads_only_changed_archive(tmp_path, monkeypatch):
    """A zip on sys.path is re-read by ``importlib.invalidate_caches()`` only
    when it changed: unchanged calls read nothing, and a module added by
    rewriting the zip becomes importable."""
    archive = tmp_path / "zpkg.zip"
    _write_zip(archive, {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # restored at teardown, so the wrapper stays out of other tests
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("zpkg.a").X == 1
        if _pydaemon.needs_memo():
            # without the memo every importer of the archive (the zip root
            # and zpkg/) re-reads it on every call
            reads.clear()
            importlib.invalidate_caches()
            assert len(reads) == 2

        _pydaemon.install()
        _pydaemon.install()  # idempotent: one wrapper, not two
        assert not hasattr(zipimport.zipimporter.invalidate_caches.__wrapped__, "__wrapped__")
        importlib.invalidate_caches()
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        _write_zip(
            archive, {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n", "zpkg/b.py": "Y = 2\n"}
        )
        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.b").Y == 2
        if _pydaemon.needs_memo():
            assert len(reads) == 2  # each importer re-reads once
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
    finally:
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]


def test_memo_installed_in_python_workers(spark):
    """Python tasks run in workers forked from the engine's daemon, which
    installs the memo on CPython < 3.13 and nowhere else."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        from ml_data_pipeline_spark._pydaemon import needs_memo

        for _ in batches:
            pass
        wrapped = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pa.RecordBatch.from_pydict({"wrapped": [wrapped], "needs": [needs_memo()]})

    rows = spark.range(10).repartition(2).mapInArrow(probe, "wrapped boolean, needs boolean").collect()
    assert rows and all(r["wrapped"] == r["needs"] for r in rows)
    assert {r["needs"] for r in rows} == {_pydaemon.needs_memo()}


_FROM_ANY_CWD = """
import sys

sys.path.insert(0, sys.argv[1])
import pyarrow as pa

from ml_data_pipeline_spark.operators import dedup
from ml_data_pipeline_spark.session import get_spark

spark = get_spark("any-cwd", master="local[2]", shuffle_partitions=2)


def double(batches):
    for b in batches:
        yield pa.RecordBatch.from_pydict({"id": [2 * v for v in b.column(0).to_pylist()]})


print(sorted(r.id for r in spark.range(4).mapInArrow(double, "id long").collect()))
docs = spark.createDataFrame([(1, "a b a"), (2, "c")], "doc_id long, text string")
print(sorted(r["__cnt"] for r in dedup._simhash_per_tok_arrow(docs, "text", "doc_id").collect()))
"""


def test_python_workers_import_engine_from_any_cwd(tmp_path):
    """A driver started outside the repository with no PYTHONPATH still runs
    Python tasks: workers find the daemon module and the engine's Arrow
    kernels through the executor PYTHONPATH that get_spark sets."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(_FROM_ANY_CWD))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script), str(ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-2:] == ["[0, 2, 4, 6]", "[1, 1, 2]"]
