"""The engine's Python daemon: PySpark's own daemon plus a zip-directory memo.

At the start of every task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). Workers import pyspark and py4j from the zips under
``$SPARK_HOME/python/lib``, which leaves one ``zipimporter`` per imported
package directory (16 after an Arrow task). On CPython 3.10-3.12 each of them
eagerly re-reads its whole archive directory on that call: about 0.2 s of
worker CPU per task before any kernel starts (CPython 3.11 on a 4-core host).
CPython 3.13 made the call lazy.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from when that importer last read it; a replaced zip is still re-read
on the next call. ``get_spark`` starts this module through
``spark.python.daemon.module``: on CPython < 3.13 it installs the wrapper and
stamps every importer the daemon holds, then hands over to
``pyspark.daemon.manager()``, so every forked worker inherits the stamps.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# the importer attribute holding the archive stamp of its last read
_STAMP = "_directory_stamp"


def needs_memo() -> bool:
    """True where ``zipimporter.invalidate_caches`` re-reads eagerly."""
    return sys.implementation.name == "cpython" and sys.version_info < (3, 13)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the memo (idempotent)."""
    reload = zipimport.zipimporter.invalidate_caches
    if hasattr(reload, "__wrapped__"):
        return

    def invalidate_caches(self):
        # stat before reading, so a zip replaced mid-read is re-read next call
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        reload(self)
        # keep the stamp only after a successful read, so a failed one is retried
        setattr(self, _STAMP, stamp if self._files else None)

    invalidate_caches.__wrapped__ = reload
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    if needs_memo():
        install()
        importlib.invalidate_caches()  # stamp every importer before any fork
    daemon.manager()
