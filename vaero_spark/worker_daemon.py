"""PySpark worker daemon whose zip importers re-read an archive only when it changed.

Every PySpark task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes each
``zipimport.zipimporter`` re-parse its archive's central directory, and a
worker holds one importer per ``pyspark.zip/pyspark/<package>`` path: 18
parses of the 1,328-entry ``pyspark.zip`` per task, ~0.28 CPU-s. Here an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs
from the stamp taken at its own last read, or cannot be stat'ed. Workers fork
from this daemon and inherit the wrapper. ``session.get_spark`` starts it via
``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive unless it is unchanged since its own last read."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_vaero_stamp", None):
        _reread(self)
        self._vaero_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the importers workers inherit
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the installed wrapper names its real module
    from vaero_spark.worker_daemon import main

    main()
