"""PySpark's worker daemon, with zip archives re-read only when they change.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so each executor launches its Python daemon as ``python -m
har2tree_spark.daemon pyspark.worker``. The daemon forks one worker per
task slot and reuses those workers across tasks and jobs; the forked
workers inherit the patch below.

Why: at the start of every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On Python 3.11 the stock
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a warm worker holds one importer per
pyspark subpackage of ``pyspark.zip``, one for py4j and two for the
5,359-entry ``spark-core`` jar Spark puts on the worker path. Together
that was 0.19-0.25 s of CPU on every task, however small (4 vCPUs,
Spark 4.1.2): the fixed floor of every Python stage.

The replacement re-reads an importer's archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp that importer last read
at: the kind of check (source mtime and size) the import system makes
before it reuses cached bytecode. A rewritten archive is still re-read,
so what a worker can import is what it could import before. An importer
not yet stamped reads once.

The executors' Python must be able to import ``har2tree_spark``, which
the exact kernel already requires: its functions are pickled by
reference. The driver never imports this module.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive only if it changed since its last
    read. The stamp is taken before the read, so an archive rewritten
    during the read is read again next time; a missing archive is always
    handed to the stock method, which empties the importer."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate(self)
        self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # noqa: PLC0415 - reads sys.argv[1] on import

    daemon.manager()


if __name__ == "__main__":
    main()
