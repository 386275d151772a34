"""PySpark's worker daemon, started from installed bytecode and with zip
archives re-read only when they change.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so each executor launches its Python daemon as ``python -m
har2tree_spark.daemon pyspark.worker``. The daemon forks one worker per
task slot and reuses those workers across tasks and jobs; the forked
workers inherit the path order and the patch below.

Path order: Spark puts ``pyspark.zip`` and ``py4j-*-src.zip`` at the
front of the workers' path. Those archives hold sources only, and
zipimport never caches bytecode, so a daemon that imports pyspark from
the zip compiles it from source at every launch: about 0.9 s of the
first task on 4 vCPUs, at every session start. When the same release is
installed in the executors' Python (its ``<package>/version.py`` equals
the archive's, byte for byte), ``main`` moves the archive to just after
the directory of the installed copy, which imports from its
``__pycache__``. With no installed copy, a different release or any
error reading either side, the stock order is kept. The package's own
``__init__`` imports no pyspark, so nothing is imported from the zip
before ``main`` runs.

Archive re-reads: at the start of every task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 the stock
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a warm worker holds importers for the
archives on its path: py4j's and two for the 5,359-entry ``spark-core``
jar Spark puts on the worker path (and one per pyspark subpackage when
pyspark imports from its zip). Together that was 0.19-0.25 s of CPU on
every task, however small (4 vCPUs, Spark 4.1.2): the fixed floor of
every Python stage.

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
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

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


def prefer_installed(package: str, path: list[str]) -> None:
    """Move the zip archive ``package`` imports from in ``path`` to just
    after the path entry of an installed copy, when both hold the same
    ``<package>/version.py``. Nothing is imported: the versions are
    compared as bytes. ``path`` is left as it is when the package does not
    import from a zip, no copy is installed after it, the versions differ
    or either file cannot be read."""
    try:
        spec = PathFinder.find_spec(package, path)
        if spec is None or not isinstance(spec.loader, zipimport.zipimporter):
            return
        archive = spec.loader.archive
        rest = [entry for entry in path if entry != archive]
        for at, entry in enumerate(rest):
            installed = PathFinder.find_spec(package, [entry])
            if installed is not None:
                break
        else:
            return
        with zipfile.ZipFile(archive) as zf:
            zipped = zf.read(f"{package}/version.py")
        with open(os.path.join(installed.submodule_search_locations[0], "version.py"), "rb") as fh:
            if fh.read() != zipped:
                return
    except Exception:  # noqa: BLE001 - any doubt keeps the stock order
        return
    rest.insert(at + 1, archive)
    path[:] = rest


def main() -> None:
    for package in ("py4j", "pyspark"):
        prefer_installed(package, sys.path)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # noqa: PLC0415 - reads sys.argv[1] on import

    daemon.manager()


if __name__ == "__main__":
    main()
