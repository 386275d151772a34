"""The Python worker daemon re-reads a zip archive on the path only when
the archive changed (``har2tree_spark.daemon``)."""

import importlib
import sys
import zipfile
import zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """A second ``invalidate_caches`` on an unchanged archive reads
    nothing; after the archive is rewritten with a new module, the next
    one re-reads it and the new module imports."""
    from har2tree_spark import daemon

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"graft_zip_a": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("graft_zip_a", "graft_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("graft_zip_a").VALUE == 1

    reads = []
    stock = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importer = sys.path_importer_cache[str(archive)]
    importer.invalidate_caches()
    assert reads == [str(archive)]  # not stamped yet: reads once
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [str(archive)]

    _write_zip(archive, {"graft_zip_a": "VALUE = 1\n", "graft_zip_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)] * 2
    assert importlib.import_module("graft_zip_b").VALUE == 2


def test_session_names_the_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "har2tree_spark.daemon"


def test_workers_do_not_reread_archives(spark):
    """In every task of a 4-partition Python stage, a second
    ``importlib.invalidate_caches()`` (the first ran in the worker's task
    set-up) re-reads no zip archive, and the worker does import from
    at least one (pyspark's own)."""
    import pyarrow as pa

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        for _ in batches:
            pass
        il.invalidate_caches()
        reads = []
        stock = zi._read_directory
        zi._read_directory = lambda path: reads.append(path) or stock(path)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = stock
        importers = [i for i in s.path_importer_cache.values() if isinstance(i, zi.zipimporter)]
        yield pa.RecordBatch.from_pydict({"importers": [len(importers)], "reads": [len(reads)]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(probe, "importers long, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
