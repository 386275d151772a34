"""The Python worker daemon (``har2tree_spark.daemon``) imports pyspark
from its installed copy when that is the release in ``pyspark.zip``, and
re-reads a zip archive on the path only when the archive changed."""

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _fake_pyspark(tmp_path, zipped_version, installed_version):
    """A ``pyspark.zip`` and an installed ``site/pyspark/`` under
    ``tmp_path``. A zipped version of None leaves the zip's
    ``version.py`` out; an installed version of None leaves the whole
    installed package out."""
    modules = {"pyspark/__init__": ""}
    if zipped_version is not None:
        modules["pyspark/version"] = f"__version__ = {zipped_version!r}\n"
    archive = tmp_path / "pyspark.zip"
    _write_zip(archive, modules)
    site = tmp_path / "site"
    site.mkdir()
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(f"__version__ = {installed_version!r}\n")
    return str(archive), str(site)


@pytest.mark.parametrize(
    "zipped, installed, on_path, moves",
    [
        ("4.1.2", "4.1.2", True, True),
        ("4.1.2", "4.0.0", True, False),  # another release: stock order
        (None, "4.1.2", True, False),  # no version.py in the zip
        ("4.1.2", None, True, False),  # no installed copy
        ("4.1.2", "4.1.2", False, False),  # no zip on the path
    ],
)
def test_zip_moves_behind_installed_copy_of_same_release(
    tmp_path, zipped, installed, on_path, moves
):
    """The zip moves to just after the installed copy's path entry only
    when both hold the same ``version.py``; otherwise the path is kept."""
    from har2tree_spark.daemon import prefer_installed

    archive, site = _fake_pyspark(tmp_path, zipped, installed)
    first, stdlib = str(tmp_path / "first"), str(tmp_path / "stdlib")
    stock = [first, archive, stdlib, site] if on_path else [first, stdlib, site]
    path = list(stock)
    prefer_installed("pyspark", path)
    assert path == ([first, stdlib, site, archive] if moves else stock)


def test_package_import_leaves_pyspark_unloaded():
    """``python -m har2tree_spark.daemon`` runs the package's ``__init__``
    before ``main`` can reorder the path, so neither may import pyspark."""
    code = (
        "import sys, har2tree_spark, har2tree_spark.daemon; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out.stdout


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
    at least one (py4j's or the ``spark-core`` jar)."""
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


def test_workers_import_installed_pyspark(spark):
    """The test environment installs the pyspark release that Spark's
    ``pyspark.zip`` holds, so every worker of a 4-partition Python stage
    imports pyspark from the installed copy, not from the zip."""
    import pyarrow as pa

    def probe(batches):
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"file": [pyspark.__file__]})

    rows = spark.range(4, numPartitions=4).mapInArrow(probe, "file string").collect()
    assert len(rows) == 4
    assert all("pyspark.zip" not in r.file for r in rows), rows
