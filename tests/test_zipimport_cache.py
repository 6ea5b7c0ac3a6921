"""The package's cheap zip-archive invalidation (``_zipimport_cache``).

PySpark calls ``importlib.invalidate_caches()`` before every Python task;
on Python < 3.12 each ``zipimporter`` then re-read its whole archive
directory. With the package imported, an unchanged archive is not re-read
and a changed one still is."""

from __future__ import annotations

import importlib
import sys
import threading
import zipfile
import zipimport

import pandas as pd

from pgvectorscale_spark import _zipimport_cache  # the package import installs it

_FIXED = sys.version_info < (3, 12)  # 3.12+ defers the re-read itself (gh-103200)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_installed_only_where_the_stdlib_rereads():
    fixed = zipimport.zipimporter.invalidate_caches is _zipimport_cache._invalidate_caches
    assert fixed == _FIXED


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, capfd):
    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n"})
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    # finders without invalidate_caches (or None) sit beside the zip ones
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path / "none"), None)
    monkeypatch.setitem(sys.path_importer_cache, str(tmp_path / "plain"), object())
    try:
        assert importlib.import_module("zc_mod_a").VALUE == "a"
        importlib.invalidate_caches()  # a first task: the archive is new
        threads = threading.active_count()
        reads.clear()
        for _ in range(20):
            importlib.invalidate_caches()
        assert reads == []
        # a rewritten archive is re-read at the next invalidation
        _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n", "zc_mod_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zc_mod_b").VALUE == "b"
        assert threading.active_count() == threads
    finally:
        sys.modules.pop("zc_mod_a", None)
        sys.modules.pop("zc_mod_b", None)
    out, err = capfd.readouterr()
    assert (out, err) == ("", "")


def test_missing_archive_is_handled_as_the_stdlib_does(tmp_path, monkeypatch):
    archive = tmp_path / "zc_gone.zip"
    _write_zip(str(archive), {"zc_mod_gone": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        importlib.import_module("zc_mod_gone")
        importlib.invalidate_caches()
        archive.unlink()
        importlib.invalidate_caches()  # raises nothing
        finder = sys.path_importer_cache[str(archive)]
        assert finder.find_spec("zc_mod_gone") is None
    finally:
        sys.modules.pop("zc_mod_gone", None)


def test_python_workers_run_with_the_fix(spark):
    """A UDF that imports the package finds the fix in place inside its
    Python worker, and a repeated invalidation there reads no archive."""

    def probe(batches):
        import importlib
        import zipimport

        from pgvectorscale_spark import _zipimport_cache

        importlib.invalidate_caches()
        reads = []
        stdlib_read = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), stdlib_read(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        for _ in batches:
            pass
        fixed = zipimport.zipimporter.invalidate_caches is _zipimport_cache._invalidate_caches
        yield pd.DataFrame({"installed": [fixed], "reads": [len(reads)]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "installed boolean, reads int").collect()
    assert len(rows) == 4
    assert all(r["installed"] == _FIXED for r in rows)
    assert all(r["reads"] == 0 for r in rows)
