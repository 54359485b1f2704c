"""The Python boundary's per-task fixed cost: ``arrowmap.guard_zip_rereads``
keeps ``importlib.invalidate_caches()`` from re-reading an unchanged zip
archive's directory, and still re-reads a changed one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import types as T

from text_extraction_system_spark import arrowmap

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter re-reads lazily from 3.13"
)


@pytest.fixture
def unguarded(monkeypatch):
    """The interpreter's own ``zipimporter.invalidate_caches`` and no
    stamps, restored after the test."""
    original = arrowmap._zip_reread or zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(arrowmap, "_zip_reread", None)
    monkeypatch.setattr(arrowmap, "_ZIP_STAMPS", {})


def _write_zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)


@needs_eager_reread
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, unguarded):
    archive = str(tmp_path / "mods.zip")
    files = {
        "zmod_a.py": "X = 1\n",
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/leaf.py": "Y = 2\n",
    }
    _write_zip(archive, files)
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(archive)
    names = ["zmod_a", "zmod_b", "zpkg", "zpkg.sub", "zpkg.sub.leaf", "zpkg.sub.late"]
    try:
        import zmod_a  # noqa: F401
        import zpkg.sub.leaf  # noqa: F401

        # one importer per path entry: the archive, zpkg and zpkg/sub
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter) and f.archive == archive]
        assert len(importers) == 3

        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 3  # unguarded: every importer re-reads

        arrowmap.guard_zip_rereads()
        arrowmap.guard_zip_rereads()  # idempotent
        assert zipimport.zipimporter.invalidate_caches is arrowmap._guarded_invalidate
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1  # the first read stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        # a rewritten archive is re-read once, and every importer on it
        # sees the new entries
        _write_zip(archive, {**files, "zmod_b.py": "Z = 3\n",
                             "zpkg/sub/late.py": "W = 4\n"})
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) == 1
        import zmod_b
        import zpkg.sub.late

        assert (zmod_b.Z, zpkg.sub.late.W) == (3, 4)

        # same size, new mtime: re-read
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_guard_is_a_no_op_from_3_13(monkeypatch, unguarded):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    arrowmap.guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is original
    assert arrowmap._zip_reread is None


@needs_eager_reread
@pytest.mark.parametrize("helper", ["map_rows", "append_column", "map_batches"])
def test_workers_run_the_guarded_invalidate(spark, helper):
    """Every task of each boundary helper runs with the guard installed,
    also in a worker whose previous task took it out: each task reports
    whether its worker is guarded and then restores the unguarded
    ``invalidate_caches``, and 64 one-row tasks over a few reused workers
    make most tasks start in such a worker."""

    def guarded():
        import zipimport

        from text_extraction_system_spark import arrowmap as am

        zi = zipimport.zipimporter
        was = zi.invalidate_caches is am._guarded_invalidate
        if was:
            zi.invalidate_caches = am._zip_reread
        return was

    df = spark.range(0, 64, 1, 64)
    out = {
        "map_rows": lambda: arrowmap.map_rows(
            df, lambda i: [(guarded(),)], "guarded boolean"),
        "append_column": lambda: arrowmap.append_column(
            df, "guarded", T.BooleanType(), lambda ids: [guarded() for _ in ids], "id"),
        "map_batches": lambda: arrowmap.map_batches(
            df, lambda batches: (([guarded() for _ in ids],) for ids, in batches),
            "guarded boolean"),
    }[helper]()
    rows = out.collect()
    assert len(rows) == 64
    assert all(r.guarded for r in rows)
