"""Python worker start-up: importing the package makes
``importlib.invalidate_caches()`` lazy for zip archives on sys.path
(Python 3.12 behaviour), so Spark tasks stop re-reading pyspark.zip and
the Spark jar on every task."""

from __future__ import annotations

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pandas as pd

import german_ocr_spark  # noqa: F401  (installs the lazy invalidation)


def test_worker_task_setup_reads_no_zip_directory(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import german_ocr_spark  # noqa: F401  (as every engine UDF does)

        reads = []
        original = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "archives": [len(archives)]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "reads long, archives long")
        .collect()
    )
    assert len(rows) == 2
    # the worker really imports from archives (pyspark.zip, py4j, jar) ...
    assert all(r.archives > 0 for r in rows), rows
    # ... and invalidating the import caches re-reads none of them
    assert [r.reads for r in rows] == [0, 0]


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_invalidate_caches_keeps_312_semantics(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zmod_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # setitem then delitem: undoing both leaves these keys absent again
    for name in ("zmod_first", "zmod_second"):
        monkeypatch.setitem(sys.modules, name, None)
        monkeypatch.delitem(sys.modules, name)
    monkeypatch.setitem(sys.path_importer_cache, str(archive), None)
    monkeypatch.delitem(sys.path_importer_cache, str(archive))
    assert importlib.import_module("zmod_first").X == 1

    # a rewritten archive is seen after invalidation
    _write_zip(archive, {"zmod_first": "X = 1\n", "zmod_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_second").Y == 2

    # a deleted archive looks empty: lookups find nothing, raise nothing
    archive.unlink()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)
    assert importer.find_spec("zmod_first") is None
    assert importlib.util.find_spec("zmod_third") is None
