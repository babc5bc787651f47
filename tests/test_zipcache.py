"""Stat-gated zip import-cache invalidation (who_owns_mass_processing_spark._zipcache).

Before Python 3.12, ``importlib.invalidate_caches()`` makes every
zipimporter re-read its archive; PySpark's worker calls it once per task.
The package's wrapper re-reads only when the archive changed on disk."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import who_owns_mass_processing_spark  # noqa: F401  (installs the wrapper)
from who_owns_mass_processing_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter re-reads lazily from 3.12 on"
)


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_archive(archive, {"zc_mod_one": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_one", "zc_mod_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("zc_mod_one").X == 1
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()  # first call for this archive re-reads
        listing, n_reads = importer._files, len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == n_reads
        assert importer._files is listing

        _write_archive(archive, {"zc_mod_one": "X = 1\n", "zc_mod_two": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n_reads + 1
        assert importlib.import_module("zc_mod_two").Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_install_twice_keeps_one_wrapper():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.__module__ == _zipcache.__name__
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapper


def test_python_workers_run_the_wrapper(spark):
    def probe(batches):
        import zipimport

        import who_owns_mass_processing_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        for batch in batches:
            yield pd.DataFrame({"module": [fn.__module__] * len(batch)})

    rows = spark.range(0, 64, numPartitions=8).mapInPandas(probe, "module string").collect()
    assert len(rows) == 64
    assert {r.module for r in rows} == {_zipcache.__name__}
