"""The lazy zip-archive invalidation of ``openmetrics_spark._pyworker``:
a repeated ``importlib.invalidate_caches()`` must not re-read an
unchanged archive, a rewritten archive must be re-read, and a Python
worker that imports the package must have it installed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from openmetrics_spark import _pyworker  # the package import installs it

lazy_only = pytest.mark.skipif(
    sys.implementation.name != "cpython" or sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zip archives lazily itself",
)


def _write_zip(path, files: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@lazy_only
def test_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"om_zip_a.py": "X = 1\n"})
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    try:
        assert _pyworker.installed()
        assert importlib.import_module("om_zip_a").X == 1
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        # a second importer on the same archive shares the last read
        zipimport.zipimporter(archive).invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"om_zip_a.py": "X = 1\n", "om_zip_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("om_zip_b").Y == 2
    finally:
        for m in ("om_zip_a", "om_zip_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)


@lazy_only
def test_python_worker_has_lazy_zip_invalidation(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import openmetrics_spark.streaming.stateful  # noqa: F401
        from openmetrics_spark import _pyworker

        for _ in batches:
            pass
        archives = {
            f.archive
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        }
        # the first call records every archive not yet read through the
        # installed method; the second must re-read none
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame(
            {
                "installed": [_pyworker.installed()],
                "archives": [len(archives)],
                "rereads": [len(reads)],
            }
        )

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "installed boolean, archives int, rereads int")
        .collect()
    )
    assert row["installed"]
    # the worker imports pyspark from pyspark.zip; without zip importers
    # the re-read count below would show nothing
    assert row["archives"] > 0
    assert row["rereads"] == 0
