"""The engine's Python daemon skips re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` on every task;
before Python 3.13 that re-reads the directory of every zip archive on the
worker's path, once per ``zipimporter`` (about 16 for ``pyspark.zip``).
``tile_processor_spark.pydaemon`` guards the re-read with the archive's
stat signature. Both checks count ``zipimport._read_directory`` calls.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from tile_processor_spark import pydaemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13+ re-reads zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    # restore the unguarded method after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"tps_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("tps_zip_a", "tps_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert pydaemon.install()
    assert importlib.import_module("tps_zip_a").X == 1
    importlib.invalidate_caches()  # the guard's first read of the archive

    real = zipimport._read_directory
    reads = []

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"tps_zip_a": "X = 1\n", "tps_zip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("tps_zip_b").Y == 2


def test_python_task_rereads_no_archive(spark):
    def count_reads(batches):
        import importlib
        import zipimport

        import pandas as pd

        real = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for batch in batches:
            yield pd.DataFrame({"reads": [len(reads)] * len(batch)})

    df = spark.range(4, numPartitions=4).mapInPandas(count_reads, "reads long")
    assert {r.reads for r in df.collect()} == {0}
