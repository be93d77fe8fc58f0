"""The Python worker daemon (kinesis_to_firehose_spark.worker_daemon):
on CPython < 3.12 a task's importlib.invalidate_caches() must not
re-read pyspark.zip, while an archive that really changed is still
re-read."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from kinesis_to_firehose_spark import worker_daemon

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ re-reads a zip archive lazily on its own",
)


def _pyspark_zip_cache_survives_invalidate(_):
    import importlib
    import sys
    import zipimport

    archives = {
        f.archive
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
        and os.path.basename(f.archive) == "pyspark.zip"
    }
    for archive in archives:
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        yield archive, zipimport._zip_directory_cache[archive] is before


@needs_patch
def test_task_does_not_reread_pyspark_zip(spark):
    got = (
        spark.sparkContext.parallelize(range(4), 2)
        .mapPartitions(_pyspark_zip_cache_survives_invalidate)
        .collect()
    )
    assert got, "Python workers did not import pyspark from pyspark.zip"
    assert all(same for _, same in got), got


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@needs_patch
def test_changed_archive_is_reread(tmp_path, monkeypatch):
    cls = zipimport.zipimporter
    monkeypatch.setattr(
        cls, "invalidate_caches", worker_daemon.stamped(cls.invalidate_caches)
    )
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipmod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipmod_a").A == 1
        importlib.invalidate_caches()  # first call reads and stamps
        cached = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is cached

        _write_zip(archive, {"zipmod_a": "A = 1\n", "zipmod_b": "B = 2\n"})
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not cached
        assert importlib.import_module("zipmod_b").B == 2
    finally:
        for name in ("zipmod_a", "zipmod_b"):
            sys.modules.pop(name, None)



def test_workers_get_the_package_root_on_their_path(spark):
    """The daemon module must import in workers whatever the driver's
    cwd, so get_spark puts the package root on their PYTHONPATH."""
    from kinesis_to_firehose_spark.session import PACKAGE_ROOT

    paths = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: os.environ["PYTHONPATH"].split(os.pathsep))
        .first()
    )
    assert PACKAGE_ROOT in paths
