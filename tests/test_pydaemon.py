"""The Python-worker daemon's zip-directory guard (pydaemon.py)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest


@pytest.fixture
def guard(monkeypatch):
    """Install the guard for one test and restore the stock method after."""
    from inverted_index_using_the_map_reduce_paradigm_spark import pydaemon

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon._invalidate_caches
    )
    return pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_guard_parses_unchanged_archive_once_and_rereads_a_rewrite(
    guard, tmp_path, monkeypatch
):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"graft_zip_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    try:
        import graft_zip_a

        assert graft_zip_a.X == 1
        importlib.invalidate_caches()
        n = len(reads)
        assert n >= 1
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == n  # unchanged archive: not parsed again
        other = zipimport.zipimporter(archive)  # off sys.path, same archive

        _write_zip(archive, {"graft_zip_a": "X = 1\n", "graft_zip_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1  # rewritten archive: parsed once more
        import graft_zip_b

        assert graft_zip_b.Y == 2
        # a second importer of the archive takes that parse, not a new one
        assert other.find_spec("graft_zip_b") is None
        other.invalidate_caches()
        assert len(reads) == n + 1
        assert other.find_spec("graft_zip_b") is not None
    finally:
        for name in ("graft_zip_a", "graft_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_get_spark_workers_run_the_guard(spark):
    """get_spark starts Python workers through the engine's daemon."""

    def probe(_):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        yield code.co_name, code.co_filename

    [(name, filename)] = spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe
    ).collect()
    assert name == "_invalidate_caches"
    assert filename.endswith(
        os.path.join("inverted_index_using_the_map_reduce_paradigm_spark", "pydaemon.py")
    )
