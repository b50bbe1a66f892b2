"""The worker daemon's zipimport fix: an unchanged archive's directory is
read once, not once per ``importlib.invalidate_caches()``; a rewritten
archive is still re-read."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F
import pytest

from airflow_etl_elt_spark import _pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    a, b = "_pydaemon_probe_a", "_pydaemon_probe_b"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, [a])
    # restored at teardown, so the fix stays local to this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        _pydaemon.install()
        assert importlib.import_module(a).NAME == a

        _write_zip(archive, [a, b])
        importlib.invalidate_caches()
        assert importlib.import_module(b).NAME == b

        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
        )
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads
    finally:
        for name in (a, b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_worker_tasks_keep_zip_directory(spark):
    """Inside a Python worker, ``importlib.invalidate_caches()`` (which
    PySpark calls per task) leaves the directory of an unchanged zip on
    the worker path in place instead of re-reading it."""
    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        zips = [p for p in sys.path if p in zipimport._zip_directory_cache]
        if not zips:
            return pd.Series(["no-zip"] * len(s))
        before = zipimport._zip_directory_cache[zips[0]]
        importlib.invalidate_caches()
        kept = zipimport._zip_directory_cache[zips[0]] is before
        return pd.Series([str(kept)] * len(s))

    seen = {r[0] for r in spark.range(4).select(probe("id")).collect()}
    if seen == {"no-zip"}:
        pytest.skip("the worker's sys.path holds no zip (pip-only layout)")
    assert seen == {"True"}
