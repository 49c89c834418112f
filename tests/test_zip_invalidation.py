"""Stat-checked zip-importer invalidation (``session._stat_checked_zip_
invalidation``): PySpark's worker calls ``importlib.invalidate_caches()``
before every task, which on Python < 3.13 re-parses every zip archive on
``sys.path``.  The patch skips the re-parse while an archive is unchanged,
and must still see an archive rewritten in place through every importer
on it."""

from __future__ import annotations

import sys
import uuid
import zipfile
import zipimport

import pytest

from foglamp_filter_python35_spark import session

pre_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 zipimport invalidates lazily"
)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores zipimport."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    session._stat_checked_zip_invalidation()


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pre_313
def test_unchanged_zip_keeps_each_importers_files(patched, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"top.py": "X = 1\n", "pkg/__init__.py": ""})
    importers = [
        zipimport.zipimporter(archive),
        zipimport.zipimporter(f"{archive}/pkg/"),
    ]
    for imp in importers:  # an importer with no key yet re-reads once
        imp.invalidate_caches()
    files = [imp._files for imp in importers]
    for imp in importers:
        imp.invalidate_caches()
    assert all(imp._files is f for imp, f in zip(importers, files))


@pre_313
def test_rewritten_zip_is_seen_by_root_and_prefix_importers(patched, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"top.py": "X = 1\n", "pkg/__init__.py": ""})
    root = zipimport.zipimporter(archive)
    prefix = zipimport.zipimporter(f"{archive}/pkg/")
    for imp in (root, prefix):
        imp.invalidate_caches()
    assert root.find_spec("newtop") is None
    assert prefix.find_spec("pkg.b") is None

    # rewrite in place (same inode), adding a module at each level
    _write_zip(
        archive,
        {
            "top.py": "X = 1\n",
            "newtop.py": "Y = 2\n",
            "pkg/__init__.py": "",
            "pkg/b.py": "Z = 3\n",
        },
    )
    for imp in (root, prefix):
        imp.invalidate_caches()
    assert root.find_spec("newtop") is not None
    assert prefix.find_spec("pkg.b") is not None


@pre_313
def test_install_is_idempotent(patched):
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.__module__ == session.__name__
    session._stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_install_is_a_noop_on_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session._stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is original


def test_driver_import_leaves_zipimport_alone():
    # the driver has no TaskContext, so importing the package installs nothing
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


# --- inside Spark's Python workers ------------------------------------------


def _t9_job(spark):
    import datetime as dt

    from foglamp_filter_python35_spark.config import FilterConfig
    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
    from foglamp_filter_python35_spark.operators.python_filter import (
        run_python_filter,
    )

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, "lab1", t0, t0, {"power": float(i)}, {}) for i in range(8)],
        READING_SCHEMA,
    ).repartition(4)
    out = run_python_filter(df, lambda readings: readings, FilterConfig())
    assert out.count() == 8


@pre_313
def test_worker_runs_stat_checked_invalidation_after_t9(spark):
    _t9_job(spark)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import foglamp_filter_python35_spark  # noqa: F401

        importlib.invalidate_caches()
        zips = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        kept = sum(f._files is b for f, b in zip(zips, before))
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "patched_by": [zipimport.zipimporter.invalidate_caches.__module__],
                "zips": [len(zips)],
                "kept": [kept],
            }
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "patched_by string, zips int, kept int")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.patched_by == session.__name__
        assert r.zips > 0  # pyspark.zip at least
        assert r.kept == r.zips


def test_add_py_file_mid_session_imports_in_udf(spark, tmp_path):
    _t9_job(spark)
    mod = f"shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {f"{mod}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def use_shipped(batches):
        import importlib

        import pandas as pd

        value = importlib.import_module(mod).VALUE
        for b in batches:
            yield pd.DataFrame({"v": [value] * len(b)})

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(use_shipped, "v long")
        .collect()
    )
    assert [r.v for r in rows] == [42] * 8
