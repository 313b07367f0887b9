"""Python-worker set-up: the zip-directory cache guard.

A reused PySpark worker calls ``importlib.invalidate_caches()`` before
every task, which makes each zipimporter re-read its archive's whole
directory.  ``fuzzspark._worker`` wraps that call so an archive is only
re-read after it changed on disk.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from fuzzspark import _worker


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test; monkeypatch restores the
    original ``invalidate_caches`` afterwards, so the test process's
    import system is left as it was."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    _worker.install_zip_cache_guard()
    _worker.install_zip_cache_guard()  # idempotent: wraps once
    return reads


def test_zip_guard_rereads_only_changed_archives(guarded, tmp_path,
                                                 monkeypatch):
    reads = guarded
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"zg_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zg_first", "zg_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zg_first
    assert zg_first.VALUE == 1

    def reads_of_archive():
        return sum(r == archive for r in reads)

    importlib.invalidate_caches()   # first call under the guard: read
    base = reads_of_archive()
    for _ in range(3):              # unchanged archive: never re-read
        importlib.invalidate_caches()
    assert reads_of_archive() == base

    # rewrite it with a new member: the next invalidation re-reads it
    # and the new member imports
    _write_zip(archive, {"zg_first.py": "VALUE = 1\n",
                         "zg_second.py": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads_of_archive() == base + 1
    import zg_second
    assert zg_second.VALUE == 2
    importlib.invalidate_caches()
    assert reads_of_archive() == base + 1


def test_zip_guard_not_installed_outside_workers(spark):
    """Importing fuzzspark outside a Python worker leaves zipimport
    alone."""
    assert not _worker.in_python_worker()
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_stamp_guard", False)


def test_zip_guard_installed_in_reused_workers(spark):
    """Once a worker has run a fuzzspark task, its later tasks start
    under the guard: the task-start invalidation went through it and
    stamped the worker's zipimporters.  The probe itself never imports
    fuzzspark."""
    from pyspark.sql import functions as F
    from fuzzspark.functions import scorer_column

    pairs = spark.range(0, 400, 1, 8).selectExpr(
        "cast(id as string) s1", "cast(id * 7 as string) s2")
    pairs.withColumn("r", scorer_column("ratio", "s1", "s2")) \
        .agg(F.sum("r")).collect()

    def probe(batches):
        import os as _os
        import sys as _sys
        import zipimport as _zi
        import pandas as pd
        zips = [f for f in _sys.path_importer_cache.values()
                if isinstance(f, _zi.zipimporter)]
        yield pd.DataFrame({
            "pid": [_os.getpid()],
            "fuzzspark": ["fuzzspark" in _sys.modules],
            "guarded": [bool(getattr(_zi.zipimporter.invalidate_caches,
                                     "_stamp_guard", False))],
            "zips": [len(zips)],
            "stamped": [sum(hasattr(z, "_read_stamp") for z in zips)]})
        for _ in batches:
            pass

    rows = spark.range(0, 8, 1, 8).mapInPandas(
        probe, "pid long, fuzzspark boolean, guarded boolean, zips long,"
               " stamped long").collect()
    reused = [r for r in rows if r["fuzzspark"]]
    assert reused, "no probe task ran in a worker that scored before"
    for r in reused:
        assert r["guarded"] and r["stamped"] > 0, r
