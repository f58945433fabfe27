"""The worker runtime default in ``session.py``: PySpark's per-task
``importlib.invalidate_caches()`` re-reads a zip archive's directory only
when the archive's stat changed, and imports still follow new and
rewritten zips."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from frames_map_reduce_spark import map_reduce, reduce_and_add_key, split_on_keys, unpack_no_op
from frames_map_reduce_spark.session import skip_unchanged_zip_reloads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_zip_reload_follows_stat(tmp_path, monkeypatch):
    """An unchanged zip is not re-read; a rewritten one is, and the module
    added to it imports."""
    if sys.version_info >= (3, 13):
        pytest.skip("CPython 3.13 reloads zip directories lazily itself")
    # restored at teardown: the driver keeps the stdlib method
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    skip_unchanged_zip_reloads()
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.stat_checked
    skip_unchanged_zip_reloads()            # idempotent
    assert zipimport.zipimporter.invalidate_caches is installed

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    tag = uuid.uuid4().hex[:8]
    a, b = f"fmr_zip_a_{tag}", f"fmr_zip_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {a: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(a).VALUE == 1
        importlib.invalidate_caches()       # learns the archive's stat
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads         # unchanged: not re-read

        _write_zip(archive, {a: "VALUE = 1\n", b: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(b).VALUE == 2
    finally:
        for name in (a, b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _warm_up(spark) -> None:
    """Run an engine grouped-map reduce twice, so the workers import the
    package the way any engine stage makes them."""
    df = spark.range(16).selectExpr("id % 4 AS k", "id AS v")
    q = map_reduce(df, unpack_no_op(), split_on_keys(["k"]),
                   reduce_and_add_key(
                       lambda pdf: pd.DataFrame({"s": [int(pdf["v"].sum())]}),
                       "s long"))
    for _ in range(2):
        assert sorted(r["s"] for r in q.collect()) == [24, 28, 32, 36]


def _zip_reads_per_task(_):
    """On a worker: (zip importers held, directory reads made by one
    ``importlib.invalidate_caches()``, Python version)."""
    import frames_map_reduce_spark  # noqa: F401  what unpickling any engine stage does

    held = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    # the first call after the import learns each archive's stat; the
    # next stands for the call PySpark makes at the start of every task
    importlib.invalidate_caches()
    read_directory, reads = zipimport._read_directory, []

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return held, len(reads), tuple(sys.version_info[:2])


def test_workers_skip_unchanged_zip_reloads(spark):
    """A warm Python worker re-parses no zip directory per task."""
    _warm_up(spark)
    got = spark.sparkContext.parallelize(range(4), 4) \
        .map(_zip_reads_per_task).collect()
    if all(held == 0 or version >= (3, 13) for held, _, version in got):
        pytest.skip("no worker reads zip archives through zipimport")
    reads = [n for held, n, _ in got if held]
    assert reads == [0] * len(reads)


def test_add_py_file_reaches_warm_workers(spark, tmp_path):
    """A zip shipped with addPyFile after the workers are warm imports
    inside a later task."""
    _warm_up(spark)
    name = f"fmr_shipped_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def shipped_value(_):
        return importlib.import_module(name).VALUE

    assert spark.sparkContext.parallelize(range(4), 4) \
        .map(shipped_value).collect() == [42] * 4
