"""The package's stat-validated `zipimporter.invalidate_caches`.

A Python worker calls `importlib.invalidate_caches()` at the start of every
task; on CPython < 3.12 the stdlib zipimporter then re-parses each archive's
whole central directory. `feasts_spark` replaces that method so an archive
is re-read only when its (mtime, size) changed.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import feasts_spark  # noqa: F401  (installs the method on CPython < 3.12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread_and_a_rewrite_is_seen(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(archive)
    for name in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        importlib.invalidate_caches()  # records the archive's stat

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["m1", "m2"])
        importlib.invalidate_caches()
        assert importlib.import_module("m2").NAME == "m2"
        assert reads
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_method_is_replaced_only_before_312():
    method = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12):
        assert method.__module__ == "zipimport"
    else:
        assert method.__module__ == "feasts_spark"


def test_reused_workers_run_the_engine_method(spark):
    from feasts_spark.operators.compression import compress_chunks

    rows = pd.DataFrame({
        "series_key": ["a"] * 3 + ["b"] * 3,
        "bucket_ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00",
                                     "2024-01-01 02:00"] * 2),
        "val_avg": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    })
    assert compress_chunks(spark.createDataFrame(rows), "1h").count() == 2

    def probe(batches):
        # Defined here so cloudpickle ships it by value: running it does
        # not import feasts_spark, so `loaded` says whether an earlier
        # engine task did.
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        loaded = "feasts_spark" in sys.modules
        reads = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "loaded": [loaded],
            "method": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [reads[0]],
        })

    n = 4 * spark.sparkContext.defaultParallelism
    got = (
        spark.range(n, numPartitions=n)
        .mapInPandas(probe, "pid long, loaded boolean, method string, reads int")
        .toPandas()
    )
    assert len(got) == n
    assert got["loaded"].any(), got
    fresh = got[~got["loaded"]]
    assert (fresh["method"] == "zipimport").all(), got
    engine = got[got["loaded"]]
    if sys.version_info >= (3, 12):
        assert (engine["method"] == "zipimport").all(), got
    else:
        assert (engine["method"] == "feasts_spark").all(), got
        assert (engine["reads"] == 0).all(), got
