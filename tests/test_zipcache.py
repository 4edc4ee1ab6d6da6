"""``core/zipcache.py``: ``importlib.invalidate_caches()`` does not re-read
an unchanged zip, still picks up a rewritten one and survives a deleted
one (on every CPython: 3.12+ is lazy by itself), and a Python worker
that has run a library UDF carries the stat-keyed importer method."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from dataflows_spark.functions.audio import decode_stats


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_zips(tmp_path, monkeypatch):
    archive = str(tmp_path / "zc_lib.zip")
    _write_zip(archive, {"zc_old": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_old").VALUE == 1
        importlib.invalidate_caches()  # the first call may read: nothing recorded yet
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))

        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zc_old": "VALUE = 1\n", "zc_new": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zc_new").VALUE == 2
        assert archive in reads, "a rewritten zip must be read again"

        (tmp_path / "zc_lib.zip").unlink()
        importlib.invalidate_caches()  # must not raise
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_old", "zc_new"):
            sys.modules.pop(name, None)


def test_worker_runs_the_stat_keyed_importer(spark):
    # the fix lives in the reused worker; it is Spark's default, and
    # build_session must not turn it off
    assert spark.sparkContext.getConf().get("spark.python.worker.reuse", "true") == "true"

    # a nested function is pickled by value, so this probe does not
    # import dataflows_spark itself: only decode_stats, run in the same
    # Python worker by the same projection, does
    @F.pandas_udf("string")
    def importer_method(x: pd.Series) -> pd.Series:
        import sys as _sys
        import zipimport as _zipimport

        owner = _zipimport.zipimporter.invalidate_caches.__module__
        return pd.Series([f"{owner}|{'dataflows_spark' in _sys.modules}"] * len(x))

    df = spark.createDataFrame([(b"\x00\x01" * 64, "pcm_s16le")], "raw binary, codec string").coalesce(1)
    row = df.select(decode_stats("raw", "codec").alias("s"), importer_method("codec").alias("m")).first()
    assert row.s.n_samples == 64
    owner, imported = row.m.split("|")
    assert imported == "True"
    expected = "dataflows_spark.core.zipcache" if sys.version_info < (3, 12) else "zipimport"
    assert owner == expected
