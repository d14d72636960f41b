"""``session.get_spark`` and the Python worker daemon it selects.

``geotrellis_spark.pydaemon`` keeps PySpark's per-task
``importlib.invalidate_caches()`` from re-reading unchanged zip
archives; a changed or removed archive must still be re-read or
dropped, and the suite's own session must run its workers under it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

from geotrellis_spark import pydaemon, session


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(
    not pydaemon.READS_EAGERLY,
    reason="this interpreter's zipimporter already invalidates lazily",
)
def test_lazy_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["gt_zmod_a"])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        pydaemon.lazy_invalidate_caches(),
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("gt_zmod_a").NAME == "gt_zmod_a"
        del reads[:]
        importlib.invalidate_caches()  # first call reads and records
        assert len(reads) == 1
        for _ in range(3):  # unchanged archive: never re-read
            importlib.invalidate_caches()
        assert len(reads) == 1

        _write_zip(archive, ["gt_zmod_a", "gt_zmod_b"])  # rewritten
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("gt_zmod_b").NAME == "gt_zmod_b"

        os.remove(archive)  # removed: dropped from the shared cache
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert sys.path_importer_cache[archive]._files == {}
    finally:
        for name in ("gt_zmod_a", "gt_zmod_b"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_workers_run_under_engine_daemon(spark):
    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa

        from geotrellis_spark import pydaemon

        def spec_name(module):
            mod = sys.modules[module]
            return getattr(mod.__spec__, "name", module)

        invalidate = zipimport.zipimporter.invalidate_caches
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict({
                "daemon": [spec_name("__main__")] * n,
                "invalidate": [spec_name(invalidate.__module__)] * n,
                "eager": [pydaemon.READS_EAGERLY] * n,
            })

    rows = set(
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(report, "daemon string, invalidate string, eager boolean")
        .collect()
    )
    assert len(rows) == 1
    daemon, invalidate, eager = rows.pop()
    assert daemon == "geotrellis_spark.pydaemon"
    assert invalidate == ("geotrellis_spark.pydaemon" if eager else "zipimport")


class _Builder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``."""

    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )


@pytest.mark.parametrize(
    "cores,env,want",
    [(None, None, "local[3]"), (None, "6", "local[6]"), (2, "6", "local[2]")],
)
def test_get_spark_cores_default_and_daemon(monkeypatch, cores, env, want):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    session.get_spark(cores=cores)
    assert builder.conf["master"] == want
    assert builder.conf["spark.python.daemon.module"] == "geotrellis_spark.pydaemon"
    assert builder.conf["spark.sql.codegen.cache.maxEntries"] == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    assert session.CODEGEN_CACHE_ENTRIES > 100  # Spark's default
