"""Python workers started from ``asakusafw_spark_spark.pydaemon``: the
zip re-read rule on a temp archive, the builder's wiring, and the
per-task cost inside a real worker."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from asakusafw_spark_spark import pydaemon
from asakusafw_spark_spark.session import engine_builder

DAEMON = "spark.python.daemon.module"
PYTHONPATH = "spark.executorEnv.PYTHONPATH"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def spied_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding module ``zmod_a``, the wrapper
    installed, and the list of archives the original re-read (any
    other zip on this process's path shows up there too)."""
    archive = str(tmp_path / "mods.zip")
    write_zip(archive, ["zmod_a"])
    reads = []

    def spy(self):
        reads.append(self.archive)
        original(self)

    original = pydaemon._ORIGINAL
    monkeypatch.setattr(pydaemon, "_ORIGINAL", spy)
    monkeypatch.setattr(pydaemon, "_SIGNATURES", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(spied_zip):
    archive, reads = spied_zip
    assert importlib.import_module("zmod_a").NAME == "zmod_a"
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # the first call reads: no signature yet
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_rewritten_archive_is_reread_and_its_new_module_imports(spied_zip):
    archive, reads = spied_zip
    importlib.import_module("zmod_a")
    importlib.invalidate_caches()
    os.remove(archive)
    write_zip(archive, ["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zmod_b").NAME == "zmod_b"


def test_local_master_starts_workers_from_the_engine_daemon():
    options = engine_builder(master="local[2]")._options
    assert options[DAEMON] == "asakusafw_spark_spark.pydaemon"
    assert options[PYTHONPATH] == ROOT


def test_caller_daemon_choice_wins():
    for conf in ({DAEMON: "pyspark.daemon"}, {"spark.python.use.daemon": "false"}):
        options = engine_builder(master="local[2]", extra_conf=conf)._options
        assert options.get(DAEMON) == conf.get(DAEMON)
        assert PYTHONPATH not in options


def test_caller_pythonpath_is_merged():
    conf = {PYTHONPATH: os.pathsep.join(["/opt/a", ROOT, "/opt/b"])}
    options = engine_builder(master="local[2]", extra_conf=conf)._options
    assert options[PYTHONPATH] == conf[PYTHONPATH]
    options = engine_builder(master="local[2]", extra_conf={PYTHONPATH: "/opt/a"})._options
    assert options[PYTHONPATH] == os.pathsep.join(["/opt/a", ROOT])


def test_non_local_master_is_left_unchanged():
    options = engine_builder(master="spark://host:7077")._options
    assert DAEMON not in options and PYTHONPATH not in options


def test_warm_python_task_does_not_reread_archives(spark):
    def probe(batches):
        import importlib
        import time
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1000
        yield pd.DataFrame({"ms": [ms], "wrapper": [
            zipimport.zipimporter.invalidate_caches.__qualname__]})

    df = spark.range(1, numPartitions=1).mapInPandas(probe, "ms double, wrapper string")
    rows = [df.collect()[0] for _ in range(4)]
    assert {r.wrapper for r in rows} == {"_invalidate_if_changed"}
    # the daemon runs as __main__, so check the qualname; a re-read of
    # the spark-core jar and pyspark.zip costs ~100 ms a task
    assert min(r.ms for r in rows[1:]) < 5
