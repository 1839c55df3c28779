"""The Python worker's stat-checked zipimport refresh
(workerpath/pyspark_zipcache_worker.py): a reused worker's later tasks
re-read no zip directory, a changed archive is still re-read, and
session.get_spark sets the worker conf on local masters only, keeping
the caller's values."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from cyborgdb_encrypted_vector_search_spark import session


def test_reused_worker_rereads_no_zip_directory(spark):
    """The first task on a worker wraps ``zipimport._read_directory``
    in a counter; a later task on the same worker reads the count its
    own set-up (``setup_spark_files`` → ``importlib.invalidate_caches``)
    added."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            reads = zipimport._probe_reads = [0]
            stock = zipimport._read_directory

            def counted(path):
                reads[0] += 1
                return stock(path)

            zipimport._read_directory = counted
            seen = -1
        else:
            seen, reads[0] = reads[0], 0
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "reads": [seen],
            "refresh": [zipimport.zipimporter.invalidate_caches.__name__],
        })

    schema = "pid long, reads long, refresh string"
    wrapped = set()
    # the idle workers left by earlier tests take these jobs in turn,
    # so each may take one job before a job lands on a wrapped one
    for _ in range(32):
        row = spark.range(0, 1, 1, 1).mapInArrow(probe, schema).collect()[0]
        assert row["refresh"] == "stat_checked_refresh"
        if row["reads"] >= 0:
            break
        wrapped.add(row["pid"])
    assert row["pid"] in wrapped
    assert row["reads"] == 0


@pytest.fixture
def hook(monkeypatch):
    """The worker module, imported here with its refresh installed for
    this test only."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(session.WORKER_DIR)
    mod = importlib.import_module(session.WORKER_MODULE)
    assert mod.install()
    assert zipimport.zipimporter.invalidate_caches is mod.stat_checked_refresh
    return mod


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_changed_archive_is_reread(hook, tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_probe_a": "VALUE = 1\n"})
    reads = []
    stock = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: (reads.append(p), stock(p))[1]
    )
    monkeypatch.syspath_prepend(archive)
    names = ("zc_probe_a", "zc_probe_b")
    try:
        assert importlib.import_module("zc_probe_a").VALUE == 1

        def refreshes():
            reads.clear()
            importlib.invalidate_caches()
            return reads.count(archive)

        assert refreshes() == 1  # the first refresh stamps the archive
        assert refreshes() == 0  # unchanged: the cached directory is reused
        assert refreshes() == 0

        # a new module changes the size: re-read, and the module imports
        _write_zip(archive, {"zc_probe_a": "VALUE = 1\n", "zc_probe_b": "VALUE = 2\n"})
        assert refreshes() == 1
        assert importlib.import_module("zc_probe_b").VALUE == 2
        assert refreshes() == 0

        # same size, later mtime: re-read, and the new bytes are served
        st = os.stat(archive)
        _write_zip(archive, {"zc_probe_a": "VALUE = 3\n", "zc_probe_b": "VALUE = 2\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert os.stat(archive).st_size == st.st_size
        assert refreshes() == 1
        sys.modules.pop("zc_probe_a")
        assert importlib.import_module("zc_probe_a").VALUE == 3

        # a missing archive empties the importer, as the stock refresh does
        os.remove(archive)
        assert refreshes() == 1
        assert archive not in zipimport._zip_directory_cache
    finally:
        for name in names:
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


class _Builder:
    """Records the conf a SparkSession builder is given."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def built(monkeypatch):
    class FakeSession:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)

    def build(master, extra_conf=None):
        FakeSession.builder = _Builder()
        return session.get_spark(master=master, extra_conf=extra_conf)

    return build


def test_get_spark_worker_conf_local_only(built):
    conf = built("local[2]")
    assert conf["spark.python.worker.module"] == session.WORKER_MODULE
    assert conf["spark.executorEnv.PYTHONPATH"] == session.WORKER_DIR
    assert os.path.isfile(os.path.join(session.WORKER_DIR, session.WORKER_MODULE + ".py"))
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        conf = built(master)
        assert "spark.python.worker.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf


def test_get_spark_keeps_callers_worker_conf(built):
    caller = {
        "spark.python.worker.module": "pyspark_callers_worker",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/a", "/b"]),
    }
    conf = built("local[2]", dict(caller))
    assert conf["spark.python.worker.module"] == "pyspark_callers_worker"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [session.WORKER_DIR, "/a", "/b"]
    )
    conf = built("yarn", dict(caller))
    assert {k: conf[k] for k in caller} == caller
