"""Session sizing from the host, and the worker daemon's archive-reread patch."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from poc_parquet_aggregator_spark.plans import session, worker_daemon

OLD_CPYTHON = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads zip archives lazily"
)


def test_driver_memory_is_half_the_host():
    assert session.host_driver_memory(16 * 2**30) == "8192m"
    assert session.host_driver_memory(15 * 2**30 + 123) == "7680m"
    # never below 1 GiB, however small the host
    assert session.host_driver_memory(512 * 2**20) == "1024m"
    mb = int(session.host_driver_memory().rstrip("m"))
    assert 1024 <= mb


def test_session_conf_sized_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cores, conf = session.session_conf()
    assert cores == session.host_cores() >= 1
    assert conf["spark.driver.memory"] == session.host_driver_memory()
    assert conf["spark.default.parallelism"] == str(cores)
    assert conf["spark.python.daemon.module"] == worker_daemon.__name__


def test_session_conf_env_and_args_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    cores, conf = session.session_conf()
    assert cores == 3
    assert conf["spark.driver.memory"] == "2g"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    cores, conf = session.session_conf(cores=5, extra_conf={"spark.driver.memory": "1g"})
    assert cores == 5
    assert conf["spark.driver.memory"] == "1g"


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@OLD_CPYTHON
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    # restored after the test: install() patches the class for the process
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"wd_probe_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("wd_probe_a", "wd_probe_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("wd_probe_a").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    assert worker_daemon.install()
    importlib.invalidate_caches()  # first call in this process reads it
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files  # unchanged archive: directory not re-read

    _write_zip(archive, {"wd_probe_a.py": "X = 1\n", "wd_probe_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("wd_probe_b").Y == 2


def test_install_is_a_no_op_from_cpython_3_12(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    assert not worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


@OLD_CPYTHON
def test_python_tasks_run_under_the_patched_daemon():
    from poc_parquet_aggregator_spark.plans import get_spark

    spark = get_spark(
        "session_tests", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )

    def patched_in(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(2), 2).mapPartitions(patched_in).collect()
    assert files == [worker_daemon.__file__] * 2
