"""Session factory and the Python-worker daemon it names."""

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from nyc_tlc_trip_data_pipelines_spark import session, worker_daemon

DAEMON = "nyc_tlc_trip_data_pipelines_spark.worker_daemon"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the stock call is lazy from 3.12")
def test_daemon_rereads_zip_only_when_it_changes(tmp_path, monkeypatch):
    """``invalidate_caches`` on an unchanged archive reads nothing; a
    rewritten archive is re-read once and exposes its new entry to every
    importer of it."""
    reads = []
    stock = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return stock(archive)

    # restored on teardown, so the patch stays inside this test
    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_READS", {})
    worker_daemon.install()

    path = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "X = 1\n")
    first, second = zipimport.zipimporter(path), zipimport.zipimporter(path)
    for imp in (first, second, first):
        imp.invalidate_caches()
    assert reads == [path]  # the constructor's read only
    assert first.find_spec("b") is None

    with zipfile.ZipFile(path, "a") as z:
        z.writestr("b.py", "Y = 2\n")
    first.invalidate_caches()
    second.invalidate_caches()
    assert reads == [path, path]
    assert first.find_spec("b") is not None and second.find_spec("b") is not None


def test_worker_confs_only_for_local_masters():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert session.worker_confs(master) == {}
    assert session.worker_confs("local[2]") == {"spark.python.daemon.module": DAEMON}


@pytest.fixture(scope="module")
def outside_session(tmp_path_factory):
    """Run ``get_spark`` in a child process started from a directory
    outside the checkout, with the package on the driver's path only, a
    submit-time executor ``PYTHONPATH`` and a 2g driver heap (spark-submit's
    default is 1g); return the paths and the child's printed lines."""
    tmp_path = tmp_path_factory.mktemp("outside")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {session.PACKAGE_ROOT!r})
        import pandas as pd
        from nyc_tlc_trip_data_pipelines_spark.session import get_spark

        def probe(it):
            import zipimport
            for pdf in it:
                patched = getattr(zipimport._read_directory, "_stat_keyed", False)
                yield pd.DataFrame({{"id": pdf["id"] * 2, "patched": patched}})

        spark = get_spark("daemon-test")
        sc = spark.sparkContext
        print(sc.getConf().get("spark.python.daemon.module"))
        print(sc.environment["PYTHONPATH"])
        print(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
        rows = spark.range(10).mapInPandas(probe, "id long, patched boolean").collect()
        print(sum(r.id for r in rows), all(r.patched for r in rows))
        spark.stop()
        """
    )
    extra = str(tmp_path / "extra")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_MASTER="local[2]",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_SUBMIT_ARGS=f"--conf spark.executorEnv.PYTHONPATH={extra} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return extra, out.stdout.strip().splitlines()[-4:]


def test_get_spark_outside_checkout_runs_python_workers(outside_session):
    """The workers find the daemon through the package root merged into
    the workers' ``PYTHONPATH``, which keeps the submit-time value."""
    extra, (daemon, path, _, result) = outside_session
    assert daemon == DAEMON
    assert path == os.pathsep.join([session.PACKAGE_ROOT, extra])
    assert result == "90 True"


def test_get_spark_driver_heap_follows_env(outside_session):
    """``SPARK_GRAFT_DRIVER_MEM`` reaches the JVM: nothing starts the JVM
    before the builder hands it ``spark.driver.memory``."""
    _, (_, _, max_memory, _) = outside_session
    assert int(max_memory) > 1.5 * 2**30
