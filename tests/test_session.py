"""Python worker daemon of engine-built sessions (``session.get_spark``,
``worker_daemon``): workers import PySpark from the installed package the
driver runs, not from Spark's ``pyspark.zip``, and keep ``addPyFile``
working; sessions built elsewhere keep Spark's default daemon."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid
import zipfile

import pytest

from hyperswitch_data_backfill_spark import session as session_mod
from hyperswitch_data_backfill_spark.worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_state(_):
    import os
    import sys
    import zipimport

    import pyspark
    from pyspark import SparkFiles

    # zips shipped with addPyFile (by this module's other test, on the
    # same session) are meant to be zipimported
    shipped = os.path.realpath(SparkFiles.getRootDirectory())
    zips = [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and not os.path.realpath(k).startswith(shipped)]
    yield pyspark.__file__, zips


def test_workers_import_the_drivers_pyspark(spark):
    import pyspark

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == session_mod._DAEMON_MODULE
    for _ in range(2):  # fresh workers, then reused ones
        states = sc.parallelize(range(2), 2).mapPartitions(_worker_state).collect()
        for worker_file, zips in states:
            assert os.path.realpath(worker_file) == os.path.realpath(pyspark.__file__)
            assert zips == []


def test_add_py_file_after_workers_started(spark, tmp_path):
    """The contract ``importlib.invalidate_caches()`` serves: files shipped
    with ``addPyFile`` after the workers started import in the next task."""
    sc = spark.sparkContext
    assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]
    zname, pname = (f"shipped_{kind}_{uuid.uuid4().hex}" for kind in ("zip", "py"))
    archive = tmp_path / f"{zname}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{zname}/__init__.py", "VALUE = 'from-zip'\n")
    (tmp_path / f"{pname}.py").write_text("VALUE = 'from-py'\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(tmp_path / f"{pname}.py"))

    def load(_):
        import importlib
        yield (importlib.import_module(zname).VALUE,
               importlib.import_module(pname).VALUE)

    assert sc.parallelize(range(2), 2).mapPartitions(load).collect() == [
        ("from-zip", "from-py")] * 2


_VANILLA = """
import json
from pyspark.sql import SparkSession
from hyperswitch_data_backfill_spark.session import prepare_session
spark = prepare_session(SparkSession.builder.master("local[1]").getOrCreate())
def where(_):
    import pyspark
    yield pyspark.__file__
files = spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()
print(json.dumps([spark.sparkContext.getConf().get("spark.python.daemon.module", None),
                  files]))
spark.stop()
"""


def test_other_sessions_keep_sparks_daemon():
    """A session the verify driver builds, then ``prepare_session``s,
    keeps the default daemon and its workers' ``pyspark.zip``."""
    out = subprocess.run([sys.executable, "-c", _VANILLA], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    module, files = json.loads(out.stdout.strip().splitlines()[-1])
    assert module is None
    assert len(files) == 1 and "pyspark.zip" in files[0]


# -- path selection, Spark-free ----------------------------------------


def _spark_lib(root, version="4.1.2"):
    lib = root / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = root / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir(parents=True)
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    return [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"), str(jar)]


def _site(root, version="4.1.2", packages=("pyspark", "py4j")):
    site = root / "site-packages"
    for name in packages:
        (site / name).mkdir(parents=True)
        (site / name / "__init__.py").write_text("")
    if "pyspark" in packages:
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{version}'\n")
    return str(site)


def _worker_sys_path(cwd, archives, site):
    return [cwd, *archives, "/usr/lib/python311.zip", site]


def test_worker_path_drops_the_archives_of_an_installed_version(tmp_path):
    archives = _spark_lib(tmp_path)
    path = _worker_sys_path(str(tmp_path), archives, _site(tmp_path))
    assert worker_path(path, os.pathsep.join(archives)) == [
        str(tmp_path), "/usr/lib/python311.zip", str(tmp_path / "site-packages")]


@pytest.mark.parametrize("case", ["no_pyspark", "other_version", "no_py4j"])
def test_worker_path_unchanged_without_a_matching_install(tmp_path, case):
    archives = _spark_lib(tmp_path)
    site = _site(tmp_path,
                 version="4.0.0" if case == "other_version" else "4.1.2",
                 packages={"no_pyspark": ("py4j",),
                           "no_py4j": ("pyspark",)}.get(case, ("pyspark", "py4j")))
    path = _worker_sys_path(str(tmp_path), archives, site)
    assert worker_path(path, os.pathsep.join(archives)) == path


def test_worker_path_keeps_archives_not_from_pythonpath(tmp_path):
    archives = _spark_lib(tmp_path)
    path = _worker_sys_path(str(tmp_path), archives, _site(tmp_path))
    assert worker_path(path, "") == path


def test_workers_import_package_needs_cwd_or_pythonpath(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    assert not session_mod._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), REPO]))
    assert session_mod._workers_import_package()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(REPO)
    assert session_mod._workers_import_package()
