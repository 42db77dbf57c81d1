"""Python worker daemon that imports PySpark from the installed package.

``get_spark`` names this module as ``spark.python.daemon.module`` for
local masters, so Spark starts the daemons of the workers that evaluate
tasks as ``python -m hyperswitch_data_backfill_spark.worker_daemon
pyspark.worker``. (Spark 4.1 starts the data-source planner daemons with
its default ``pyspark.daemon`` whatever that conf says.)

Spark puts ``pyspark.zip``, the py4j source zip and its own jar at the
front of the workers' ``PYTHONPATH``. PySpark calls
``importlib.invalidate_caches()`` on every evaluation, and each cached
zipimporter then re-reads its archive's directory (1,328 entries for
``pyspark.zip``). When the same PySpark version is installed further
down ``sys.path``, this module drops those archives, so workers import
the files the driver runs, then hands over to ``pyspark.daemon``.
Otherwise it changes nothing. It must import nothing from PySpark
itself, and so must the package ``__init__``.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith(".zip")))


def _first_package(path: list[str], name: str) -> str | None:
    for entry in path:
        pkg = os.path.join(entry or os.curdir, name)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def worker_path(path: list[str], pythonpath: str) -> list[str]:
    """``path`` without the Spark archives that ``pythonpath`` put on it.

    Returns ``path`` itself unless the rest of it holds an installed
    ``pyspark`` whose ``version.py`` equals the one in ``pyspark.zip``,
    and an installed ``py4j``.
    """
    archives = [e for e in pythonpath.split(os.pathsep)
                if e and _is_spark_archive(e)]
    rest = [e for e in path if e not in archives]
    zips = [e for e in archives if os.path.basename(e) == "pyspark.zip"]
    pyspark = _first_package(rest, "pyspark")
    if not zips or pyspark is None or _first_package(rest, "py4j") is None:
        return path
    try:
        with zipfile.ZipFile(zips[0]) as z, \
                open(os.path.join(pyspark, "version.py"), "rb") as f:
            same = z.read("pyspark/version.py") == f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if same else path


def main() -> None:
    path = worker_path(sys.path, os.environ.get("PYTHONPATH", ""))
    for entry in set(sys.path) - set(path):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = path
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
