"""Ship the aruna_spark package to Python workers (addPyFile).

Pandas-UDF closures that call package helpers are pickled **by reference**
to their module, so the executor-side Python workers must be able to
``import aruna_spark``. That holds when the driver process happens to run
from the repo root (workers inherit the cwd) but NOT under an arbitrary
host session — e.g. a harness that builds its own SparkSession elsewhere:
every applyInPandas/mapInPandas stage then dies with
``ModuleNotFoundError: aruna_spark``.

Fix: zip the package once per SparkContext and ``addPyFile`` it — Spark
distributes the zip to every executor and prepends it to the worker's
``sys.path``. This is also exactly what a real 1000-executor deployment
needs (``spark-submit --py-files``); calling it lazily from each UDF-backed
operator makes the library self-contained no matter who owns the session.

The zip is deleted when the driver process exits, not after ``addPyFile``:
executors fetch it from the driver whenever they first need it.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotently distribute aruna_spark's sources to the workers."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="aruna_spark_pyfiles_")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirnames, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    atexit.register(_remove, zpath)
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)
