"""Ship this package to executors.

Closures passed to mapInPandas / pandas UDFs that reference module-level
functions are cloudpickled BY REFERENCE — the Python worker must be able
to ``import nyc_tlc_trip_data_pipelines_spark`` or the task dies with
ModuleNotFoundError (bites whenever the driver process was launched from
a different cwd, e.g. the verification driver). On a real cluster this
is the standard --py-files deployment; here we build the zip on demand
and ``addPyFile`` it once per SparkContext.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_nyc_tlc_pkg_shipped"


def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    from nyc_tlc_trip_data_pipelines_spark.io import scratch_dir

    zpath = os.path.join(scratch_dir("nyc_tlc_pkg_"), "nyc_tlc_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    setattr(sc, _SHIPPED_ATTR, True)
