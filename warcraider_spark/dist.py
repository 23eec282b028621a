"""Executor-side package distribution: one function,
``ensure_package_on_executors``.

Python workers deserialize pandas-UDF closures with cloudpickle, which
pickles module-level functions BY REFERENCE — the worker must be able to
``import warcraider_spark``. When the driving process runs from another
cwd (the correctness driver does), the repo isn't on the worker's
sys.path and every UDF dies with ModuleNotFoundError.

``ensure_package_on_executors`` zips the package once per process and
registers it with ``SparkContext.addPyFile`` — the idiomatic way to ship
a Python library to executors without assuming a shared filesystem or a
pre-provisioned image (works identically on a 1000-executor cluster).
Every UDF factory and stateful streaming operator calls it; repeat
calls are no-ops.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_package_on_executors(spark: SparkSession | None = None) -> None:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), f"warcraider_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join("warcraider_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED.add(app_id)
