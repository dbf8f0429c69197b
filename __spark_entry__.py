"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship entity-resolution query on
/root/testdata/sf0.001; ``queries()`` / ``oracle_sql()`` expose one
operator per SURVEY.md §2 item, implemented in
name_matching_spark/contract*.py (Spark side calls the real package
operators; oracles are dialect-portable DuckDB SQL over the same tables).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Make the package importable on EXECUTOR python workers regardless of
    the harness cwd/PYTHONPATH: sys.path insertion above only fixes the
    driver; pickled pandas UDFs resolve `name_matching_spark` by name
    inside the workers, so ship the package with addPyFile (idempotent per
    SparkContext)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile

    pkg = os.path.join(_REPO, "name_matching_spark")
    z = os.path.join(tempfile.gettempdir(), f"nm_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(z):
        with zipfile.ZipFile(z, "w") as zf:
            for root, _dirs, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        zf.write(full, os.path.relpath(full, _REPO))
    sc.addPyFile(z)
    _SHIPPED.add(key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: company-name corpus from sf0.001 → interleaved-span
    documents → extract → normalize → block → score → threshold-accept →
    large-star/small-star CC → (name, cluster, group_name)."""
    _ensure_shipped(spark)
    from name_matching_spark.contract import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from name_matching_spark.contract import all_queries

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)

        return run

    return {k: _wrap(v) for k, v in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from name_matching_spark.contract import all_oracles

    return all_oracles()
