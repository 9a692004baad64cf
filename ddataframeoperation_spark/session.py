"""SparkSession factory tuned for both local testing and cluster scale.

The reference ran a single eager R process (``R/DataFrameOperationR.R`` —
no parallelism at all); here the session is the unit of scale. Defaults:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  plan is always wrong somewhere, AQE fixes partition counts and skewed
  joins from runtime stats;
- shuffle partitions sized to local cores for tests (a cluster deployment
  overrides via ``spark.sql.shuffle.partitions`` / relies on AQE advisory
  sizing);
- Arrow enabled so any Pandas-UDF boundary is vectorized, never row-at-a-time;
- UTC session timezone so timestamp semantics are stable vs the DuckDB
  oracle;
- the package's parent directory on the Python workers' ``PYTHONPATH``
  (ahead of any inherited entries), so kernels that ship package
  functions to workers import from any working directory;
- broadcast threshold left at default 10 MB — dimension tables (region,
  nation, supplier, part at TPC-H ratios) broadcast automatically, and
  operators that *know* a side is dimensional also hint explicitly.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

#: Directory holding the ``ddataframeoperation_spark`` package.
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def get_spark(app_name: str = "ddataframeoperation_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. On a real cluster the
    caller supplies master/executor settings externally (spark-submit); every
    config below is safe for both modes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture events.parquet stores timestamp[ns]; Spark's reader rejects
        # TIMESTAMP(NANOS) outright — read as long and convert at the catalog
        # layer (read_fixture_table) to a µs timestamp (lossless: fixtures
        # carry no sub-µs precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/ddfo-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Workers unpickle kernels by module name and their sys.path holds
        # only their own working directory, so without this a grouped
        # kernel fails with ModuleNotFoundError outside the repo.
        # Spark appends the workers' own PYTHONPATH after this entry.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if "spark.master" not in os.environ.get("SPARK_CONF", ""):
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
