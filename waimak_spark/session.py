"""The local-mode session the catalog is verified and measured under.

``bench.py``, the tools and the test suite all build their session here,
so a timing, a py4j count and an oracle check see the same conf.
"""

from __future__ import annotations

import os
from typing import Optional

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_session(cores: Optional[int] = None, driver_memory: str = "4g"):
    """``local[cores]`` session with ``cores`` shuffle partitions, AQE, UTC,
    nanosecond parquet timestamps read as longs, Arrow transfers and the
    FAIR scheduler.  ``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else the
    cores this process may run on."""
    from pyspark.sql import SparkSession

    cores = (cores or int(os.environ.get("SPARK_GRAFT_CPUS", 0))
             or len(os.sched_getaffinity(0)))
    # Python workers resolve cloudpickled UDFs by module name through
    # PYTHONPATH (read at session start), not the driver's sys.path, so a
    # run launched from any cwd must export the repo before getOrCreate
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if _REPO not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_REPO] + paths)
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("waimak_spark")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.scheduler.mode", "FAIR")
             .config("spark.driver.memory", driver_memory)
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark
