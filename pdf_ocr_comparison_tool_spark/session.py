"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions sized to cores (not the 200 default), AQE
on for runtime coalescing + skew-join splitting, Arrow on for every
pandas interchange, UTC so DuckDB-oracle comparisons are stable, and a
codegen cache large enough to hold a whole query's generated classes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pdf-ocr-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """master=None → local[cores]; pass e.g. ``local-cluster[4,4,4096]``
    to emulate a multi-executor cluster (one JVM per executor)."""
    # Python workers resolve module-level UDF functions by import, so
    # the package root must be on THEIR path too — the driver's
    # sys.path is not inherited by worker processes. Exporting
    # PYTHONPATH before the JVM launches covers any driver cwd
    # (equivalent of --py-files on a real cluster).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cores)))
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # one match pass generates ~154 distinct classes; the default
        # 100-entry LRU cache never hits on that cyclic pattern, so every
        # warm run would recompile them all
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
