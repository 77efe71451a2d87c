"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster: shuffle partitions sized to cores (not the 200 default), AQE
on for runtime coalescing + skew-join splitting, Arrow on for every
pandas interchange, UTC so DuckDB-oracle comparisons are stable, and a
codegen cache large enough to hold a whole query's generated classes.

The driver JVM runs one JIT policy, ``JIT_POLICY``
(``-XX:CompileThresholdScaling=8``): it raises the invocation and
back-edge counts at which a method moves up the compilation tiers.
Without it a short session's CPU goes mostly to compiling Spark itself:
in perfbench's timed ``match`` iteration (the one after warm-up, 4
cores), 14-16 of 24-25 CPU-s were JIT compilation by
``CompilationMXBean``, C2 compiled ~980 methods, 410 of them Catalyst
analysis, expression and tree code that runs warm but not hot, and the
tasks themselves took ~6 s. Under the policy that long tail stays in C1
code, while truly hot loops still reach C2.

The price: code C2 would have compiled runs longer in C1. A long, warm
session's iterations can cost more CPU (perfbench ``extract``, the
median of iterations 7-9 over 5 sessions: 8.24 CPU-s without the
policy, 8.66 with it; whether 9 iterations of ``extract`` cost less in
total is unresolved, the gap being inside the spread between sessions),
and on 4 cores a fresh process can take longer in wall time, because
C2 used to run on cores the mostly single-threaded driver left idle.
The callers run warm-up-dominated sessions (one-shot CLI jobs, suites
that run each query once), where the policy saves CPU.

Only the driver gets the policy. In local mode the tasks run inside
the driver JVM, which is where it was measured; the executors of a
``local-cluster`` master (``bench.py --scaling``) run long, hot task
code, the case where staying in C1 costs more, and keep the JVM's own
tiers. The flag travels in ``spark.driver.defaultJavaOptions``, not
``extraJavaOptions``, so a caller that sets its own
``spark.driver.extraJavaOptions`` (as ``perfbench`` does) adds to it
instead of replacing it.

The default driver heap is half the memory the process may use: the
host's physical memory, or the container's cgroup limit when that is
lower (``SPARK_DRIVER_MEM`` overrides it). A local-mode heap capped
far above that lets the JVM grow until the kernel kills it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 8 over 2 and 4: perfbench ``match`` median cpu_s 17.2 s against 20.1 s
# (2) and 19.5 s (4), seeds 1-5, 4 cores; see the module docstring
JIT_POLICY = "-XX:CompileThresholdScaling=8"


# cgroup v2, then v1; "max" or a value above physical memory means no limit
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _memory_limit() -> int:
    """Bytes this process may use: physical memory, or the cgroup
    memory limit when one is set and lower."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():
            limit = min(limit, int(value))
        break
    return limit


def _default_driver_memory() -> str:
    """Half of ``_memory_limit()``, in MiB (``spark.driver.memory``
    syntax)."""
    return f"{_memory_limit() // 2 // 2**20}m"


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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # one match pass generates ~154 distinct classes; the default
        # 100-entry LRU cache never hits on that cyclic pattern, so every
        # warm run would recompile them all
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # a checkpoint's part=* directories are n_parts, metadata scale:
        # above the default threshold of 32 paths, reading a 64-part
        # commit back started a 64-task job just to list them
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
