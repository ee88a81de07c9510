"""SparkSession factory tuned for the KG-construction workload.

Local mode stands in for a multi-executor cluster; every knob here is the
one you would set on a 1000-executor job, scaled down:

- ``spark.sql.shuffle.partitions`` ~ total cores (local) / 2-3x total cores
  (cluster). The default 200 over-parallelizes tiny local runs and
  under-parallelizes 100 TB ones.
- AQE on, with skew-join splitting: conversation lengths are long-tailed
  (FIXTURES.md), so per-conversation groupings skew without it.
- Arrow enabled: all scoring kernels are pandas UDFs (BASELINE.json
  input_hint: "no per-row Python").
- UTC session timezone so DuckDB oracle comparisons are stable.
- ``spark.python.daemon.module=denrl_spark._daemon``: pyspark's own
  daemon, started after two changes that pay the Python worker's fixed
  cost once per daemon instead of once per task: Spark's own archives
  skip pyspark's per-task zip re-read, and when the interpreter's
  installed pyspark is the release in ``$SPARK_HOME`` the daemon imports
  that bytecode-cached package instead of compiling ``pyspark.zip``
  (see the module). Set-up's Arrow warm-up job fell from 1.2-2.1 s to
  0.6-1.3 s and the worker CPU per Arrow task from 0.12-0.27 s to
  0.02-0.04 s (``tools/python_task_cpu.py``, 4 vCPUs).

  Cluster note: the daemon starts before any py-file ships, so every
  executor must be able to import ``denrl_spark`` from its own Python
  path (an installed package or ``spark.executorEnv.PYTHONPATH``);
  ``--py-files`` alone is too late. Otherwise the daemon cannot start
  and every Python UDF fails loudly. In local mode the worker finds it
  from the driver's working directory or ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """Default single-JVM heap: min(48g, ~40% of system RAM), floor 2g.

    48g is tuned to the 128 GiB bench box (24g OOMed the composite
    bootstrap at 6.9M turns: 32 concurrent tasks x multi-consumer
    caches); hard-coding it would fail JVM startup on smaller hosts, so
    the default scales down with available memory. SPARK_GRAFT_DRIVER_MEM
    always wins. On a real cluster this maps to per-executor memory,
    not one process."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total_b = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "4g"
    cap_g = max(2, min(48, int(total_b * 0.4 / (1 << 30))))
    return f"{cap_g}g"


def get_spark(
    cpus: int | None = None,
    app_name: str = "denrl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session. ``cpus`` controls local parallelism;
    the bench harness uses this to evidence N -> 4N scaling (local[8] vs
    local[32])."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # single-JVM local mode: the driver heap IS the executor heap —
        # sized from system RAM (see default_driver_mem).
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.python.daemon.module", "denrl_spark._daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
