"""SparkSession factory with the engine's tuned config profile.

The reference builds a bare ``local[*]`` session with all defaults
(``src/preprocessing_pipeline.py:244-247``). This engine centralizes a
scale-aware profile instead: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized Python boundary), UTC session
timezone (oracle comparability), and shuffle partitions sized to the local
core count rather than the 200 default.

At cluster scale the same profile applies with different numbers:
``spark.sql.shuffle.partitions`` ~ 2-3x total executor cores (AQE coalesces
down), ``maxPartitionBytes`` sized so a scan task fits comfortably in an
executor core's memory share.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the local[32] test harness; on a real cluster these are
# overridden by spark-submit conf. AQE handles the runtime delta.
_DEFAULTS: dict[str, str] = {
    # --- adaptive execution: the 100 TB insurance policy ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing ---
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB scan splits
    # --- Python boundary: Arrow everywhere ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- determinism / oracle comparability ---
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as int64 ns and
    # normalize in sources/readers.py (Spark rejects nanos outright).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- broadcast: dims under 32 MiB never shuffle ---
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # --- quiet local runs ---
    "spark.ui.enabled": "false",
    "spark.sql.execution.pandas.convertToArrowArraySafely": "true",
}


def _driver_heap() -> str:
    """Driver heap sized to the box: 40% of the smaller of physical memory
    and the cgroup memory limit, clamped to 1-24 GiB. local[N] puts driver
    and executors in ONE JVM — the 1g default OOMs, while a heap larger
    than the box lets the JVM grow until the kernel kills it; the other
    60% is left to the Python workers and the page cache. Only effective
    at JVM launch (getOrCreate), inert when attaching to an existing
    session."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" when unlimited)
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as fh:
                mem = min(mem, int(fh.read().strip()))
        except (OSError, ValueError):
            pass
    return f"{max(1, min(24, int(mem * 0.4 / 2**30)))}g"


def get_spark(
    app_name: str = "big_data_medical_analysis_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    tests and bench share one knob. The driver heap is ``_driver_heap()``.
    ``extra_conf`` wins over the profile.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {**_DEFAULTS, "spark.driver.memory": _driver_heap()}
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
