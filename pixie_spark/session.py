"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in one JVM; the configs
below are chosen so the same code is correct and fast on a large cluster:

- AQE on (runtime coalesce + skew-join splitting) so shuffle partition
  counts self-tune between sf0.001 local runs and 100 TB cluster runs.
- shuffle.partitions sized to local cores here; on a real cluster this
  is overridden by AQE's coalescing from a high initial value.
- Arrow enabled for every Python boundary (pandas UDFs, toPandas).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


MAX_DRIVER_MEM_MB = 24 * 1024


def _default_driver_mem() -> str:
    """Half the box's RAM (``MemTotal`` in /proc/meminfo), at most 24g.

    A long session needs heap: 8g OOM'd once the test suite passed ~600
    tests in one JVM (localCheckpoint blocks and streaming state pile up
    until the ContextCleaner catches up). But a heap larger than the box
    gets the whole JVM killed instead: with a fixed 24g on a 15.7 GB
    box, one test-suite run was OOM-killed at 14.4 GB RSS, while a
    passing run peaked at 7.0 GB. Half the RAM leaves room for the
    JVM's off-heap memory and the Python side."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, kb // 1024 // 2)}m"


def get_spark(app_name: str = "pixie_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Adversarial-session overrides (the correctness re-check SCALE.md
    # documents: non-UTC TZ, AQE off, oversized shuffle partitioning —
    # results must not depend on any of these):
    #   SPARK_GRAFT_TZ / SPARK_GRAFT_AQE / SPARK_GRAFT_SHUFFLE_PARTITIONS
    tz = os.environ.get("SPARK_GRAFT_TZ", "UTC")
    aqe = os.environ.get("SPARK_GRAFT_AQE", "true")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Single-JVM local mode: driver heap IS the executor heap.
        # SPARK_GRAFT_DRIVER_MEM overrides the box-sized default.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-frames to stderr/stdout that
        # pollute line-oriented captures — the round-7 driver bench
        # record lost its headline medians to them (BENCH_r07.json
        # "parsed": null). bench.py's contract is ONE parseable JSON
        # line on stdout; nothing in this repo wants the progress bar.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # reliable-checkpoint files (pixie_spark.materialize's cut on a
        # non-local master) are reclaimed when their RDD is GC'd —
        # without this a cluster run leaks one file set per iteration
        # of CC/PageRank for the app's lifetime
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Generated-code cache sized to the package's composed pipelines
        # (optimization r11): the 100-entry default is smaller than ONE
        # run of the corpus funnel (207 generated classes, measured via
        # CodegenMetrics), so the query evicts its own entries and every
        # re-run — bench repeats, each CC/PageRank round in a session —
        # re-pays janino compile (~85 ms/class of serial driver time;
        # 205 recompiles on the funnel's second run at the default, 0 at
        # 4096). Driver-side planning cache, scale-independent: entries
        # are (source, compiled-class) pairs of a few tens of KB.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # No per-call call-site capture: with it on, every wrapped
        # DataFrame/Column/F.* call walks the Python stack and makes
        # about four extra py4j round trips to record where it came
        # from — 57-82% of the round trips of building a PxL script's
        # plan. Errors still carry the Spark message and plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
