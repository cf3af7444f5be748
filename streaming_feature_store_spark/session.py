"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the same
configs are what we would ship to a 1000-executor cluster, where only
``spark.sql.shuffle.partitions`` (≈ 2-3× total cores) and memory sizing change.

Key choices (and why they survive a 100 TB scale-up):

- **AQE on** — runtime partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion based on observed sizes. At 100 TB the
  planner's static stats are wrong often enough that AQE is non-negotiable.
- **Cached plans participate in AQE coalescing by default** (round 7,
  ``canChangeCachedPlanOutputPartitioning=true``) — a persisted
  intermediate no longer pins the pre-coalesce shuffle partition count,
  so every consumer of a cached frame reads it at the AQE-sized
  partitioning instead of paying static-count tiny-task rounds; see the
  inline A/B numbers below.
- **UTC session timezone** — event-time windows must be deterministic and
  engine-independent (the DuckDB oracle operates on naive timestamps).
- **Arrow enabled** — the few pandas-UDF paths (drift KS, multimodal decode)
  move columnar batches, never rows.
- **Explicit broadcast hints** for genuinely-small dimensions only; we do NOT
  crank ``autoBroadcastJoinThreshold`` because at 100 TB a "small" side
  estimated from stale stats can OOM an executor — AQE's runtime sizes are
  the safer signal.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "streaming-feature-store-spark"


def default_cpus() -> int:
    """Parallelism used for local runs; the driver exports SPARK_GRAFT_CPUS."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def default_driver_memory() -> str:
    """Driver heap for local runs: 16g, capped at a quarter of physical RAM
    (the JVM's own default heap share). A pinned heap (``-Xms`` = ``-Xmx``)
    ends up resident, and the slow test tier runs a second JVM beside the
    test session's: at 55% of a 16 GB host one was OOM-killed."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = ram_mb // 4
    return "16g" if heap_mb >= 16 * 1024 else f"{heap_mb}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local cpu count; on a real cluster
    pass ≈ 2-3× total executor cores (or leave AQE to coalesce down from a
    higher number — coalescing is cheap, splitting is not).
    """
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or cpus
    heap = os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The test corpus is written with nanosecond parquet timestamps
        # (TIMESTAMP(NANOS)), which vanilla Spark refuses; read them as long
        # nanos and convert in the source layer (sources/file.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MB input splits: at 100 TB that is ~800k tasks — fine for a big
        # cluster; AQE coalesces the small tail.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # local mode runs driver+executor in ONE JVM with 32 task threads;
        # 8g left ~250 MB/task and GC-thrashed long catalog runs, while an
        # unpinned 32g heap produced rare tens-of-seconds full-GC pauses
        # mid-query (measured: same query 2s or 23s run-to-run). 16g PINNED
        # (-Xms=-Xmx, no resize) with G1 region sizing is the stable point;
        # smaller hosts get default_driver_memory()'s RAM-capped heap.
        # On a real cluster this is per-executor sizing.
        .config("spark.driver.memory", heap)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                f"-Xms{heap} -XX:+UseG1GC -XX:G1HeapRegionSize=16m",
            ),
        )
    )
    # Opt-in connector packages (e.g. spark-avro, delta-spark jars):
    #   SPARK_GRAFT_EXTRA_PACKAGES="org.apache.spark:spark-avro_2.13:4.1.2"
    # Resolved from Maven at session start where the environment has network
    # access; this rig is offline, so the Avro/Delta paths stay import-gated
    # and their tests skip (see tests/test_avro.py, test_sinks_metrics.py).
    extra_pkgs = os.environ.get("SPARK_GRAFT_EXTRA_PACKAGES", "")
    if extra_pkgs:
        builder = builder.config("spark.jars.packages", extra_pkgs)
    # DEFAULT (round 7): let AQE coalesce CACHED plan output. Without
    # this, InMemoryRelation pins the pre-AQE shuffle partition count
    # and every consumer of a persisted intermediate pays
    # static-partition tiny-task rounds. Measured A/B (min of 3;
    # PERFORMANCE.md "Round-7: cached-plan AQE coalescing is the session
    # default"): sf0.1 q101 2.05s->1.15s, q119 4.32s->2.78s, q67
    # 3.00s->2.44s; sf1.0 q119 5.09s->4.86s, q39
    # 6.51s->5.43s, rest within noise — faster than the r6 baseline on
    # every probed query at both scales, with no knob. Trade-off: a
    # cached plan's output partitioning is no longer a stable contract
    # for downstream exchange reuse, which Spark handles by inserting a
    # (cheap, AQE-sized) shuffle when a consumer genuinely needs a
    # specific partitioning.
    builder = builder.config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    for k, v in (configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
