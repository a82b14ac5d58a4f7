"""SparkSession factory tuned for the KG-construction workload.

Design targets (SURVEY.md §4): AQE on (runtime re-plan + skew-join splitting
for the documented 70k-relationship hub entities), Arrow on (every text
operator is a vectorized pandas UDF), shuffle partitions sized to the local
core count but overridable for the cluster case.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver-heap default: min(16g, half of min(MemTotal, cgroup limit)),
    overridable via $SPARK_DRIVER_MEM. 16g is tuned to the 128 GiB bench
    host (removes measurable GC drag at bench scale); deriving from the
    EFFECTIVE memory keeps local-mode JVMs on smaller hosts/containers
    GC-throttled under their own cap instead of growing until the OS
    OOM-kills them. /proc/meminfo reports HOST RAM even inside a
    memory-limited container, so the cgroup limit (v2 memory.max, v1
    memory.limit_in_bytes) is consulted too and the smaller bound wins."""
    total_b = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_b = int(line.split()[1]) * 1024
                    break
    except (OSError, ValueError, IndexError):
        pass
    for p in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
            if raw.isdigit():           # "max" (v2) / huge sentinel = no cap
                cap = int(raw)
                if cap < (1 << 60) and (total_b is None or cap < total_b):
                    total_b = cap
            break                       # first existing file decides
        except OSError:
            continue
    if total_b is None:
        return "16g"
    total_gib = total_b / (1024 ** 3)
    return f"{max(1, min(16, int(total_gib // 2)))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "owl-n4j-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. On a real cluster, pass ``master=None`` with the session
    pre-configured by spark-submit; every setting here is a safe default,
    not a requirement.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting — the hub-entity skew (BASELINE.md "70k+ relationships")
        # is handled here plus map-side partial aggregation of the
        # algebraic neighbour-min in canonicalize.py.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / mapInPandas stage.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast dimension tables aggressively (alias dictionaries are
        # small); AQE will also convert to broadcast at runtime.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Single-JVM local mode: driver memory IS the executor heap. 16g
        # (vs the earlier 8g) removes measurable GC drag from the full
        # pipeline at bench scale — measured 10-30% on the heavy legs of
        # the 1-vs-4 scaling pair on a 128 GiB host — but the default is
        # capped at half of MemTotal so smaller hosts stay safe; override
        # with $SPARK_DRIVER_MEM (documented in README/OPERATORS).
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        # Distributed file-listing task count. Spark's default is 10,000
        # tasks whenever a scan/stream source must list > threshold (32)
        # paths — sized for object-store clusters with thousands of cores.
        # At any smaller parallelism the fixed per-task scheduling cost
        # dominates the listing itself (measured: the 20k-session wiretap
        # streaming source's catch-up listing ran a 10,000-task job taking
        # 80+ s on local[32]; at 4x core-count tasks the same listing is
        # ~1 s). Deriving from the session's parallelism keeps the knob
        # scale-adaptive — a 2,000-core cluster gets 8,000 listing tasks —
        # and $SPARK_LIST_PARALLELISM overrides for exotic deployments.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
                os.environ.get("SPARK_LIST_PARALLELISM",
                               str(min(10000, max(64, 4 * shuffle_partitions)))))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if os.environ.get("SPARK_GRAFT_WARM_INIT", "1") != "0":
        _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """One-time engine warm-up per session (skippable via
    $SPARK_GRAFT_WARM_INIT=0). Touches NO input data and caches NO results —
    it only forces the JVM one-time initializations that otherwise land on
    whichever query first needs them and distort its latency:

    - Spark 4 collation machinery: the first case-mapping expression
      triggers ``CollationAwareUTF8String``'s static init, which builds
      ICU case tables for the full codepoint range (~2 s measured, all
      executor threads blocked on the classload monitor);
    - broadcast-hash-join machinery (BroadcastExchange thread pool,
      TorrentBroadcast, first join codegen): ~2 s measured on the first
      broadcast join of a session.

    In local mode driver == executor JVM, so one tiny job warms both
    sides. On a cluster this warms the driver and whichever executors get
    the two tasks — harmless, and the per-executor cost is paid once
    either way."""
    try:
        if spark.conf.get("spark.owl.warmedInit", "") == "1":
            return
    except Exception:
        pass
    from pyspark.sql import functions as F

    a = spark.range(2).select(
        F.lower(F.concat(F.lit("A"), F.col("id").cast("string"))).alias("k"))
    b = spark.range(2).select(F.col("id").cast("string").alias("k"))
    (a.join(F.broadcast(b), "k")
     .write.format("noop").mode("overwrite").save())
    spark.conf.set("spark.owl.warmedInit", "1")
