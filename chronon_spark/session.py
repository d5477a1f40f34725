"""SparkSession factory.

Mirrors the reference's session defaults (UTC timezone, dynamic partition
overwrite, AQE; reference: spark/src/main/scala/ai/chronon/spark/
SparkSessionBuilder.scala:65-76) but on stock PySpark.

Table formats: the session needs no format jars. ``tableio.resolve_table``
maps an output root to a day-partitioned table: a plain path is Hive-style
partitioned parquet (``ds=`` directories, dynamic partition overwrite),
``iceberg:`` and ``delta:`` roots go to the jar-free Iceberg v2 and Delta
implementations in sources/iceberg.py and sources/delta.py (metadata
written by this package, data files written by Spark), and ``catalog:``
roots to a Spark-catalog table (sources/catalog.py). A deployment with
catalog jars on the classpath attaches them through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """CPUs this process may run on (affinity- and cgroup-aware on Linux)."""
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _half_ram() -> str:
    """Half of physical RAM as a JVM heap size (Spark's own 1g off Linux): a
    larger default lets the driver JVM outgrow the host and be OOM-killed."""
    if not os.path.exists("/proc/meminfo"):
        return "1g"
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{kb // 2048}m"


def get_spark(
    app_name: str = "chronon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus())
    # Python workers resolve imports from the JVM's inherited env, not the
    # driver's sys.path — export the package root BEFORE the JVM launches so
    # mapInPandas/mapInArrow closures (multimodal, serde) import
    # chronon_spark from any launch directory. On a real cluster the
    # equivalent is shipping the package via --py-files / a venv archive.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    # Launched by spark-submit (gateway already up): the submitted --master /
    # --conf govern; only an EXPLICIT master here overrides it. Standalone
    # (plain `python ...`): fall back to $SPARK_MASTER or local[cpus].
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    master = master or os.environ.get("SPARK_MASTER") or (
        None if submitted else f"local[{cpus}]"
    )
    if shuffle_partitions is None and master is not None:
        # local mode: match cores, not the 200 default (no cluster to absorb it)
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # joins whose keys are a superset of both sides' hash-partitioning
        # (e.g. co-partitioned-by-conv_id frames joined on (conv_id, bucket))
        # reuse the existing partitioning instead of re-shuffling — the
        # sliding-tile estimator runs its whole DAG on one keys-partitioning
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # persisted tile tables must keep reporting their hash-partitioning,
        # or every consumer re-shuffles what is already clustered
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _half_ram())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # read parquet timestamp[us] (isAdjustedToUTC=false) as TIMESTAMP_LTZ
        # under the UTC session zone — same instant arithmetic as the DuckDB
        # oracle's naive timestamps, and unix_millis() applies directly
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # ds partition values stay strings (reference PartitionSpec contract),
        # not auto-inferred DATEs
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
