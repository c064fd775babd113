"""SparkSession factory with scale-aware defaults.

The reference runs one single-threaded Python process per cron tick
(reference: crontab:1, shell/run_job.sh:2).  Here the unit of execution is a
SparkSession; these defaults are chosen so the same code runs on local[N]
for tests and on a 1000-executor cluster unchanged:

* AQE on (runtime partition coalescing, skew-join splitting, join-strategy
  switching) — the knob that makes one static plan survive 100x data growth;
* shuffle partitions sized for the local test harness but expected to be
  overridden (or auto-coalesced by AQE) on a real cluster;
* Arrow enabled for any pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_CONFIG", "driver_memory_for"]

#: Cap on the local-mode driver heap default, in GiB.
DRIVER_MEMORY_CAP_GIB = 48


def driver_memory_for(physical_bytes: int) -> str:
    """Default ``spark.driver.memory`` for a host with ``physical_bytes``
    of RAM: half of it in whole GiB, capped at 48g and never below 1g —
    a fixed 48g heap lets the JVM grow past what a small host has."""
    half_gib = physical_bytes // (2 * 2 ** 30)
    return f"{max(1, min(DRIVER_MEMORY_CAP_GIB, half_gib))}g"


DEFAULT_CONFIG: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/supplier and metadata tables) should always
    # broadcast; 64 MiB is safe with multi-GiB executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local-mode driver JVM heap: Spark's 1g default OOMs legitimate
    # hundred-million-row shuffles (measured: the graph wedge aggregation
    # at sf0.1) on a 128 GiB box; the default is half the host's RAM up
    # to 48g (driver_memory_for).  Only effective before the JVM starts —
    # i.e. for the FIRST session in the process — and ignored with a
    # warning on a real cluster where spark-submit owns the setting.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", driver_memory_for(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))),
    # WIDTH ASSUMPTION (r10 ADVICE): the shuffle-hash hints in
    # operators/dedup.py (shingle self-join) and the triangle intersect
    # joins bound their per-task hash build by 1/width of the build
    # relation — unlike SMJ they cannot spill the build.  32 is sized
    # for the local harness; a cluster deployment must raise this (or
    # let AQE coalesce DOWN from a high setting, never up) so that
    # |kept shingles| / width fits an executor task.  The iterative
    # graph loops pin a width of their own for the loop only, through
    # operators/_shared.fixpoint (LPA and k-core size it from data with
    # _loop_width; connected components takes it as an argument).  Since
    # r12 this assumption is CHECKED at plan time: every shuffle-hash
    # build side passes through operators/_shared.hash_build_guard,
    # which, when a deployment's width breaks it (Catalyst size
    # estimate / width vs a 2 GiB per-task budget), warns and drops the
    # hint so the join falls back to the spillable sort-merge.
    "spark.sql.shuffle.partitions": "32",
    # Keep timestamp semantics deterministic across driver/oracle.
    "spark.sql.session.timeZone": "UTC",
    # The events fixture carries parquet TIMESTAMP(NANOS) which Spark has no
    # native type for; read as long and convert in sources/fixtures.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "ab-metadata-pusher-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (or all cores) when no cluster master is configured — on a real cluster
    spark-submit supplies the master and this argument stays ``None``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONFIG)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
