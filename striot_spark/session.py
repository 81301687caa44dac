"""SparkSession factory with scale-oriented defaults.

The reference engine (striot/striot) runs one OS process per operator
partition connected by TCP (``src/Striot/Nodes.hs:52-167``); all of that
machinery is replaced here by a single SparkSession whose scheduler,
shuffle, and AQE take over deployment planning (SURVEY.md §3.3, §4.3).

Defaults are chosen for the 100 TB design point and then scaled down by
environment for local testing:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  replaces the reference's static Jackson-cost partitioning.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this should be ~2-3x total executor cores (or left to AQE
  with ``coalescePartitions``).
- Arrow enabled: every Python-side operator in this package is an
  Arrow-batched Pandas UDF, never a row-at-a-time Python UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "striot-spark"


def local_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session used by queries, tests and bench.

    A session that is already running is returned as it is, with only
    the runtime confs this call names set on it (``shuffle_partitions``,
    ``extra_conf``): ``getOrCreate`` would re-apply every default below
    and so re-width the caller's session. Once its context is stopped,
    the next call builds a fresh session with all of them."""
    running = SparkSession._instantiatedSession
    if running is not None and running._sc._jsc is not None:
        asked = dict(extra_conf or {})
        if shuffle_partitions:
            asked.setdefault("spark.sql.shuffle.partitions", str(shuffle_partitions))
        for k, v in asked.items():
            if running.conf.isModifiable(k):
                running.conf.set(k, v)
        return running
    cpus = local_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps read as session-UTC TIMESTAMP (not NTZ),
        # matching DuckDB's wall-clock reading — see sources/batch.py
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
