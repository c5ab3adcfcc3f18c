"""SparkSession factory with scale-oriented defaults.

Defaults size local[N] to the host's cores (`local_cores`) but are the
same knobs one would set on a 1000-executor cluster:

- AQE on (runtime coalesce + skew-join splitting for hot domains/keys),
- explicit shuffle partition count (cluster: ~2-3x total cores),
- Arrow enabled with a bounded batch size so pandas-UDF stages cannot
  accumulate unbounded memory on giant rows (SURVEY.md section 4, byte caps),
- broadcast threshold generous enough that dimension/alias tables broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("KGNER_SHUFFLE_PARTITIONS", "32"))
DEFAULT_ARROW_BATCH = int(os.environ.get("KGNER_ARROW_BATCH", "2048"))


def local_cores() -> int:
    """Cores for a local[N] master: $SPARK_GRAFT_CPUS, else the CPUs this
    process may run on (a larger N only oversubscribes them)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "kgner",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    master = master or os.environ.get("KGNER_MASTER", f"local[{local_cores()}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH)
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGNER_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
