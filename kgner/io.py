"""Table I/O: each stage table is a parquet directory under the workdir.

A stage is "committed" when its directory has Spark's _SUCCESS marker;
resume skips committed stages.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_path(workdir: str, name: str) -> str:
    return os.path.join(workdir, name)


def is_committed(workdir: str, name: str) -> bool:
    return os.path.exists(os.path.join(table_path(workdir, name), "_SUCCESS"))


def write_table(
    df: DataFrame,
    workdir: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(table_path(workdir, name))


def read_table(spark: SparkSession, workdir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(workdir, name))
