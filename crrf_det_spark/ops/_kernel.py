"""Shared plumbing for Python-kernel (mapInPandas) stages."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Explicit repartition ahead of a Python kernel: a single-file
    parquet source arrives as ONE partition and AQE will not widen it,
    which serializes the mapInPandas stage (repo invariant — see
    pipeline.balanced).  Cost: one round-robin shuffle of the kernel's
    input columns, repaid ~cores-fold in kernel parallelism."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * 2)
