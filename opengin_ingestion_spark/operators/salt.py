"""Parallelism floor for compute-heavy stages: ``ensure_min_parallelism``
spreads a few-split input across the session's cores before expensive
per-row expressions run (see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _parse_bytes(conf: str, default: int) -> int:
    """Parse a Spark byte-size conf value with its unit suffix (``128m``,
    ``1g``, ``134217728b``, bare digits = bytes). Digit-stripping — the
    previous approach — mis-read ``128m`` as 128 bytes, inflating the
    split-count estimate and silently disabling the small-input
    repartition this module exists to provide (ADVICE round 5)."""
    s = conf.strip().lower()
    mult = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4,
            "p": 1024**5}
    try:
        if s and s[-1] in mult:
            return int(s[:-1]) * mult[s[-1]]
        return int(s)
    except ValueError:
        return default


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan's current partitioning is far
    below the session's parallelism.

    Guards compute-heavy stages (shingle explode, signature UDFs, regex
    scoring) against few-split inputs: one small parquet file scans as ONE
    task, so the expensive downstream expressions run on one core while the
    rest idle — measured 3-5× on the signature stages. On healthy
    multi-split inputs (the 100 TB case) this is a no-op; the repartition
    only ever pays a shuffle of the small input it parallelizes.

    The probe deliberately does NOT go through ``df.rdd``: converting to
    a Python RDD builds serializer plumbing just to read a number. File
    scans are sized from Catalyst's own statistic (file bytes / scan
    split size — pure driver arithmetic); other frames read the
    partition count off the JVM-side physical RDD (no job runs).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if files:
            # py4j hands back a plain int for small BigInts, a JavaObject
            # otherwise — str() normalizes both
            size = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
            conf = spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728b"
            )
            split_bytes = _parse_bytes(conf, default=134217728)
            est = max(len(files), -(-size // max(1, split_bytes)))
        else:
            est = (
                df._jdf.queryExecution().executedPlan().execute().getNumPartitions()
            )
    except Exception:  # exotic plan/py4j shape: fall back to the RDD probe
        est = df.rdd.getNumPartitions()
    if est >= max(1, target // 2):
        return df
    return df.repartition(target)
