"""Small shared Spark-side helpers used across pipeline/canon/streaming."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Round-robin repartition to ``factor * defaultParallelism`` when the
    frame has fewer partitions than the session parallelism — the shared
    partition guard in front of CPU-bound per-row passes (Arrow kernels,
    hashing scans). Parquet scans split only at row-group boundaries, so a
    one-fat-file / giant-row-group source arrives near-serial and the pass
    next to it would run on a couple of cores; one shuffle of the (already
    column-pruned) projection buys full width. No-op for well-split inputs
    (the 100 TB many-file case), so it costs nothing at scale. One
    definition: the threshold/target were retuned once already (cores//2 ->
    cores, round 6) and per-site copies would drift."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores * factor)
    return df
