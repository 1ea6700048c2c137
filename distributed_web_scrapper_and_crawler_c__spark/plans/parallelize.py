"""Scan-parallelism guard for unsplittable inputs (guide §2.5 "Input skew").

A parquet file with a single row group cannot be split below one scan task
no matter what ``spark.sql.files.maxPartitionBytes`` says — byte-range
splits collapse onto row-group boundaries. Every stage fused onto such a
scan (tokenize/shingle projections, pandas-UDF parses, regexp extracts)
then runs on ONE core while the rest of the cluster idles: the classic
"one huge unsplittable file" input-skew case, whose remedy is to
repartition immediately after the read.

``spread`` applies that remedy *adaptively*: it is a no-op whenever the
plan already has at least the session's default parallelism (a real
cluster scan of a multi-file table), so it never adds a shuffle where the
layout is already fine — the cost model is "one small shuffle of the
narrow input vs. serializing all downstream per-row work onto one task".
Values are unchanged by construction (round-robin repartition with Spark's
deterministic sort-before-repartition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def spread(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``num_partitions`` (default: the session's
    default parallelism) when its current plan has fewer partitions; no-op
    otherwise. Use right after reading an input whose downstream work is
    per-row heavy (UDF parses, hashing, regexp) so the work spreads across
    the cluster even when the source is a single unsplittable file."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """createDataFrame for DRIVER-KNOWN row lists, sliced by SIZE instead
    of by default parallelism. PySpark's list path parallelizes into
    ``defaultParallelism`` slices no matter how few rows there are, and
    every later scan of such a frame runs one Python-conversion task per
    slice — so each tiny state frame (a fast round's increment, a probe
    key list, a seed) costs ~32 Python worker round-trips per job that
    touches it (measured: pinning a 2k-row frame 1.57s at 32 slices vs
    0.18s at one). Driver-known lists are bounded (fast-round gate /
    small-state compaction), so one slice per 50k rows keeps big lists
    parallel while collapsing the common tiny case to a single task.

    The returned frame also carries a tuple copy of ``rows`` and the
    ``schema`` string (read back with :func:`driver_rows`), so consumers
    that only need the values — a checkpoint write, a fold of several such
    frames — can skip the Spark job. The copy is taken here, so a caller
    that keeps mutating its list never changes what the frame records."""
    rows = tuple(rows)
    n_slices = max(1, min(
        -(-len(rows) // 50_000),
        spark.sparkContext.defaultParallelism,
    ))
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema
    )
    df.__dict__["_driver_rows"] = (rows, schema)
    return df


def driver_rows(df: DataFrame) -> tuple[tuple, str] | None:
    """``(rows, schema)`` recorded by :func:`local_df` on exactly this frame,
    or None. Any transformation returns a new frame that records nothing,
    so a hit always describes the frame's whole contents."""
    return df.__dict__.get("_driver_rows")


def forget_rows(df: DataFrame) -> None:
    """Drop the driver copy recorded on ``df``; it stays a valid frame over
    the same parallelized rows, and consumers go back to Spark jobs."""
    df.__dict__.pop("_driver_rows", None)
