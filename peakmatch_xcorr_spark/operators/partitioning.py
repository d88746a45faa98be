"""Explicit partitioning & skew handling (north rule: salted hash
partitioning on conv_id + skew-aware repartitionByRange on ts, AQE
skew-join handling).

Where each lever matters at 10^12 turns:

- ``repartition_by_conv``: hash co-location before per-conv window
  functions / applyInPandas (one shuffle reused by later stages that
  need the same key).
- ``salted_two_phase_rollup``: a giant conversation makes one task own
  all its rows under plain groupBy(conv).  Spark's map-side partial
  aggregation usually absorbs this for rollups (each input partition
  pre-aggregates its share), but windowed/collected per-conv ops have
  no partial step — there, salt first: aggregate (conv, salt, bucket)
  partials, then merge per (conv, bucket).
- ``repartition_by_ts_range``: range placement by time so tier writes
  produce time-clustered files (partition pruning on read; the
  warehouse manifests record per-file ranges implicitly via parquet
  footers).
- AQE (enabled in session.py) splits skewed join partitions at
  runtime; the blocked pair join avoids triangular skew by hashing
  events into uniform blocks (operators/pairs.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.rollup import _reaggregate


def repartition_by_conv(df: DataFrame, n: int, key: str = "conv_id") -> DataFrame:
    return df.repartition(n, key)


def repartition_by_ts_range(df: DataFrame, n: int, ts_col: str = "ts") -> DataFrame:
    return df.repartitionByRange(n, F.col(ts_col))


def with_salt(df: DataFrame, buckets: int, cols: tuple[str, ...] = ("turn_idx",)) -> DataFrame:
    """Deterministic salt from row content (no rand(): reruns must
    produce identical partitioning for the resume guarantees)."""
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int")
    )


def salted_two_phase_rollup(
    transcripts: DataFrame,
    bucket: str,
    salt_buckets: int = 16,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Two-phase tumbling rollup for pathologically skewed keys:
    phase 1 aggregates (conv, salt, bucket) — the giant conversation
    spreads over ``salt_buckets`` tasks; phase 2 merges decomposable
    stats per (conv, bucket).  Result identical to
    rollup.tumbling_rollup (tested)."""
    win = F.window(ts_col, bucket)
    salted = with_salt(transcripts, salt_buckets, (ts_col,))
    aggs = [F.count(F.lit(1)).alias("turns")]
    if value_col:
        aggs += [
            F.count(value_col).alias("vcount"),
            F.sum(value_col).alias("vsum"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        ]
    phase1 = (
        salted.groupBy(conv_col, "_salt", win.alias("w"))
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )
    return _reaggregate(phase1, [conv_col], bool(value_col))
