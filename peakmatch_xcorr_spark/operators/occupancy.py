"""Sweep-line occupancy: how many intervals are active per bucket.

The classic "concurrent sessions over time" operator (room occupancy,
active conversations, GPU-slot concurrency).  The naive Spark plan —
explode every interval into every bucket it spans — shuffles
O(rows x span/bucket) rows, which for week-long conversations at
1-minute buckets is a 10,000x blow-up.  The sweep-line plan shuffles
exactly TWO rows per interval regardless of span:

1. boundary deltas: +1 at the interval's first bucket, -1 at the
   bucket AFTER its last (both endpoints inclusive, matching the
   reference's inclusive sample windows, Util.java:44-81);
2. one groupBy(bucket) sums deltas — the only data-sized shuffle;
3. a running sum over bucket order turns deltas into active counts;
4. buckets between boundaries (constant count, no delta) are
   re-emitted by exploding each boundary's gap to the next boundary —
   bounded by the curve's own length, never by input rows.

Step 3 is a prefix scan.  With grouping keys it is an ordinary
per-key window (parallel by partitioning).  The GLOBAL curve — the
shape Spark's Window would serialize onto one task — uses a two-phase
distributed scan instead: per-range-partition partial cumsums run in
parallel, the P per-partition totals (P = shuffle partitions, a
driver-bounded collect) become exclusive prefix offsets, and a second
parallel pass adds them back.  RangePartitioner assigns ascending key
ranges to ascending partition ids, which is what makes the offset
composition valid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.rollup import bucket_seconds, epoch_seconds


def _boundary_deltas(
    df: DataFrame, start_col: str, end_col: str, bsec: int, keys: list[str]
) -> DataFrame:
    """(keys, b, d): net interval starts/ends per boundary bucket.
    ``b`` is the bucket start in epoch seconds; both endpoints'
    buckets count as occupied (end-exclusive buckets would use
    end_col - 1s; callers can pre-shift)."""
    start_b = (epoch_seconds(start_col) / bsec).cast("long") * bsec
    end_b_excl = (epoch_seconds(end_col) / bsec).cast("long") * bsec + bsec
    up = df.select(*keys, start_b.alias("b"), F.lit(1).alias("d"))
    down = df.select(*keys, end_b_excl.alias("b"), F.lit(-1).alias("d"))
    return (
        up.unionByName(down)
        .groupBy(*keys, "b")
        .agg(F.sum("d").alias("d"))
    )


def _scaffold_active(agg: DataFrame, bsec: int, keys: list[str]) -> DataFrame:
    """Boundary rows (keys, b, active, next_b) -> every bucket with
    active > 0, via sequence-explode of each constant-count gap."""
    gap_end = F.coalesce(F.col("next_b") - bsec, F.col("b"))
    return (
        agg.filter(F.col("active") > 0)
        .select(
            *keys,
            F.explode(
                F.sequence(F.col("b"), gap_end, F.lit(bsec))
            ).alias("b"),
            "active",
        )
        .select(
            *keys,
            F.timestamp_seconds(F.col("b")).alias("bucket_start"),
            F.col("active").cast("long").alias("active"),
        )
    )


def occupancy_curve(
    df: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket: str = "1 hour",
    keys: list[str] | None = None,
    scan_partitions: int = 32,
) -> DataFrame:
    """(keys..., bucket_start, active): number of [start_col, end_col]
    intervals overlapping each bucket, for every bucket where the
    count is nonzero.  Two rows shuffled per interval, independent of
    how many buckets the interval spans."""
    keys = list(keys or [])
    bsec = bucket_seconds(bucket)
    agg = _boundary_deltas(df, start_col, end_col, bsec, keys)
    if keys:
        w = Window.partitionBy(*keys).orderBy("b")
        agg = agg.select(
            *keys,
            "b",
            F.sum("d").over(w).alias("active"),
            F.lead("b").over(w).alias("next_b"),
        )
        return _scaffold_active(agg, bsec, keys)
    return _global_scan(agg, bsec, scan_partitions)


def _global_scan(agg: DataFrame, bsec: int, scan_partitions: int) -> DataFrame:
    """Two-phase distributed prefix scan of the global delta stream.

    Phase 1 (parallel): assign each boundary a scan-partition id as a
    PURE FUNCTION of its bucket — floor((b - min_b) / slice) — then
    cumsum + lead per pid with an ordinary keyed window.  Deterministic
    by construction: a recompute always lands every row in the same
    pid (repartitionByRange would not — its sampled range bounds can
    shift between evaluations, silently breaking the offsets).
    Driver step: P rows (pid, partial total, first bucket) — bounded
    by scan_partitions, never by data — give each pid (a) the
    exclusive prefix offset to add and (b) the next NON-EMPTY pid's
    first bucket, the scaffold bound for its last boundary row.
    Phase 2 (parallel): broadcast-join the P-row offsets back and
    finish counts + gap scaffolding.

    The boundary table is localCheckpoint-ed: it is already reduced
    (two rows per interval, then grouped), and the checkpoint makes
    the two driver actions + the final job read it without re-running
    the upstream reduction."""
    spark = agg.sparkSession
    agg = agg.localCheckpoint(eager=True)
    bounds = agg.agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return _scaffold_active(
            agg.select("b", F.col("d").alias("active"), F.lit(None).cast("long").alias("next_b")),
            bsec, [],
        )
    slice_s = max(
        bsec,
        -(-(bounds["hi"] - bounds["lo"] + bsec) // (scan_partitions * bsec)) * bsec,
    )
    part = agg.withColumn(
        "pid", ((F.col("b") - F.lit(bounds["lo"])) / slice_s).cast("int")
    )
    stats = sorted(
        (r["pid"], r["tot"], r["first_b"])
        for r in part.groupBy("pid")
        .agg(F.sum("d").alias("tot"), F.min("b").alias("first_b"))
        .collect()
    )
    offsets, running = [], 0
    for i, (pid, tot, first_b) in enumerate(stats):
        nxt = stats[i + 1][2] if i + 1 < len(stats) else None
        offsets.append((pid, running, nxt))
        running += tot
    # single-slice literal frame: the default createDataFrame path
    # parallelizes P rows into one pickled-RDD slice PER CORE, and the
    # broadcast build then runs one Python task per slice, each paying
    # the fixed per-task worker cost (see plans.small_local_df)
    from peakmatch_xcorr_spark.plans import small_local_df

    off_df = F.broadcast(
        small_local_df(
            spark, offsets, "pid int, offset long, next_part_first_b long"
        )
    )
    w = Window.partitionBy("pid").orderBy("b")
    scanned = (
        part.select(
            "pid",
            "b",
            F.sum("d").over(w).alias("partial"),
            F.lead("b").over(w).alias("next_in_part"),
        )
        .join(off_df, "pid")
        .select(
            "b",
            (F.col("partial") + F.col("offset")).alias("active"),
            F.coalesce("next_in_part", "next_part_first_b").alias("next_b"),
        )
    )
    return _scaffold_active(scanned, bsec, [])


def occupancy_curve_exploded(
    df: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Brute-force oracle twin of ``occupancy_curve``: explode every
    interval into each bucket it spans and count.  O(rows x span)
    shuffle — test/oracle use only (mirrors the DuckDB
    generate_series oracle in __spark_entry__)."""
    keys = list(keys or [])
    bsec = bucket_seconds(bucket)
    start_b = (epoch_seconds(start_col) / bsec).cast("long") * bsec
    end_b = (epoch_seconds(end_col) / bsec).cast("long") * bsec
    return (
        df.select(
            *keys,
            F.explode(
                F.sequence(start_b, end_b, F.lit(bsec))
            ).alias("b"),
        )
        .groupBy(*keys, "b")
        .agg(F.count(F.lit(1)).alias("active"))
        .select(
            *keys,
            F.timestamp_seconds(F.col("b")).alias("bucket_start"),
            "active",
        )
    )
