"""Plan inspection helpers (the engineering feedback loop used by the
plan-quality tests and during operator tuning)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_report(df: DataFrame) -> dict:
    """Summary of scan pushdown / pruning / shuffle structure —
    the checklist every operator is reviewed against (README:
    'push down and prune', 'minimize shuffles')."""
    p = formatted_plan(df)
    read_schema = ""
    if "ReadSchema:" in p:
        read_schema = p.split("ReadSchema:")[1].splitlines()[0].strip()
    pushed = ""
    if "PushedFilters:" in p:
        pushed = p.split("PushedFilters:")[1].splitlines()[0].strip()
    return {
        "exchanges": p.count("Exchange"),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sort_merge_joins": p.count("SortMergeJoin"),
        "partial_aggs": p.count("partial_"),
        "pushed_filters": pushed,
        "read_schema": read_schema,
        "python_stages": p.count("InPandas") + p.count("ArrowEvalPython"),
    }


def small_local_df(spark, rows, schema) -> DataFrame:
    """Single-partition DataFrame from a driver-small row list.

    ``spark.createDataFrame(list_of_tuples)`` parallelizes the pickled
    rows into ``defaultParallelism`` slices, so EVERY downstream action
    (a count, a broadcast build, a join probe) runs one Python
    deserializer task per core for a handful of rows, and every Python
    task pays a fixed worker cost: ~0.2 s (~10 core-seconds per action
    at local[32] for an 8-row frame) while CPython 3.11 re-read
    ``pyspark.zip`` before each task, ~0.03 core-seconds since the
    engine's workers skip re-reading an unchanged archive
    (``peakmatch_xcorr_spark._zipimport``; perfbench ``arrow.core_s``
    0.87 -> 0.13 s over 5 tasks, local[4] on a 4-core box, CPython
    3.11.7, PySpark 4.1.2).  One slice keeps it one task.  Use for
    literal result frames and tiny driver-computed side inputs
    (broadcast offsets, quantile tables), never for real data."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def drop_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'd frame's executor blocks.  Checkpoint
    blocks are NOT CacheManager entries, so ``DataFrame.unpersist()``
    is a no-op on them; the actual RDD hangs off the plan's LogicalRDD
    node.  Iterative loops (pagerank, connected components) call this
    on the PREVIOUS iteration's state once the next state is
    materialized, keeping executor storage O(1) in iteration count.

    Only safe on frames whose dependents are already materialized —
    an eager checkpoint chain, never a pending lazy one (a lazy
    child's truncated lineage points AT these blocks)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        # non-classic backends (no _jdf): fall back to the public API
        # and accept that blocks live until the session drops them
        df.unpersist()
