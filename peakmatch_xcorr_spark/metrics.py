"""Measured (not derived) Spark job telemetry.

The movement claims in BENCH — "the task-local ownership rule shuffles
no pair-key rows", "tiling replicates payload linearly" — should be
checkable against what the engine actually moved, not against counts
computed from the data.  This module reads per-stage shuffle metrics
from the JVM ``AppStatusStore`` (the same store that backs the Spark
UI; it is populated even with ``spark.ui.enabled=false``), scoped to a
job group, so any bench section can report real shuffle bytes for the
jobs it ran.

On a cluster the identical interface is the history server / REST API;
this in-process path exists because the sandbox runs single-JVM local
mode with the UI off.
"""

from __future__ import annotations

import uuid
from typing import Any, Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM's code generator has compiled since it started:
    the sample count of Spark's ``CodegenMetrics`` compilation-time
    histogram, which ``CodeGenerator`` updates only on a miss in its
    generated-class cache."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())


def measure_job(
    spark: SparkSession, action: Callable[[], T], desc: str = "measured"
) -> tuple[T, dict[str, Any]]:
    """Run ``action`` under a fresh job group and return
    ``(result, metrics)`` where metrics sums shuffle read/write bytes
    and records over every stage of every job the action triggered.

    Stages reused from a prior exchange (``skipped`` in the UI) hold no
    attempt in the status store and are correctly counted as zero —
    re-reading a reused shuffle IS read traffic though, so reads still
    accrue to the downstream stage that performed them.

    ``codegen_compiles`` is the number of classes the code generator
    compiled while the action ran.  Unlike the stage metrics it is not
    scoped to the job group: the count is JVM-wide, so a concurrent
    query in the same JVM adds its compiles too, and on a cluster it
    covers the driver JVM only (each executor JVM compiles, and
    caches, on its own)."""
    sc = spark.sparkContext
    group = f"measure-{uuid.uuid4().hex[:12]}"
    compiles0 = codegen_compiles(spark)
    sc.setJobGroup(group, desc)
    try:
        result = action()
    finally:
        # clear the group so later jobs don't accrue to this measurement
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    compiles = codegen_compiles(spark) - compiles0
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    out = {
        "jobs": 0,
        "stages": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_records": 0,
        "shuffle_read_records": 0,
        "executor_run_sec": 0.0,
        "codegen_compiles": compiles,
    }
    top_stage: dict[str, Any] | None = None
    for jid in tracker.getJobIdsForGroup(group):
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        out["jobs"] += 1
        for sid in ji.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped stage: exchange reused, nothing ran
            out["stages"] += 1
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_records"] += sd.shuffleWriteRecords()
            out["shuffle_read_records"] += sd.shuffleReadRecords()
            run_sec = sd.executorRunTime() / 1000.0
            out["executor_run_sec"] += run_sec
            if top_stage is None or run_sec > top_stage["executor_run_sec"]:
                top_stage = {
                    "stage_id": sid,
                    "tasks": sd.numCompleteTasks(),
                    "executor_run_sec": run_sec,
                    "stage_wall_sec": _stage_wall_sec(sd),
                }
    out["executor_run_sec"] = round(out["executor_run_sec"], 3)
    if top_stage is not None:
        top_stage["executor_run_sec"] = round(top_stage["executor_run_sec"], 3)
        # Slot utilization of the dominant stage: busy-core-seconds over
        # the stage's wall x available slots.  Low utilization at high N
        # means stragglers / scheduling gaps (parallelism problem); high
        # utilization with inflated run time means each task itself got
        # slower (shared-resource contention, e.g. the DRAM ceiling) —
        # the two attributions BENCH/BASELINE.md's 8->32 analysis needs
        # to separate.
        wall = top_stage["stage_wall_sec"]
        if wall:
            top_stage["slot_utilization"] = round(
                top_stage["executor_run_sec"]
                / (wall * sc.defaultParallelism), 3
            )
        out["top_stage"] = top_stage
    return result, out


def _stage_wall_sec(sd: Any) -> float | None:
    """Wall seconds from first task launch to stage completion, or
    None while the stage is missing either timestamp (py4j surfaces the
    underlying scala ``Option[Date]``)."""
    try:
        start = sd.firstTaskLaunchedTime()
        end = sd.completionTime()
        if start.isDefined() and end.isDefined():
            return round(
                (end.get().getTime() - start.get().getTime()) / 1000.0, 3
            )
    except Exception:
        pass
    return None
