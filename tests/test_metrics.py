"""measure_job must attribute real shuffle traffic to the measured
action and nothing to jobs outside the group."""

import uuid

import pyspark.sql.functions as F

from peakmatch_xcorr_spark.metrics import measure_job


def test_measure_job_counts_shuffle_bytes(spark):
    df = (
        spark.range(0, 200_000)
        .select((F.col("id") % 500).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    n, m = measure_job(spark, df.count, "grouped count")
    assert n == 500
    assert m["jobs"] >= 1
    assert m["stages"] >= 2  # map side + reduce side
    # a 200k-row groupBy genuinely shuffles: bytes and records nonzero,
    # and what was written got read back
    assert m["shuffle_write_bytes"] > 0
    assert m["shuffle_read_bytes"] >= m["shuffle_write_bytes"]
    assert m["shuffle_write_records"] == m["shuffle_read_records"] > 0


def test_measure_job_reports_busy_core_telemetry(spark):
    # enough rows that the dominant stage's executor run time is
    # reliably nonzero on the status-store clock
    df = (
        spark.range(0, 2_000_000)
        .select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    _, m = measure_job(spark, df.count, "busy cores")
    assert m["executor_run_sec"] > 0
    top = m["top_stage"]
    assert top["tasks"] > 0
    assert top["executor_run_sec"] > 0
    # wall can be None only if the store lost a timestamp; when present
    # utilization is busy-core-seconds / (wall x slots) and bounded
    if top["stage_wall_sec"] is not None:
        assert 0 < top["slot_utilization"] <= 1.5


def test_measure_job_scopes_to_its_group(spark):
    # traffic from an UNmeasured job must not leak into the measurement
    # (note: even df.count() shuffles its per-partition partials, so the
    # shuffle-free action here is a plain collect of a narrow plan)
    spark.range(0, 100_000).repartition(8).collect()
    _, m = measure_job(
        spark, lambda: spark.range(0, 10).collect(), "shuffle-free collect"
    )
    assert m["jobs"] >= 1
    assert m["shuffle_write_bytes"] == 0
    assert m["shuffle_read_bytes"] == 0


def test_measure_job_restores_job_group(spark):
    measure_job(spark, lambda: spark.range(0, 10).count())
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_measure_job_counts_codegen_compiles(spark):
    # a literal no earlier query used makes the generated source, and so
    # the class, new to the JVM; the same action again reuses the class
    # from Spark's generated-class cache
    salt = uuid.uuid4().int % 1_000_003
    df = spark.range(0, 1000).select((F.col("id") * 7919 + salt).alias("v"))
    _, first = measure_job(spark, df.collect, "never-seen expression")
    _, again = measure_job(spark, df.collect, "same expression again")
    assert first["codegen_compiles"] >= 1
    assert again["codegen_compiles"] == 0
