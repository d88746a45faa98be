"""Physical-plan quality gates: the optimizations the engine counts on
at 100 TB must be visible in .explain output at any scale —
predicate pushdown, column pruning, map-side partial aggregation,
broadcast joins, whole-stage codegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_filter_pushdown_reaches_scan(spark, events):
    df = events.filter(F.col("user_id") == 7).select("user_id", "value")
    p = plan(df)
    assert "PushedFilters" in p
    assert "user_id" in p.split("PushedFilters")[1][:200]


def test_column_pruning_in_rollup(spark, events):
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    p = plan(tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour"))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" in read_schema and "user_id" in read_schema and "value" in read_schema
    # the wide columns must NOT be read
    assert "props" not in read_schema and "event_type" not in read_schema


def test_rollup_has_partial_aggregation(spark, events):
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    p = plan(tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour"))
    assert "partial_count" in p or "partial count" in p.lower()
    # exactly one exchange (the keys+bucket shuffle)
    assert p.count("Exchange") >= 1


def test_broadcast_join_selected(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in plan(j)


def test_whole_stage_codegen_covers_rollup(spark, events):
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    # AQE wraps the plan until execution, hiding codegen subtrees from
    # the static explain — disable it just for this inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour")
        codegen = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen" in codegen
    assert "Found 0 WholeStageCodegen" not in codegen


def test_anti_join_is_broadcast_in_dedup(spark):
    """dedup_transcripts broadcasts the (small) drop list."""
    import pandas as pd

    from peakmatch_xcorr_spark.operators.dedup import dedup_transcripts

    t = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a", "b"], "turn_idx": [0, 0],
                      "text": ["x", "y"]})
    )
    m = spark.createDataFrame(
        pd.DataFrame({"id_a": ["a"], "id_b": ["b"]})
    )
    p = plan(dedup_transcripts(t, m))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_shingle_scan_is_generator_not_hof(spark):
    """Shingle rows must come from an explode(sequence)+substr
    generator (whole-stage codegen), never a transform() lambda —
    higher-order functions evaluate interpreted per element (~5x
    slower, measured)."""
    from peakmatch_xcorr_spark.operators.dedup import _shingle_rows

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(_shingle_rows(docs, "doc_id", "text", 5))
    assert "Generate" in p and "explode" in p
    assert "lambdafunction" not in p and "transform" not in p


def test_lsh_scoped_matches_no_bnlj_and_capped(spark):
    """The scoped dedup tier must stay a bucket equi-join (no
    BroadcastNestedLoopJoin) with the bucket-size cap visible as a
    count filter in the plan."""
    from peakmatch_xcorr_spark.config import PeakmatchConf
    from peakmatch_xcorr_spark.operators.features import conversation_features
    from peakmatch_xcorr_spark.operators.pairs import lsh_scoped_matches

    t = spark.read.parquet(f"{SF}/events.parquet").select(
        F.concat(F.lit("c"), (F.col("event_id") % 50).cast("string")).alias("conv_id"),
        "ts",
    )
    conf = PeakmatchConf(expected_len=64)
    feats = conversation_features(t, conf, curve_len=64)
    p = plan(lsh_scoped_matches(feats, conf, n_planes=16, bands=4, max_bucket=100))
    assert "BroadcastNestedLoopJoin" not in p
    assert "count" in p  # the bucket-size gate aggregates counts


def test_blocked_similarity_queries_have_no_bnlj(spark):
    """The headline similarity contract entries must be the blocked
    cogroup plans — a BroadcastNestedLoopJoin anywhere means the theta
    self-join leaked back in (VERDICT r1 #8)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ("cosine_pairs_blocked", "knn_edges_blocked"):
        p = plan(qs[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "FlatMapCoGroupsInPandas" in p, name


def test_sliding_window_single_exchange_and_pruned_scan(spark, events):
    """sliding_window_agg = ONE window exchange on the keys beyond the
    rollup's own; the range frame must appear as a RANGE BETWEEN
    specification, not a self-join (no Join operator at all)."""
    from peakmatch_xcorr_spark.operators.rollup import (
        sliding_window_agg,
        tumbling_rollup,
    )

    tier = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour")
    df = sliding_window_agg(tier, ["user_id"], "1 day", "1 hour")
    p = plan(df)
    assert "Window" in p
    assert "Join" not in p  # moving agg via frame, never a self-join
    # rollup shuffle + window repartition on user_id only (formatted
    # output prints each operator twice: tree line + detail header)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema


def test_tpch_q3_broadcasts_customer(spark):
    """The dimension side of the Q3 join must broadcast; the fact-side
    date filters must push to the scans."""
    from __spark_entry__ import _q_tpch_q3

    df = _q_tpch_q3(spark, SF)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "PushedFilters" in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in s for s in pushed)
    assert any("l_shipdate" in s for s in pushed)


def test_corpus_prep_two_exchanges_no_joins(spark):
    """The 5-stage corpus-prep pipeline (quality -> lang -> dedup ->
    split -> pack) must compile to exactly two shuffles — the dedup
    window on md5(text) and the pack window on (source, split) — and
    no join of any kind: filters and split assignment are pure column
    expressions riding the same pass."""
    import re

    from __spark_entry__ import _q_corpus_prep

    df = _q_corpus_prep(spark, SF)
    p = plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Join" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_q5_broadcasts_all_dims_single_fact_shuffle(spark):
    """Q5's four dimension joins (region/nation/supplier/customer)
    must all broadcast — the only shuffle-worthy join is lineitem x
    orders — and the date window must push to the orders scan.  The
    c_nationkey = s_nationkey cycle must not become a join KEY shuffle
    (it rides the broadcast join condition)."""
    from __spark_entry__ import _q_tpch_q5

    df = _q_tpch_q5(spark, SF)
    p = plan(df)
    assert p.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in s for s in pushed)
    assert any("r_name" in s for s in pushed)


def test_tpch_q4_semi_join_pushdown(spark):
    """Q4's EXISTS must compile to a LEFT SEMI join (never an inner
    join that would double-count multi-line orders) with both the
    order-date window and the lineitem flag filter pushed to the
    scans, and the count partially aggregated before the exchange."""
    from __spark_entry__ import _q_tpch_q4

    df = _q_tpch_q4(spark, SF)
    p = plan(df)
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in s for s in pushed)
    assert any("l_returnflag" in s for s in pushed)
    assert "partial_count" in p or "partial count" in p.lower()


def test_tpch_q14_broadcast_part_pushed_dates(spark):
    """Q14's part join must broadcast (never shuffle the fact on
    partkey) with the one-month shipdate window pushed to the
    lineitem scan; both CASE sums ride ONE aggregate (no union of two
    scans)."""
    from __spark_entry__ import _q_tpch_q14

    p = plan(_q_tpch_q14(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "Union" not in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in s for s in pushed)


def test_tpch_q17_no_fact_fact_shuffle(spark):
    """Q17's correlated per-part threshold must resolve as two
    BROADCAST joins (brand-filtered part, part-sized avg frame) — a
    shuffle join on partkey would move the fact table twice — with
    the brand filter pushed to the part scan and the avg partially
    aggregated map-side."""
    from __spark_entry__ import _q_tpch_q17

    p = plan(_q_tpch_q17(spark, SF))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("p_brand" in s for s in pushed)
    assert "partial_avg" in p or "partial avg" in p.lower()


def test_tpch_q19_derived_envelopes_push_to_both_scans(spark):
    """Q19's cross-side OR cannot push as-is; the explicitly derived
    single-side envelopes must reach BOTH scans (brand/size on part,
    quantity on lineitem) so neither side is read unpruned."""
    from __spark_entry__ import _q_tpch_q19

    p = plan(_q_tpch_q19(spark, SF))
    assert "BroadcastHashJoin" in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("p_brand" in s for s in pushed)
    assert any("l_quantity" in s for s in pushed)


def test_tpch_q22_anti_join_scalar_broadcast(spark):
    """Q22's NOT EXISTS must compile to a LEFT ANTI join and the
    global-avg gate to a single-row broadcast (the only
    BroadcastNestedLoopJoin permitted in the contract: a 1-row build
    side), never a driver-side collect of the scalar."""
    import re

    from __spark_entry__ import _q_tpch_q22

    p = plan(_q_tpch_q22(spark, SF))
    assert "LeftAnti" in p
    # formatted output prints each operator twice (tree + detail
    # header); count detail headers so "exactly one BNLJ" is exact
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1
    assert "CartesianProduct" not in p


def test_m4_single_exchange_pruned_no_python(spark, events):
    """M4 must stay entirely JVM-side: one shuffle on (key, bucket)
    with map-side partial struct min/max, the wide columns pruned from
    the scan, and no Python evaluation node anywhere."""
    from peakmatch_xcorr_spark.operators.downsample import m4_downsample

    import re

    p = plan(m4_downsample(events, ["user_id"], "ts", "value",
                           "1 hour", "event_id"))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema
    # formatted output prints each operator twice (tree + detail)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "partial_min" in p or "partial min" in p.lower()
    assert "Python" not in p  # no ArrowEval/BatchEval/MapInPandas


def test_counter_and_zscore_are_pure_window_plans(spark, events):
    """counter_increase and rolling_zscore are lag/stat windows +
    hash aggregate — whole-stage-codegen territory, no Python nodes,
    the value-not-null filter pushed to the scan."""
    from peakmatch_xcorr_spark.operators.downsample import (
        counter_increase,
        rolling_zscore,
    )
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    p = plan(counter_increase(events, ["user_id"], "ts", "value",
                              "1 hour", "event_id"))
    assert "Python" not in p
    assert "Window" in p
    assert "partial_sum" in p or "partial sum" in p.lower()
    assert "value" in p.split("PushedFilters:")[1].splitlines()[0]

    tier = tumbling_rollup(events, ["user_id"], "ts", "value", "1 minute")
    pz = plan(rolling_zscore(tier, ["user_id"], "vsum"))
    assert "Python" not in pz
    assert "Window" in pz


def _keyed_stage(name, events):
    """(keyed Python stage ``name`` over ``events``, its key columns)."""
    from peakmatch_xcorr_spark.config import PeakmatchConf
    from peakmatch_xcorr_spark.operators import downsample, rollup
    from peakmatch_xcorr_spark.operators.features import conversation_features

    tier = events.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").alias("bucket_start"),
        F.col("value").alias("vavg"),
        F.col("event_id").alias("turns"),
    )
    stages = {
        "conversation_features": lambda: conversation_features(
            events.select(
                F.col("user_id").cast("string").alias("conv_id"), "ts"
            ),
            PeakmatchConf(),
        ),
        "pack_tier": lambda: rollup.pack_tier(tier, ["user_id"]),
        "pack_count_tier": lambda: rollup.pack_count_tier(tier, ["user_id"]),
        "ewma_smooth": lambda: downsample.ewma_smooth(
            events, ["user_id"], "ts", "value", 0.2, "event_id"
        ),
        "holt_smooth": lambda: downsample.holt_smooth(
            events, ["user_id"], "ts", "value", tiebreak="event_id"
        ),
        "holt_winters_smooth": lambda: downsample.holt_winters_smooth(
            events, ["user_id"], "ts", "value", tiebreak="event_id"
        ),
        "holt_winters_forecast": lambda: downsample.holt_winters_forecast(
            events, ["user_id"], "ts", "value", horizon=3,
            tiebreak="event_id",
        ),
    }
    keys = ["conv_id"] if name == "conversation_features" else ["user_id"]
    return stages[name](), keys


@pytest.mark.parametrize("stage", [
    "conversation_features", "pack_tier", "pack_count_tier", "ewma_smooth",
    "holt_smooth", "holt_winters_smooth", "holt_winters_forecast",
])
def test_keyed_stage_is_single_repartition_mapinpandas(spark, events, stage):
    """Every keyed Python stage: exactly one exchange, a hash
    repartition on the keys at one partition per core (not the
    session's shuffle-partition count), feeding one MapInPandas through
    a partition-local sort (never a global one)."""
    import re

    df, keys = _keyed_stage(stage, events)
    p = plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 1
    n = spark.sparkContext.defaultParallelism
    assert n != int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = re.search(r"hashpartitioning\(([^)]*)\), REPARTITION", p)
    *cols, width = [c.strip() for c in part.group(1).split(",")]
    assert [c.split("#")[0] for c in cols] == keys
    assert int(width) == n
    sorts = re.findall(r"\(\d+\) Sort\n.*\nArguments: \[.*\], (\w+), ", p)
    assert sorts == ["false"]  # global=false: partition-local
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_complete_key_runs_carries_the_trailing_key():
    """The carry generator over hand-built batches: a key split across
    batches, a batch holding only one key, an empty batch, and a
    two-column key.  Every yielded chunk holds complete runs only."""
    import pandas as pd

    from peakmatch_xcorr_spark.plans.keyed import complete_key_runs, key_runs

    def frame(rows):
        return pd.DataFrame(rows, columns=["a", "b", "v"])

    batches = [
        frame([("x", 1, 0), ("x", 1, 1), ("x", 2, 2)]),
        frame([("x", 2, 3)]),                    # only the carried key
        frame([]),                               # empty batch
        frame([("x", 2, 4), ("y", 1, 5), ("y", 1, 6)]),
        frame([("y", 1, 7), ("y", 2, 8)]),
    ]
    chunks = list(complete_key_runs(iter(batches), ["a", "b"]))
    assert [c["v"].tolist() for c in chunks] == [
        [0, 1], [2, 3, 4], [5, 6, 7], [8],
    ]
    starts, ends = key_runs([chunks[1]["a"].to_numpy(),
                             chunks[1]["b"].to_numpy()])
    assert starts.tolist() == [0] and ends.tolist() == [3]
    # a one-column key merges what the two-column key splits
    chunks = list(complete_key_runs(iter(batches), ["a"]))
    assert [c["v"].tolist() for c in chunks] == [
        [0, 1, 2, 3, 4], [5, 6, 7, 8],
    ]
    assert list(complete_key_runs(iter([frame([])]), ["a"])) == []


def test_tpch_q6_pure_scan_pushdown_partial_agg(spark):
    """Q6 is the no-join query: all three predicates must reach the
    parquet scan, the projection must prune to the four referenced
    columns, and the global sum must partial map-side (one exchange
    of one row per task)."""
    from __spark_entry__ import _q_tpch_q6

    p = plan(_q_tpch_q6(spark, SF))
    assert "Join" not in p
    pushed = [seg.splitlines()[0] for seg in p.split("PushedFilters:")[1:]]
    assert any(
        "l_shipdate" in s and "l_discount" in s and "l_quantity" in s
        for s in pushed
    )
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "partial" in p.lower()


def test_tpch_q21_one_fact_shuffle_no_self_join(spark):
    """Q21's naive translation self-joins lineitem twice (EXISTS +
    NOT EXISTS); the rewrite must instead aggregate once — exactly one
    scan of lineitem, no broadcast-nested-loop, no cartesian — with
    the supplier/nation/region slice broadcast."""
    from __spark_entry__ import _q_tpch_q21

    p = plan(_q_tpch_q21(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("lineitem.parquet") <= 1 or p.count("lineitem") <= 4
    assert "BroadcastHashJoin" in p


def test_tpch_q2_min_rejoin_is_broadcast_not_window(spark):
    """Q2's per-part argmin must be an aggregate broadcast back into
    the offers (dimension-sized build side), not a window over the
    fact and not a shuffled sort-merge join."""
    from __spark_entry__ import _q_tpch_q2

    p = plan(_q_tpch_q2(spark, SF))
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tpch_q16_anti_join_broadcast(spark):
    """Q16's NOT IN supplier exclusion must compile to a broadcast
    LEFT ANTI hash join, never a BNLJ null-aware anti join (which
    the engine avoids by construction: the exclusion list is
    null-free suppkeys projected to one column)."""
    from __spark_entry__ import _q_tpch_q16

    p = plan(_q_tpch_q16(spark, SF))
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_occupancy_global_scan_never_single_partition(spark, events):
    """The global occupancy curve's prefix scan must stay distributed:
    a plain Window.orderBy would plan Exchange SinglePartition and
    serialize the whole curve through one task."""
    from peakmatch_xcorr_spark.operators.occupancy import occupancy_curve

    spans = events.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )
    p = plan(occupancy_curve(spans, bucket="1 hour", scan_partitions=8))
    assert "SinglePartition" not in p
    # the P-row offset table joins back as a broadcast, not a shuffle
    assert "BroadcastHashJoin" in p


def test_seasonal_ops_pure_jvm_broadcast_baseline(spark, events):
    """The seasonal family stays entirely JVM-side: no Python nodes in
    either plan; the anomaly baseline (period rows per key) joins back
    broadcast, never shuffling the dense tier a second time; and both
    prune the wide columns from the scan."""
    from peakmatch_xcorr_spark.operators.seasonal import (
        dense_bucket_counts,
        seasonal_baseline_anomaly,
        seasonal_profile,
    )

    dense = dense_bucket_counts(events, ["event_type"], "ts", "1 hour")
    pp = plan(seasonal_profile(dense, ["event_type"], 24))
    assert "Python" not in pp
    assert "Window" in pp
    read_schema = pp.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "value" not in read_schema

    pa = plan(seasonal_baseline_anomaly(dense, ["event_type"], 24, 2.0))
    assert "Python" not in pa
    assert "BroadcastHashJoin" in pa
    assert "partial_sum" in pa or "partial sum" in pa.lower()
