from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
from peakmatch_xcorr_spark.streaming.activity import (
    read_transcript_stream,
    run_stream_to_memory,
    stateful_conv_totals,
    streaming_activity_rollup,
)
from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    """Transcripts split into 3 parquet files = 3 micro-batches."""
    d = tmp_path_factory.mktemp("stream")
    res = generate_transcripts(SynthConf(n_convs=8, n_dup_pairs=0, giant_conv=False))
    pdf = res.transcripts.sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    for i in range(3):
        pdf.iloc[i * n // 3 : (i + 1) * n // 3].to_parquet(
            d / f"part{i}.parquet", index=False
        )
    return str(d), pdf


def test_streaming_rollup_matches_batch(spark, stream_dir):
    path, pdf = stream_dir
    stream = read_transcript_stream(spark, path)
    rollup = streaming_activity_rollup(stream, "1 minute", "5 minutes")
    run_stream_to_memory(rollup, "s_rollup", mode="append")
    got = (
        spark.sql("SELECT * FROM s_rollup")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    batch = (
        tumbling_rollup(
            spark.createDataFrame(pdf), ["conv_id"], "ts", None, "1 minute"
        )
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    # append mode only emits buckets sealed by the watermark; the final
    # watermark leaves the last open buckets unemitted — every emitted
    # bucket must match the batch oracle exactly
    merged = got.merge(
        batch, on=["conv_id", "bucket_start"], suffixes=("_s", "_b"), how="left"
    )
    assert len(got) > 0
    assert (merged.turns_s == merged.turns_b).all()
    assert len(got) <= len(batch)


def test_stateful_conv_totals(spark, stream_dir):
    path, pdf = stream_dir
    stream = read_transcript_stream(spark, path)
    totals = stateful_conv_totals(stream)
    run_stream_to_memory(totals, "s_totals", mode="update")
    got = spark.sql(
        "SELECT conv_id, max(total_turns) AS total FROM s_totals GROUP BY conv_id"
    ).toPandas().set_index("conv_id")["total"]
    exp = pdf.groupby("conv_id").size()
    for conv, n in exp.items():
        assert got[conv] == n, conv


def test_streaming_sessionize(spark, stream_dir):
    from peakmatch_xcorr_spark.streaming.activity import streaming_sessionize

    path, pdf = stream_dir
    stream = read_transcript_stream(spark, path)
    sess = streaming_sessionize(stream, gap="10 minutes", watermark="1 hour")
    run_stream_to_memory(sess, "s_sessions", mode="append")
    got = spark.sql("SELECT * FROM s_sessions").toPandas()
    assert len(got) > 0
    assert (got.n_turns > 0).all()
    assert (got.session_end > got.session_start).all()
    # sealed sessions per conv must not exceed total turns
    totals = pdf.groupby("conv_id").size()
    for conv, g in got.groupby("conv_id"):
        assert g.n_turns.sum() <= totals[conv]


def test_stream_to_warehouse_drives_incremental_refresh(spark, stream_dir, tmp_path):
    """The full continuous-aggregate loop: file stream → per-batch
    warehouse snapshot appends → snapshot-diff incremental refresh.
    Tiers must equal a batch recompute over everything ingested."""
    from peakmatch_xcorr_spark.operators.refresh import ContinuousAggregate
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable
    from peakmatch_xcorr_spark.streaming.activity import (
        read_transcript_stream,
        stream_to_warehouse,
    )

    path, pdf = stream_dir
    wh = str(tmp_path / "wh")
    src = WarehouseTable(wh, "transcripts")
    stream = read_transcript_stream(spark, path)
    stream_to_warehouse(stream, src, str(tmp_path / "ckpt"))

    # one snapshot per micro-batch (3 files → 3 appends)
    assert src.current_version() == 3
    assert src.read(spark).count() == len(pdf)

    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    m = agg.refresh(spark)
    assert m["status"] == "refreshed"
    got = (
        agg.tier_tables["1h"].read(spark).toPandas()
        .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    exp = (
        tumbling_rollup(spark.createDataFrame(pdf), ["conv_id"], "ts", None, "1 hour")
        .toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp[got.columns], check_dtype=False)


def test_stateful_ewma_matches_batch_recursion(spark, stream_dir):
    """The streaming EWMA must continue the recursion exactly across
    micro-batch boundaries: final emitted values == the one-shot batch
    recursion over each conversation's full series."""
    from peakmatch_xcorr_spark.streaming.activity import stateful_ewma

    path, pdf = stream_dir
    stream = read_transcript_stream(spark, path)
    out = stateful_ewma(stream, "turn_idx", alpha=0.3)
    run_stream_to_memory(out, "s_ewma", mode="update")
    got = (
        spark.sql("SELECT * FROM s_ewma")
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)  # one smoothed row per turn, each once
    for cid, g in pdf.groupby("conv_id"):
        g = g.sort_values("ts", kind="mergesort")
        s, exp = None, []
        for v in g["turn_idx"].astype(float):
            s = v if s is None else 0.3 * v + 0.7 * s
            exp.append(s)
        np.testing.assert_allclose(
            got.loc[got.conv_id == cid, "ewma"].to_numpy(),
            np.array(exp), rtol=1e-12,
            err_msg=f"conv {cid} diverged across batch boundaries",
        )


def test_streaming_dedup_turns_drops_replays(spark, tmp_path):
    """At-least-once delivery: rows replayed into later micro-batches
    (within the watermark) must be emitted exactly once, and the
    output must equal the batch distinct of the turn key."""
    from peakmatch_xcorr_spark.streaming.activity import streaming_dedup_turns

    res = generate_transcripts(SynthConf(n_convs=6, n_dup_pairs=0, giant_conv=False))
    pdf = res.transcripts.sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    d = tmp_path / "replayed"
    d.mkdir()
    thirds = [pdf.iloc[i * n // 3 : (i + 1) * n // 3] for i in range(3)]
    thirds[0].to_parquet(d / "part0.parquet", index=False)
    # batch 1 replays the tail of batch 0; batch 2 replays a slice of 1
    pd.concat([thirds[0].tail(50), thirds[1]]).to_parquet(
        d / "part1.parquet", index=False
    )
    pd.concat([thirds[1].head(30), thirds[2]]).to_parquet(
        d / "part2.parquet", index=False
    )
    stream = read_transcript_stream(spark, str(d))
    deduped = streaming_dedup_turns(stream, watermark="1 hour")
    run_stream_to_memory(deduped, "s_dedup", mode="append")
    got = spark.sql("SELECT conv_id, turn_idx FROM s_dedup").toPandas()
    assert len(got) == len(got.drop_duplicates(["conv_id", "turn_idx"]))
    exp = pdf[["conv_id", "turn_idx"]].drop_duplicates()
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(
        got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_streaming_interval_join_matches_batch(spark, stream_dir):
    """Stream-stream interval join (user turn -> assistant turns within
    the next 60s, per conversation) emits exactly the batch
    interval_join's row set."""
    from peakmatch_xcorr_spark.operators.asof import interval_join
    from peakmatch_xcorr_spark.streaming.activity import (
        streaming_interval_join,
    )

    path, pdf = stream_dir
    users = read_transcript_stream(spark, path).filter("role = 'user'")
    asst = read_transcript_stream(spark, path).filter("role = 'assistant'")
    joined = streaming_interval_join(
        users.select("conv_id", "turn_idx", "ts"),
        asst.select("conv_id", "turn_idx", "ts"),
        ["conv_id"],
        0.0,
        60.0,
        watermark="10 minutes",
    )
    run_stream_to_memory(joined, "s_ijoin", mode="append")
    got = sorted(
        (r.conv_id, r.turn_idx, r.right_turn_idx)
        for r in spark.sql("SELECT * FROM s_ijoin").collect()
    )
    full = spark.createDataFrame(pdf)
    want = sorted(
        (r.conv_id, r.turn_idx, r.right_turn_idx)
        for r in interval_join(
            full.filter("role = 'user'").select("conv_id", "turn_idx", "ts"),
            full.filter("role = 'assistant'").select(
                "conv_id", "turn_idx", "ts"
            ),
            ["conv_id"],
            0.0,
            60.0,
        ).collect()
    )
    assert len(want) > 0
    assert got == want


@pytest.mark.parametrize("op, kwargs", [
    ("stateful_ewma", {"alpha": 0.0}),
    ("stateful_ewma", {"alpha": 1.5}),
    ("stateful_holt_winters", {"alpha": 0.0}),
    ("stateful_holt_winters", {"beta": 1.5}),
    ("stateful_holt_winters", {"gamma": -0.1}),
])
def test_stateful_smoothers_check_params_at_call_time(op, kwargs):
    """An out-of-range smoothing parameter raises when the operator is
    called, before any stream exists, not inside a Python worker at the
    first micro-batch."""
    from peakmatch_xcorr_spark.streaming import activity

    with pytest.raises(ValueError, match="must be in"):
        getattr(activity, op)(None, "turn_idx", **kwargs)


def test_stateful_holt_winters_matches_batch_recursion(spark, stream_dir):
    """The streaming Holt-Winters must continue the (level, trend,
    seasonal-ring) recursion exactly across micro-batch boundaries:
    final emitted values == the one-shot recursion over each
    conversation's full series."""
    from peakmatch_xcorr_spark.streaming.activity import (
        stateful_holt_winters,
    )

    a, be, g, period = 0.3, 0.2, 0.4, 5
    path, pdf = stream_dir
    stream = read_transcript_stream(spark, path)
    out = stateful_holt_winters(stream, "turn_idx", a, be, g, period)
    run_stream_to_memory(out, "s_hw", mode="update")
    got = (
        spark.sql("SELECT * FROM s_hw")
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    for cid, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values("ts", kind="mergesort")
        lv, b = None, 0.0
        ring, cur = [0.0] * period, 0
        L, B, S = [], [], []
        for v in grp["turn_idx"].astype(float):
            if lv is None:
                lv = v
                cur = 1 % period
                L.append(lv); B.append(b); S.append(0.0)
                continue
            sp = ring[cur]
            lp = lv
            lv = a * (v - sp) + (1 - a) * (lv + b)
            b = be * (lv - lp) + (1 - be) * b
            st = g * (v - lv) + (1 - g) * sp
            ring[cur] = st
            cur = (cur + 1) % period
            L.append(lv); B.append(b); S.append(st)
        sub = got[got.conv_id == cid]
        np.testing.assert_allclose(
            sub["level"].to_numpy(), np.array(L), rtol=1e-12,
            err_msg=f"conv {cid} level diverged across batch boundaries",
        )
        np.testing.assert_allclose(
            sub["trend"].to_numpy(), np.array(B), rtol=1e-12, atol=1e-15,
        )
        np.testing.assert_allclose(
            sub["seasonal"].to_numpy(), np.array(S), rtol=1e-12, atol=1e-15,
        )


def test_stateful_phase_anomaly_prequential_parity(spark, tmp_path, rng):
    """Test-then-update across micro-batches: z values equal a scalar
    prequential replay of the same rows, state carries per-phase power
    sums between batches, and the planted spike is flagged while its
    own baseline is untouched by it."""
    from peakmatch_xcorr_spark.streaming.activity import (
        stateful_phase_anomaly,
    )

    period, minp, thresh = 6, 4, 3.0
    rows = []
    for key in ("c0", "c1"):
        for b in range(60):
            v = int(rng.poisson(5)) + 1
            if key == "c1" and b == 45:
                v += 40  # planted spike, late enough to have a baseline
            rows.append((key, b, v))
    pdf = pd.DataFrame(rows, columns=["conv_id", "b", "v"])
    d = tmp_path / "phase_stream"
    d.mkdir()
    n = len(pdf)
    for i in range(3):
        pdf.iloc[i * n // 3 : (i + 1) * n // 3].to_parquet(
            d / f"part{i}.parquet", index=False
        )
    stream = (
        spark.readStream.format("parquet")
        .schema("conv_id string, b long, v long")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    out = stateful_phase_anomaly(stream, period, thresh, minp)
    run_stream_to_memory(out, "s_phase", mode="update")
    got = (
        spark.sql("SELECT * FROM s_phase")
        .toPandas().sort_values(["conv_id", "b"]).reset_index(drop=True)
    )
    assert len(got) == len(pdf)
    import math
    for key, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values("b")
        n_, s1, s2 = [0] * period, [0] * period, [0] * period
        exp_z = []
        for b, v in zip(grp["b"], grp["v"]):
            ph = b % period
            z = None
            if n_[ph] >= minp:
                mean = s1[ph] / n_[ph]
                var = (n_[ph] * s2[ph] - s1[ph] ** 2) / (n_[ph] * (n_[ph] - 1))
                if var > 1e-12:
                    z = (v - mean) / math.sqrt(var)
            exp_z.append(z)
            n_[ph] += 1
            s1[ph] += v
            s2[ph] += v * v
        sub = got[got.conv_id == key]
        for zg, ze in zip(sub["z"], exp_z):
            if ze is None:
                assert pd.isna(zg)
            else:
                assert zg == ze
    spike = got[(got.conv_id == "c1") & (got.b == 45)]
    assert bool(spike.iloc[0]["is_anomaly"])
    # the spike judged itself against a baseline it was not part of:
    # later same-phase rows see an inflated baseline, earlier ones none
    assert spike.iloc[0]["z"] > 10


def test_streaming_hll_tier_matches_batch_registers(spark, stream_dir):
    """Sealed streaming HLL registers must equal the batch tier's for
    the same buckets — the lambda-backfill contract (stream head and
    batch history merge via max without recall loss)."""
    from peakmatch_xcorr_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_register_tier,
    )
    from peakmatch_xcorr_spark.streaming.activity import streaming_hll_tier

    path, pdf = stream_dir
    stream = read_transcript_stream(spark, path)
    tier = streaming_hll_tier(stream, "conv_id", "1 minute", "5 minutes")
    run_stream_to_memory(tier, "s_hll", mode="append")
    got = spark.sql("SELECT * FROM s_hll")
    assert got.count() > 0
    batch = hll_register_tier(
        spark.createDataFrame(pdf), "conv_id", "ts", "1 minute"
    )
    g = {(r["bucket"], r["idx"]): r["r"] for r in got.collect()}
    b = {(r["bucket"], r["idx"]): r["r"] for r in batch.collect()}
    # append mode emits only watermark-sealed buckets; each emitted
    # (bucket, idx) must carry exactly the batch register
    for k, v in g.items():
        assert b[k] == v, k
    # and merging the emitted tier estimates the same distinct count
    # as merging the batch tier restricted to the emitted buckets
    sealed = sorted({bk for bk, _ in g})
    bsub = batch.filter(F.col("bucket").isin(sealed))
    em = hll_estimate(
        hll_merge(spark.createDataFrame(
            [(i, r) for (_, i), r in g.items()], "idx int, r int"
        ), []), [],
    ).collect()[0]["est_distinct"]
    eb = hll_estimate(hll_merge(bsub.drop("bucket"), []), []).collect()[0][
        "est_distinct"
    ]
    # a sealed bucket emits ALL its registers, so the two register
    # sets are identical and the estimates must agree exactly
    assert em == eb


def test_streaming_heavy_hitters_bounded_state_finds_top(spark, tmp_path):
    """Across 3 micro-batches of a skewed token stream, the sharded
    space-saving state must (a) stay within shards*m entries, (b)
    never under-count below an item's true frequency bound
    (count >= true >= count - err), and (c) surface every true heavy
    hitter."""
    import numpy as np
    import pandas as pd

    from peakmatch_xcorr_spark.streaming.activity import (
        read_transcript_stream,
        run_stream_to_memory,
        streaming_heavy_hitters,
    )

    rng = np.random.default_rng(5)
    # zipf-ish: token0 dominates, long tail of rare tokens
    n = 9000
    ranks = np.minimum(rng.zipf(1.5, n), 5000)
    toks = [f"tok{r}" for r in ranks]
    d = tmp_path / "hh"
    d.mkdir()
    base = pd.Timestamp("2024-01-01").value // 1000
    for i in range(3):
        part = pd.DataFrame({
            "conv_id": ["c"] * (n // 3),
            "turn_idx": pd.array(range(n // 3), dtype="int32"),
            "role": ["user"] * (n // 3),
            "text": toks[i * n // 3 : (i + 1) * n // 3],
            "tool": pd.array([None] * (n // 3), dtype="string"),
            "ts": pd.to_datetime(
                [base + j * 1000 for j in range(n // 3)], unit="us"
            ).astype("datetime64[us]"),
        })
        part.to_parquet(d / f"p{i}.parquet", index=False)
    stream = read_transcript_stream(spark, str(d))
    hh = streaming_heavy_hitters(stream, "text", m=32, shards=4)
    run_stream_to_memory(hh, "s_hh", mode="update")
    # update mode re-emits per batch: keep the last emission per shard
    # = the rows whose (shard, token) count is maximal per token
    out = spark.sql(
        "SELECT token, max(count) AS count, max(err) AS err "
        "FROM s_hh GROUP BY token"
    ).toPandas()
    assert len(out) <= 4 * 32 * 3  # bounded candidates (3 emissions)
    true = pd.Series(toks).value_counts()
    got = dict(zip(out.token, out["count"]))
    err = dict(zip(out.token, out["err"]))
    # every surviving candidate's final count is a true upper bound
    # that is tight up to its recorded err
    for t in true.index[:5]:  # the genuine heavy hitters
        assert t in got, t
        assert got[t] >= true[t]
        assert got[t] - err[t] <= true[t]


def test_stream_checkpoint_resume_across_restarts(spark, tmp_path):
    """North-rule resumability at the streaming edge: a stopped query
    restarted on the SAME checkpoint must pick up exactly the unseen
    files — no reprocessing (would double-append snapshots), no gaps.
    """
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable
    from peakmatch_xcorr_spark.streaming.activity import (
        read_transcript_stream,
        stream_to_warehouse,
    )

    res = generate_transcripts(SynthConf(n_convs=6, n_dup_pairs=0, giant_conv=False))
    pdf = res.transcripts.sort_values("ts").reset_index(drop=True)
    n = len(pdf)
    d = tmp_path / "resume"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    src = WarehouseTable(str(tmp_path / "wh"), "transcripts")

    # run 1: two files visible
    pdf.iloc[: n // 3].to_parquet(d / "p0.parquet", index=False)
    pdf.iloc[n // 3 : 2 * n // 3].to_parquet(d / "p1.parquet", index=False)
    stream_to_warehouse(read_transcript_stream(spark, str(d)), src, ckpt)
    v_after_first = src.current_version()
    rows_after_first = src.read(spark).count()
    assert rows_after_first == 2 * (n // 3)

    # crash/restart: a NEW query on the same checkpoint + a new file
    pdf.iloc[2 * n // 3 :].to_parquet(d / "p2.parquet", index=False)
    stream_to_warehouse(read_transcript_stream(spark, str(d)), src, ckpt)
    # only the unseen file became a snapshot; nothing was replayed
    assert src.current_version() == v_after_first + 1
    assert src.read(spark).count() == n
    got = src.read(spark).toPandas()
    assert len(got.drop_duplicates(["conv_id", "turn_idx"])) == n
