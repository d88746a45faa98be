from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from peakmatch_xcorr_spark.operators.rollup import (
    cascade_tier,
    gap_fill_linear,
    gap_fill_locf,
    pack_tier,
    retention_expire,
    rollup_cascade,
    tumbling_rollup,
)
from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    res = generate_transcripts(SynthConf(n_convs=12, n_dup_pairs=2))
    sdf = spark.createDataFrame(res.transcripts)
    sdf.cache().count()
    yield sdf
    sdf.unpersist()


@pytest.fixture(scope="module")
def events(spark):
    # unpersisted on teardown: a cached relation left behind replaces the
    # parquet scan in every later plan over the same file
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()
    yield df
    df.unpersist()


def test_activity_rollup_equals_pandas_oracle(spark, transcripts):
    got = (
        tumbling_rollup(transcripts, ["conv_id"], "ts", None, "1 minute")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pdf = transcripts.toPandas()
    exp = (
        pdf.assign(bucket_start=pdf.ts.dt.floor("min"))
        .groupby(["conv_id", "bucket_start"], as_index=False)
        .size()
        .rename(columns={"size": "turns"})
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got.turns.to_numpy() == exp.turns.to_numpy()).all()
    assert (
        got.bucket_start.to_numpy() == exp.bucket_start.to_numpy()
    ).all()


def test_cascade_equals_recompute_from_raw(spark, events):
    """North-rule parity: every cascaded tier equals the groupBy oracle
    computed directly from raw, exactly."""
    tiers = rollup_cascade(
        events, ["user_id"], "ts", "value", ("1 minute", "1 hour", "1 day")
    )
    for bucket in ("1 hour", "1 day"):
        direct = tumbling_rollup(events, ["user_id"], "ts", "value", bucket)
        cascaded = tiers[bucket]
        d = direct.toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
        c = cascaded.toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
        assert len(d) == len(c)
        assert (d.turns.to_numpy() == c.turns.to_numpy()).all()
        np.testing.assert_allclose(d.vsum.to_numpy(), c.vsum.to_numpy(), rtol=1e-12)
        np.testing.assert_array_equal(d.vmin.to_numpy(), c.vmin.to_numpy())
        np.testing.assert_array_equal(d.vmax.to_numpy(), c.vmax.to_numpy())
        np.testing.assert_allclose(d.vavg.to_numpy(), c.vavg.to_numpy(), rtol=1e-12)


def test_gap_fill_locf(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 3 + ["b"] * 2,
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:30",
                    "2024-01-01 00:03:10",  # 2-minute gap for a
                    "2024-01-01 00:04:50",
                    "2024-01-01 00:00:10",
                    "2024-01-01 00:02:10",  # 1-minute gap for b
                ]
            ).astype("datetime64[us]"),
            "value": [10.0, 40.0, 50.0, 1.0, 3.0],
        }
    )
    rolled = tumbling_rollup(
        spark.createDataFrame(pdf), ["k"], "ts", "value", "1 minute"
    )
    filled = (
        gap_fill_locf(rolled, ["k"], "1 minute")
        .toPandas()
        .sort_values(["k", "bucket_start"])
        .reset_index(drop=True)
    )
    a = filled[filled.k == "a"]
    assert list(a.turns) == [1, 0, 0, 1, 1]
    assert list(a.filled) == [False, True, True, False, False]
    assert list(a.vavg) == [10.0, 10.0, 10.0, 40.0, 50.0]
    b = filled[filled.k == "b"]
    assert list(b.vavg) == [1.0, 1.0, 3.0]
    assert list(b.filled) == [False, True, False]


def test_gap_fill_linear(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 2,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:30", "2024-01-01 00:03:30"]
            ).astype("datetime64[us]"),
            "value": [10.0, 40.0],
        }
    )
    rolled = tumbling_rollup(
        spark.createDataFrame(pdf), ["k"], "ts", "value", "1 minute"
    )
    filled = (
        gap_fill_linear(rolled, ["k"], "1 minute")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    # buckets 00:00->10, 00:01->20 (interp), 00:02->30 (interp), 00:03->40
    np.testing.assert_allclose(filled.vavg.to_numpy(), [10.0, 20.0, 30.0, 40.0])
    assert list(filled.filled) == [False, True, True, False]


def test_retention_expire(spark, events):
    rolled = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour")
    horizon = "2024-01-03 00:00:00"
    kept = retention_expire(rolled, horizon).toPandas()
    assert (kept.bucket_start >= pd.Timestamp(horizon)).all()
    assert len(kept) < rolled.count()


def test_pack_tier_roundtrip(spark, events):
    """One payload row per key that decodes to the key's tier rows, at
    the session's Arrow batch size and at 17-row batches, where every
    key's run straddles batches and the carried trailing key is what
    keeps each payload whole."""
    from peakmatch_xcorr_spark.kernels.codecs import dod_decode, gorilla_decode

    rolled = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour")
    oracle = rolled.toPandas()
    oracle["user_id"] = oracle.user_id.astype(str)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    for max_records in (old, "17"):
        spark.conf.set(conf, max_records)
        try:
            packed = pack_tier(
                rolled.withColumn("user_id", rolled.user_id.cast("string")),
                ["user_id"],
                codec="stream",  # exercises the stream decoders below
            ).toPandas()
        finally:
            spark.conf.set(conf, old)
        assert (packed.codec == "stream").all()
        assert sorted(packed.user_id) == sorted(oracle.user_id.unique())
        for _, row in packed.iterrows():
            g = oracle[oracle.user_id == row.user_id].sort_values("bucket_start")
            ts = g.bucket_start.astype("datetime64[us]").astype("int64").to_numpy()
            np.testing.assert_array_equal(dod_decode(bytes(row.ts_packed)), ts)
            np.testing.assert_array_equal(
                gorilla_decode(bytes(row.val_packed)), g.vavg.to_numpy()
            )
            assert row.n_buckets == len(g)


def test_unpack_inverts_pack(spark, events):
    from peakmatch_xcorr_spark.operators.rollup import pack_tier, unpack_tier

    rolled = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour").withColumn(
        "user_id", events.user_id.cast("string")
    )
    packed = pack_tier(rolled, ["user_id"])
    unpacked = (
        unpack_tier(packed, ["user_id"])
        .toPandas()
        .sort_values(["user_id", "bucket_start"])
        .reset_index(drop=True)
    )
    exp = (
        rolled.select("user_id", "bucket_start", "vavg")
        .toPandas()
        .sort_values(["user_id", "bucket_start"])
        .reset_index(drop=True)
    )
    assert len(unpacked) == len(exp)
    np.testing.assert_array_equal(
        unpacked.bucket_start.to_numpy(), exp.bucket_start.to_numpy()
    )
    np.testing.assert_array_equal(unpacked.vavg.to_numpy(), exp.vavg.to_numpy())


def test_pack_unpack_columnar_codec(spark, events):
    from peakmatch_xcorr_spark.operators.rollup import pack_tier, unpack_tier

    rolled = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour").withColumn(
        "user_id", events.user_id.cast("string")
    )
    packed = pack_tier(rolled, ["user_id"], codec="columnar")
    unpacked = (
        unpack_tier(packed, ["user_id"], codec="columnar")
        .toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    exp = (
        rolled.select("user_id", "bucket_start", "vavg")
        .toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    assert len(unpacked) == len(exp)
    np.testing.assert_array_equal(unpacked.vavg.to_numpy(), exp.vavg.to_numpy())
    np.testing.assert_array_equal(
        unpacked.bucket_start.to_numpy(), exp.bucket_start.to_numpy()
    )


def test_unpack_dispatches_on_codec_column(spark, events):
    """A packed table mixing stream- and columnar-coded rows decodes
    correctly row-by-row via the codec column."""
    from peakmatch_xcorr_spark.operators.rollup import pack_tier, unpack_tier

    rolled = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour").withColumn(
        "user_id", events.user_id.cast("string")
    )
    mixed = pack_tier(rolled, ["user_id"], codec="columnar").union(
        pack_tier(rolled, ["user_id"], codec="stream")
    )
    unpacked = (
        unpack_tier(mixed, ["user_id"])
        .toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    exp = (
        rolled.select("user_id", "bucket_start", "vavg")
        .toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    assert len(unpacked) == 2 * len(exp)
    half = unpacked.groupby(["user_id", "bucket_start"], as_index=False).vavg.nunique()
    assert (half.vavg == 1).all()  # both codecs decoded to the same value


def test_cascaded_vavg_with_nulls_matches_direct(spark):
    """vavg must be null-ignoring at every tier: vsum/vcount, never
    vsum/turns (ADVICE r1: turns counts all rows, vcount only non-null)."""
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4 + ["b"] * 3,
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:10", "2024-01-01 00:00:40",
                    "2024-01-01 00:20:10", "2024-01-01 01:10:00",
                    "2024-01-01 00:01:00", "2024-01-01 00:02:00",
                    "2024-01-01 00:03:00",
                ]
            ).astype("datetime64[us]"),
            "value": [10.0, None, 30.0, 50.0, None, None, 9.0],
        }
    )
    df = spark.createDataFrame(pdf)
    fine = tumbling_rollup(df, ["k"], "ts", "value", "1 minute")
    hour_cascaded = cascade_tier(fine, ["k"], "1 hour").toPandas()
    hour_direct = tumbling_rollup(df, ["k"], "ts", "value", "1 hour").toPandas()
    c = hour_cascaded.sort_values(["k", "bucket_start"]).reset_index(drop=True)
    d = hour_direct.sort_values(["k", "bucket_start"]).reset_index(drop=True)
    assert (c.turns.to_numpy() == d.turns.to_numpy()).all()
    assert (c.vcount.to_numpy() == d.vcount.to_numpy()).all()
    np.testing.assert_allclose(c.vavg.to_numpy(), d.vavg.to_numpy(), rtol=1e-12)
    # the specific trap: k=a hour 0 has 3 turns but only 2 non-null values
    a0 = d[(d.k == "a")].iloc[0]
    assert a0.turns == 3 and a0.vcount == 2 and a0.vavg == 20.0


def test_unpack_legacy_codecless_payload_uses_stream(spark, events):
    """Tables written before the codec column existed were encoded with
    the then-default STREAM layout; the codec-less fallback must decode
    with stream, not the new columnar default (code-review r2 #2)."""
    from peakmatch_xcorr_spark.operators.rollup import pack_tier, unpack_tier

    rolled = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour").withColumn(
        "user_id", events.user_id.cast("string")
    )
    legacy = pack_tier(rolled, ["user_id"], codec="stream").drop("codec")
    unpacked = (
        unpack_tier(legacy, ["user_id"])
        .toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    exp = (
        rolled.select("user_id", "bucket_start", "vavg")
        .toPandas().sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    np.testing.assert_array_equal(unpacked.vavg.to_numpy(), exp.vavg.to_numpy())


def test_sliding_window_agg_semantics(spark):
    """Hand-built 1h tier: the trailing 3h frame is (t-3h, t] — the
    current bucket plus the two preceding hours, gaps contribute
    nothing, and mavg is the POINT-weighted mean (sum vsum / sum
    vcount), not an average of bucket averages."""
    import datetime as dt

    from peakmatch_xcorr_spark.operators.rollup import sliding_window_agg

    def ts(h):
        return dt.datetime(2024, 1, 1, h)

    # buckets at 00,01,03 (02 missing): frame at 03 must include 01
    # and 03 but NOT 00 (outside (00:00, 03:00] ... 00 is at t-3h,
    # which the half-open frame excludes)
    rows = [
        ("u", ts(0), 1, 1, 10.0, 10.0, 10.0, 10.0),
        ("u", ts(1), 3, 3, 30.0, 0.0, 20.0, 10.0),
        ("u", ts(3), 1, 1, 2.0, 2.0, 2.0, 2.0),
    ]
    tier = spark.createDataFrame(
        rows,
        "user_id string, bucket_start timestamp, turns long, vcount long,"
        " vsum double, vmin double, vmax double, vavg double",
    )
    out = (
        sliding_window_agg(tier, ["user_id"], 3 * 3600, "1 hour")
        .toPandas()
        .set_index("bucket_start")
        .sort_index()
    )
    assert out.loc[ts(0)].mturns == 1 and out.loc[ts(0)].mavg == 10.0
    # at 01: both buckets; point-weighted mean = 40/4, NOT (10+10)/2
    assert out.loc[ts(1)].mturns == 4
    assert out.loc[ts(1)].mavg == pytest.approx(10.0)
    assert out.loc[ts(1)].mmax == 20.0
    # at 03: bucket 00 fell out of the frame, gap at 02 contributes 0
    assert out.loc[ts(3)].mturns == 4
    assert out.loc[ts(3)].mavg == pytest.approx(32.0 / 4)
    assert out.loc[ts(3)].mmax == 20.0
    with pytest.raises(ValueError):
        sliding_window_agg(tier, ["user_id"], 5400, "1 hour")


def test_bucket_seconds_grammar():
    from peakmatch_xcorr_spark.operators.rollup import bucket_seconds

    # canonical widths the tiers use
    assert bucket_seconds("1 minute") == 60
    assert bucket_seconds("1 hour") == 3600
    assert bucket_seconds("1 day") == 86400
    # arbitrary fixed widths in F.window's grammar
    assert bucket_seconds("5 minutes") == 300
    assert bucket_seconds("15 minutes") == 900
    assert bucket_seconds("12 hours") == 43200
    assert bucket_seconds("30 seconds") == 30
    assert bucket_seconds("2 weeks") == 1209600
    assert bucket_seconds("hour") == 3600  # bare unit = 1 unit
    for bad in ("1 month", "1 year", "0 minutes", "-5 minutes", "1.5 hours", ""):
        with pytest.raises(ValueError):
            bucket_seconds(bad)


def test_noncanonical_bucket_rollup_and_gapfill(spark, transcripts):
    """5-minute buckets: tumbling_rollup must agree with a pandas
    floor-to-300s oracle, and gap_fill_locf's scaffold (driven by
    bucket_seconds) must land on the same grid F.window produced."""
    got = (
        tumbling_rollup(transcripts, ["conv_id"], "ts", None, "5 minutes")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pdf = transcripts.toPandas()
    exp = (
        pdf.assign(bucket_start=pdf.ts.dt.floor("300s"))
        .groupby(["conv_id", "bucket_start"])
        .size()
        .rename("turns")
        .reset_index()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["conv_id", "bucket_start", "turns"]], exp, check_dtype=False
    )

    tier = tumbling_rollup(transcripts, ["conv_id"], "ts", None, "5 minutes")
    filled = gap_fill_locf(tier, ["conv_id"], "5 minutes", fill_cols=()).toPandas()
    # every conv covers its own [min, max] range with no 300s gaps
    for _, grp in filled.groupby("conv_id"):
        secs = grp.bucket_start.sort_values().astype("int64") // 10**9
        assert (secs.diff().dropna() == 300).all()
        assert (secs % 300 == 0).all()


def test_calendar_month_tier_equals_recompute_from_raw(spark, events):
    """Calendar cascade parity: raw -> 1h -> 1d -> date_trunc(month)
    must equal the month groupBy computed directly from raw — day
    boundaries nest exactly inside months under UTC."""
    from peakmatch_xcorr_spark.operators.rollup import calendar_tier

    ev = events.filter(events.value.isNotNull())
    t1d = cascade_tier(
        tumbling_rollup(ev, ["user_id"], "ts", "value", "1 hour"),
        ["user_id"], "1 day",
    )
    got = (
        calendar_tier(t1d, ["user_id"], "month")
        .toPandas().sort_values(["user_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    exp = (
        pdf.assign(bucket_start=pdf.ts.dt.to_period("M").dt.start_time)
        .groupby(["user_id", "bucket_start"], as_index=False)
        .agg(turns=("value", "size"), vcount=("value", "count"),
             vsum=("value", "sum"), vmin=("value", "min"),
             vmax=("value", "max"))
        .sort_values(["user_id", "bucket_start"]).reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got.turns.to_numpy() == exp.turns.to_numpy()).all()
    assert (
        got.bucket_start.to_numpy().astype("datetime64[us]")
        == exp.bucket_start.to_numpy().astype("datetime64[us]")
    ).all()
    np.testing.assert_allclose(got.vsum.to_numpy(), exp.vsum.to_numpy(),
                               rtol=1e-12)
    np.testing.assert_array_equal(got.vmin.to_numpy(), exp.vmin.to_numpy())
    np.testing.assert_array_equal(got.vmax.to_numpy(), exp.vmax.to_numpy())
    np.testing.assert_allclose(
        got.vavg.to_numpy(),
        (exp.vsum / exp.vcount).to_numpy(), rtol=1e-12,
    )


def test_calendar_tier_rejects_fixed_width_units(spark, events):
    from peakmatch_xcorr_spark.operators.rollup import calendar_tier

    with pytest.raises(ValueError, match="calendar unit"):
        calendar_tier(events, ["user_id"], "hour")


def test_origin_offset_rollup_shifts_boundaries(spark, transcripts):
    """90s buckets anchored at +30s: every bucket start is ≡30 mod 90
    in epoch seconds, totals are conserved, and the grid differs from
    the unanchored one."""
    got = tumbling_rollup(
        transcripts, ["conv_id"], "ts", None, "90 seconds",
        origin="30 seconds",
    ).toPandas()
    secs = got.bucket_start.astype("int64") // 10**9
    assert (secs % 90 == 30).all()
    plain = tumbling_rollup(
        transcripts, ["conv_id"], "ts", None, "90 seconds"
    ).toPandas()
    assert (plain.bucket_start.astype("int64") // 10**9 % 90 == 0).all()
    assert got.turns.sum() == plain.turns.sum() == transcripts.count()

    pdf = transcripts.toPandas()
    es = pdf.ts.astype("datetime64[us]").astype("int64") // 10**6
    exp_starts = (es - 30) // 90 * 90 + 30
    exp = (
        pdf.assign(bs=exp_starts)
        .groupby(["conv_id", "bs"]).size().rename("turns").reset_index()
    )
    g = got.assign(bs=secs)[["conv_id", "bs", "turns"]]
    pd.testing.assert_frame_equal(
        g.sort_values(["conv_id", "bs"]).reset_index(drop=True),
        exp.sort_values(["conv_id", "bs"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_origin_must_be_shorter_than_bucket(spark, transcripts):
    with pytest.raises(ValueError, match="origin"):
        tumbling_rollup(
            transcripts, ["conv_id"], "ts", None, "1 minute",
            origin="2 minutes",
        )
