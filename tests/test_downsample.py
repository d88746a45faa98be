"""Downsample family: M4, LTTB, EWMA, counter increase, rolling
z-score — each checked against an independent brute-force reference
computed in pandas/numpy on the same frame."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.downsample import (
    counter_increase,
    ewma_smooth,
    exp_smooth_run,
    lttb_downsample,
    lttb_indices,
    m4_downsample,
    rolling_zscore,
)

T0 = dt.datetime(2024, 1, 1)


def _series_frame(spark, rng, n_keys=3, n=200):
    """Irregular per-key series with duplicate timestamps and ties."""
    rows = []
    eid = 0
    for k in range(n_keys):
        t = T0
        for i in range(n):
            t += dt.timedelta(seconds=int(rng.integers(1, 900)))
            # quantized values force value-ties inside buckets
            rows.append((f"k{k}", t, float(rng.integers(-5, 6)), eid))
            eid += 1
    # a duplicate-timestamp pair, disambiguated by the tiebreak
    rows.append(("k0", rows[0][1], 99.0, eid))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts", "value", "event_id"])
    return spark.createDataFrame(pdf), pdf


# ------------------------------------------------------------------ M4

def test_m4_matches_bruteforce(spark, rng):
    df, pdf = _series_frame(spark, rng)
    got = (
        m4_downsample(df, ["conv_id"], "ts", "value", "1 hour", "event_id")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    pdf = pdf.copy()
    pdf["bucket_start"] = pdf["ts"].dt.floor("h")
    exp_rows = []
    for (cid, b), g in pdf.groupby(["conv_id", "bucket_start"]):
        g = g.sort_values(["ts", "event_id"])
        first, last = g.iloc[0], g.iloc[-1]
        gmin = g.sort_values(["value", "ts", "event_id"]).iloc[0]
        gmax = g.sort_values(
            ["value", "ts", "event_id"], ascending=False
        ).iloc[0]
        exp_rows.append(
            (cid, b, first.ts, first.value, last.ts, last.value,
             gmin.ts, gmin.value, gmax.ts, gmax.value, len(g))
        )
    exp = pd.DataFrame(
        exp_rows,
        columns=["conv_id", "bucket_start", "ts_first", "v_first",
                 "ts_last", "v_last", "ts_min", "v_min", "ts_max",
                 "v_max", "n_points"],
    ).sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_exact=True
    )


def test_m4_bounds_output(spark, rng):
    df, pdf = _series_frame(spark, rng)
    n_buckets = (
        pdf.assign(b=pdf["ts"].dt.floor("h"))
        .groupby(["conv_id", "b"]).ngroups
    )
    assert m4_downsample(df, ["conv_id"]).count() == n_buckets


# ---------------------------------------------------------------- LTTB

def _lttb_reference(x, y, n_out):
    """Independent scalar LTTB (straight from the thesis pseudocode)."""
    n = len(x)
    if n <= n_out:
        return list(range(n))
    sel = [0]
    bounds = [
        1 + int(np.floor(i * (n - 2) / (n_out - 2)))
        for i in range(n_out - 1)
    ]
    bounds[-1] = n - 1
    a = 0
    for i in range(n_out - 2):
        s, e = bounds[i], bounds[i + 1]
        if i + 2 <= n_out - 2:
            nxt = slice(bounds[i + 1], bounds[i + 2])
            cx, cy = float(np.mean(x[nxt])), float(np.mean(y[nxt]))
        else:
            cx, cy = float(x[-1]), float(y[-1])
        best, best_area = s, -1.0
        for j in range(s, e):
            area = abs(
                (x[a] - cx) * (y[j] - y[a]) - (x[a] - x[j]) * (y[a] - cy)
            )
            if area > best_area:
                best, best_area = j, area
        sel.append(best)
        a = best
    sel.append(n - 1)
    return sel


@pytest.mark.parametrize("n,n_out", [(500, 3), (500, 10), (500, 101),
                                     (10, 10), (5, 20), (3, 3)])
def test_lttb_indices_vs_reference(rng, n, n_out):
    x = np.cumsum(rng.integers(1, 50, n)).astype("float64")
    y = rng.normal(0, 10, n)
    got = lttb_indices(x, y, n_out)
    assert got.tolist() == _lttb_reference(x, y, n_out)
    assert got[0] == 0 and got[-1] == n - 1
    assert len(got) == min(n, n_out)
    assert (np.diff(got) > 0).all()


def test_lttb_keeps_extreme_spike(rng):
    """A single huge spike must survive any budget >= 3."""
    x = np.arange(1000, dtype="float64")
    y = rng.normal(0, 1, 1000)
    y[617] = 1e6
    assert 617 in lttb_indices(x, y, 30)


def test_lttb_downsample_spark_parity(spark, rng):
    df, pdf = _series_frame(spark, rng)
    got = (
        lttb_downsample(df, ["conv_id"], "ts", "value", 20, "event_id")
        .toPandas()
        .sort_values(["conv_id", "pos"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for cid, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "event_id"])
        x = g["ts"].astype("datetime64[us]").astype("int64").to_numpy().astype("float64")
        y = g["value"].to_numpy()
        for p, j in enumerate(lttb_indices(x, y, 20)):
            exp_rows.append((cid, p, g["ts"].iloc[j], g["value"].iloc[j]))
    exp = pd.DataFrame(exp_rows, columns=["conv_id", "pos", "ts", "value"])
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_exact=True
    )


# ---------------------------------------------------------------- EWMA

def test_ewma_matches_recursion_with_tiny_arrow_batches(spark, rng):
    """Parity vs the direct recursion; Arrow batches forced tiny so a
    key's run straddles many batches and the carried state is what
    produces the right answer."""
    df, pdf = _series_frame(spark, rng, n_keys=4, n=150)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        got = (
            ewma_smooth(df, ["conv_id"], "ts", "value", 0.3, "event_id")
            .toPandas()
            .sort_values(["conv_id", "ts", "event_id"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for cid, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "event_id"])
        s, out = None, []
        for v in g["value"]:
            s = v if s is None else 0.3 * v + 0.7 * s
            out.append(s)
        np.testing.assert_allclose(
            got.loc[got.conv_id == cid, "ewma"].to_numpy(),
            np.array(out), rtol=1e-12,
        )


def test_ewma_alpha_one_is_identity(spark, rng):
    df, pdf = _series_frame(spark, rng, n_keys=1, n=50)
    got = ewma_smooth(df, ["conv_id"], "ts", "value", 1.0, "event_id").toPandas()
    np.testing.assert_array_equal(
        got["ewma"].to_numpy(), got["value"].to_numpy()
    )


# ------------------------------------------------- exp_smooth_run kernel

@pytest.mark.parametrize("alpha", [0.2, 0.3])
@pytest.mark.parametrize("kind", ["uniform", "counts"])
def test_exp_smooth_run_ewma_equals_pandas_ewm(alpha, kind):
    """beta = gamma = 0 is pandas ewm(adjust=False) bit for bit, on
    uniform floats and on small integer counts (runs of equal values)."""
    rng = np.random.default_rng(7)
    if kind == "uniform":
        vals = rng.random(100_000)
    else:
        vals = rng.integers(0, 3, 100_000).astype(np.float64)
    lev, trd, sea, _ = exp_smooth_run(vals, None, alpha)
    want = pd.Series(vals).ewm(alpha=alpha, adjust=False).mean().to_numpy()
    np.testing.assert_array_equal(lev, want)
    assert not trd.any() and not sea.any()


@pytest.mark.parametrize("params", [
    (0.3, 0.0, 0.0, 1),
    (0.2, 0.3, 0.0, 1),
    (0.25, 0.2, 0.5, 5),
], ids=["ewma", "holt", "holt_winters"])
def test_exp_smooth_run_split_continues_exactly(params):
    """Splitting a series at any index and continuing from the
    returned state equals one pass, the ring and cursor included; so
    does feeding it one value at a time."""
    vals = np.random.default_rng(3).normal(size=37).round(2)
    *whole, end = exp_smooth_run(vals, None, *params)
    for i in range(1, len(vals)):
        *head, mid = exp_smooth_run(vals[:i], None, *params)
        *tail, got = exp_smooth_run(vals[i:], mid, *params)
        for w, h, t in zip(whole, head, tail):
            np.testing.assert_array_equal(np.concatenate([h, t]), w)
        assert got == end
    state, levels = None, []
    for v in vals:
        lev, _, _, state = exp_smooth_run(np.array([v]), state, *params)
        levels.append(lev[0])
    np.testing.assert_array_equal(np.array(levels), whole[0])
    assert state == end


def test_exp_smooth_run_state_is_plain_python():
    """The state store unpickles plain floats/ints only: the state
    holds float, list[float] and int even for numpy-typed inputs."""
    vals = np.arange(10, dtype=np.float64)
    state = None
    for _ in range(2):
        *_, state = exp_smooth_run(
            vals, state, np.float64(0.2), np.float64(0.3),
            np.float64(0.4), np.int64(4),
        )
        lv, b, ring, cur = state
        assert type(lv) is float and type(b) is float
        assert type(ring) is list and len(ring) == 4
        assert all(type(x) is float for x in ring)
        assert type(cur) is int
    *_, state = exp_smooth_run(vals[:1], None, 0.2)
    assert type(state[0]) is float


# ------------------------------------------------------------- counters

def test_counter_increase_with_resets(spark):
    ts = [T0 + dt.timedelta(minutes=10 * i) for i in range(12)]
    # two hours: counter climbs 0..50, resets to 3, climbs again
    vals = [0, 10, 25, 25, 40, 50, 3, 9, 9, 20, 1, 7]
    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "ts": ts, "value":
                      [float(v) for v in vals], "event_id": range(12)})
    )
    got = (
        counter_increase(df, ["conv_id"], "ts", "value", "1 hour", "event_id")
        .toPandas().sort_values("bucket_start").reset_index(drop=True)
    )
    # hour 1: deltas 0(first),10,15,0,15,10 -> 50; no resets
    # hour 2: reset to 3 (+3), +6, 0, +11, reset to 1 (+1), +6 -> 27; 2 resets
    assert got["increase"].tolist() == [50.0, 27.0]
    assert got["n_resets"].tolist() == [0, 2]
    assert got["samples"].tolist() == [6, 6]


def test_counter_increase_monotone_telescopes(spark, rng):
    """On a reset-free counter the total increase telescopes to
    last - first."""
    n = 500
    vals = np.cumsum(rng.integers(0, 20, n)).astype("float64")
    ts = [T0 + dt.timedelta(seconds=int(s)) for s in
          np.cumsum(rng.integers(1, 300, n))]
    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "ts": ts, "value": vals,
                      "event_id": range(n)})
    )
    got = counter_increase(df, ["conv_id"], "ts", "value", "1 hour",
                           "event_id").toPandas()
    assert got["n_resets"].sum() == 0
    assert got["increase"].sum() == pytest.approx(vals[-1] - vals[0])


# ------------------------------------------------------------ anomalies

def test_rolling_zscore_matches_pandas(spark, rng):
    n = 300
    pdf = pd.DataFrame({
        "conv_id": "c",
        "bucket_start": [T0 + dt.timedelta(hours=i) for i in range(n)],
        "vsum": rng.normal(100, 15, n),
    })
    got = (
        rolling_zscore(spark.createDataFrame(pdf), ["conv_id"], "vsum",
                       lookback=24, min_periods=12)
        .toPandas().sort_values("bucket_start").reset_index(drop=True)
    )
    base = pdf["vsum"].rolling(24, min_periods=12).agg(["mean", "std", "count"]).shift(1)
    exp_z = ((pdf["vsum"] - base["mean"]) / base["std"]).where(
        base["count"] >= 12
    )
    np.testing.assert_allclose(
        got["z"].to_numpy(),
        np.round(exp_z.to_numpy() + 1e-9, 6),
        rtol=1e-9, equal_nan=True,
    )


def test_rolling_zscore_flags_planted_spike(spark, rng):
    vals = rng.normal(50, 2, 100)
    vals[80] = 500.0
    pdf = pd.DataFrame({
        "conv_id": "c",
        "bucket_start": [T0 + dt.timedelta(hours=i) for i in range(100)],
        "vsum": vals,
    })
    got = rolling_zscore(
        spark.createDataFrame(pdf), ["conv_id"], "vsum"
    ).toPandas().sort_values("bucket_start").reset_index(drop=True)
    assert got["z"].iloc[80] > 10
    # the spike inflates the NEXT buckets' baseline stddev instead of
    # its own (current bucket excluded from its own window)
    assert abs(got["z"].iloc[79]) < 5


# --------------------------------------------------------------- irate

def test_irate_hand_computed(spark):
    from peakmatch_xcorr_spark.operators.downsample import irate

    ts = [T0 + dt.timedelta(minutes=m) for m in (0, 10, 50, 70, 80)]
    # hour 1 last two: 25 -> 40 over 40 min; hour 2: reset 40 -> 5
    vals = [10.0, 25.0, 40.0, 5.0, 11.0]
    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "ts": ts, "value": vals,
                      "event_id": range(5)})
    )
    got = (
        irate(df, ["conv_id"], "ts", "value", "1 hour", "event_id")
        .toPandas().sort_values("bucket_start").reset_index(drop=True)
    )
    assert got.samples.tolist() == [3, 2]
    assert got.rate[0] == pytest.approx(15.0 / 2400.0)
    # hour 2 latest delta: 11 - 5 = +6 over 600s (the reset happened
    # at the hour's FIRST sample, not its last pair)
    assert got.rate[1] == pytest.approx(6.0 / 600.0)


def test_irate_first_sample_and_reset_semantics(spark):
    from peakmatch_xcorr_spark.operators.downsample import irate

    ts = [T0, T0 + dt.timedelta(minutes=61)]
    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": "c", "ts": ts, "value": [50.0, 20.0],
                      "event_id": [0, 1]})
    )
    got = (
        irate(df, ["conv_id"], "ts", "value", "1 hour", "event_id")
        .toPandas().sort_values("bucket_start").reset_index(drop=True)
    )
    # bucket 1 holds only the key's first sample: no predecessor -> null
    assert pd.isna(got.rate[0])
    # bucket 2: negative delta = reset -> post-reset value / dt
    assert got.rate[1] == pytest.approx(20.0 / 3660.0)


def test_irate_matches_pandas_bruteforce(spark, rng):
    from peakmatch_xcorr_spark.operators.downsample import irate

    df, pdf = _series_frame(spark, rng)
    got = (
        irate(df, ["conv_id"], "ts", "value", "1 hour", "event_id")
        .toPandas().sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    p = pdf.sort_values(["conv_id", "ts", "event_id"]).copy()
    p["dv"] = p.groupby("conv_id").value.diff()
    tus = p.ts.astype("datetime64[us]").astype("int64")
    p["dt_us"] = p.assign(_t=tus).groupby("conv_id")._t.diff()
    p["rate"] = np.where(
        p.dt_us > 0,
        np.where(p.dv < 0, p.value, p.dv) * 1e6 / p.dt_us,
        np.nan,
    )
    p["bucket_start"] = p.ts.dt.floor("h")
    exp = (
        p.groupby(["conv_id", "bucket_start"])
        .agg(rate=("rate", "last"), samples=("rate", "size"))
        .reset_index()
        .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    assert got.samples.tolist() == exp.samples.tolist()
    np.testing.assert_allclose(
        got.rate.to_numpy(), exp.rate.to_numpy(), rtol=1e-12, equal_nan=True
    )


# ------------------------------------------------------------------ SAX

def test_sax_matches_bruteforce(spark, rng):
    """Bit-exact vs a python recompute (exact int sums, same closed
    form), including n < word_len, n == 1, and zero-variance keys."""
    import math

    from peakmatch_xcorr_spark.operators.downsample import (
        SAX_BREAKPOINTS,
        sax_symbols,
    )

    rows, eid = [], 0
    for k, n in enumerate([1, 5, 23, 180]):
        t = T0
        for _ in range(n):
            t += dt.timedelta(seconds=int(rng.integers(1, 900)))
            rows.append((f"k{k}", t, round(float(rng.uniform(0, 500)), 2), eid))
            eid += 1
    rows.append(("kconst", T0, 3.14, eid))
    rows.append(("kconst", T0 + dt.timedelta(days=1), 3.14, eid + 1))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts", "value", "event_id"])
    got = (
        sax_symbols(
            spark.createDataFrame(pdf), ["conv_id"], "ts", "value", 8, 4,
            "event_id",
        )
        .toPandas().set_index("conv_id").sort_index()
    )
    bps, letters = SAX_BREAKPOINTS[4], "abcd"
    for cid, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "event_id"])
        x = np.round(g["value"].to_numpy() * 100).astype(np.int64)
        n, sx, sxx = len(x), int(x.sum()), int((x.astype(object) ** 2).sum())
        m2 = n * sxx - sx * sx
        segs = (np.arange(n) * 8) // n
        word = ""
        for s in sorted(set(segs)):
            run = x[segs == s]
            if n > 1 and m2 > 0:
                sd = math.sqrt(m2 / (n * (n - 1.0)))
                z = (run.sum() / len(run) - sx / n) / sd
            else:
                z = 0.0
            word += letters[sum(z >= b for b in bps)]
        assert got.loc[cid, "word"] == word
        assert got.loc[cid, "n_points"] == n


def test_sax_single_exchange_plan(spark, rng):
    """The whole operator (two windows + two groupBys) rides ONE
    shuffle: the window exchange on the key satisfies both downstream
    groupings (subset clustering)."""
    import re

    from peakmatch_xcorr_spark.operators.downsample import sax_symbols

    df, _ = _series_frame(spark, rng, n_keys=2, n=40)
    out = sax_symbols(df, ["conv_id"], "ts", "value", 8, 4, "event_id")
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "PythonUDF" not in p and "BatchEvalPython" not in p


def test_sax_scale_invariance(spark, rng):
    """z is scale-free: scaling every value by 7 yields identical
    words (value_scale adjusted to keep the int mapping exact)."""
    from peakmatch_xcorr_spark.operators.downsample import sax_symbols

    df, pdf = _series_frame(spark, rng, n_keys=2, n=60)
    a = (
        sax_symbols(df, ["conv_id"], "ts", "value", 8, 4, "event_id")
        .toPandas().set_index("conv_id")["word"].sort_index()
    )
    pdf7 = pdf.assign(value=pdf["value"] * 7)
    b = (
        sax_symbols(
            spark.createDataFrame(pdf7), ["conv_id"], "ts", "value", 8, 4,
            "event_id",
        )
        .toPandas().set_index("conv_id")["word"].sort_index()
    )
    pd.testing.assert_series_equal(a, b)


# ----------------------------------------------------------- Holt linear

def test_holt_matches_recursion_with_tiny_arrow_batches(spark, rng):
    """Bit-exact parity vs the direct (level, trend) recursion with
    Arrow batches forced tiny, so runs straddle batches and the
    carried (l, b) state is what produces the answer."""
    from peakmatch_xcorr_spark.operators.downsample import holt_smooth

    df, pdf = _series_frame(spark, rng, n_keys=4, n=150)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        got = (
            holt_smooth(df, ["conv_id"], "ts", "value", 0.2, 0.3, "event_id")
            .toPandas()
            .sort_values(["conv_id", "ts", "event_id"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for cid, g in pdf.groupby("conv_id"):
        g = g.sort_values(["ts", "event_id"])
        lv, b, L, B = None, 0.0, [], []
        for v in g["value"]:
            if lv is None:
                lv = v
            else:
                lp = lv
                lv = 0.2 * v + 0.8 * (lv + b)
                b = 0.3 * (lv - lp) + 0.7 * b
            L.append(lv)
            B.append(b)
        sub = got[got.conv_id == cid]
        np.testing.assert_array_equal(sub["level"].to_numpy(), np.array(L))
        np.testing.assert_array_equal(sub["trend"].to_numpy(), np.array(B))


def test_holt_beta_zero_is_ewma(spark, rng):
    """beta=0 freezes trend at 0, so level degenerates to the EWMA
    recursion — cross-checked against ewma_smooth bit-for-bit."""
    from peakmatch_xcorr_spark.operators.downsample import holt_smooth

    df, _ = _series_frame(spark, rng, n_keys=2, n=80)
    h = (
        holt_smooth(df, ["conv_id"], "ts", "value", 0.3, 0.0, "event_id")
        .toPandas().sort_values(["conv_id", "ts", "event_id"])
    )
    e = (
        ewma_smooth(df, ["conv_id"], "ts", "value", 0.3, "event_id")
        .toPandas().sort_values(["conv_id", "ts", "event_id"])
    )
    np.testing.assert_array_equal(
        h["level"].to_numpy(), e["ewma"].to_numpy()
    )
    assert (h["trend"].to_numpy() == 0.0).all()


def test_holt_winters_matches_recursion_with_tiny_arrow_batches(spark, rng):
    """Bit-exact parity vs the direct (level, trend, seasonal-ring)
    recursion with Arrow batches forced tiny, so runs straddle batches
    and the carried ring buffer is what produces the answer."""
    from peakmatch_xcorr_spark.operators.downsample import holt_winters_smooth

    period, a, be, g = 5, 0.2, 0.3, 0.4
    df, pdf = _series_frame(spark, rng, n_keys=4, n=150)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        got = (
            holt_winters_smooth(
                df, ["conv_id"], "ts", "value", a, be, g, period, "event_id"
            )
            .toPandas()
            .sort_values(["conv_id", "ts", "event_id"])
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for cid, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values(["ts", "event_id"])
        lv, b = None, 0.0
        ring, cur = [0.0] * period, 0
        L, B, S = [], [], []
        for v in grp["value"]:
            if lv is None:
                lv = v
                ring[cur] = 0.0
                cur = (cur + 1) % period
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
        np.testing.assert_array_equal(sub["level"].to_numpy(), np.array(L))
        np.testing.assert_array_equal(sub["trend"].to_numpy(), np.array(B))
        np.testing.assert_array_equal(sub["seasonal"].to_numpy(), np.array(S))


def test_holt_winters_gamma_zero_is_holt(spark, rng):
    """gamma=0 freezes the seasonal ring at its zero seed, so
    (level, trend) degenerate to Holt linear — cross-checked against
    holt_smooth bit-for-bit."""
    from peakmatch_xcorr_spark.operators.downsample import (
        holt_smooth, holt_winters_smooth,
    )

    df, _ = _series_frame(spark, rng, n_keys=2, n=80)
    hw = (
        holt_winters_smooth(
            df, ["conv_id"], "ts", "value", 0.2, 0.3, 0.0, 7, "event_id"
        )
        .toPandas().sort_values(["conv_id", "ts", "event_id"])
    )
    h = (
        holt_smooth(df, ["conv_id"], "ts", "value", 0.2, 0.3, "event_id")
        .toPandas().sort_values(["conv_id", "ts", "event_id"])
    )
    np.testing.assert_array_equal(
        hw["level"].to_numpy(), h["level"].to_numpy()
    )
    np.testing.assert_array_equal(
        hw["trend"].to_numpy(), h["trend"].to_numpy()
    )
    assert (hw["seasonal"].to_numpy() == 0.0).all()


def test_holt_winters_tracks_planted_seasonality(spark):
    """On a pure additive-seasonal series (period 4, no trend, long
    enough to converge) the seasonal state approaches the planted
    offsets and the one-step forecast l + b + s_{t+1-m} approaches the
    next value."""
    from peakmatch_xcorr_spark.operators.downsample import holt_winters_smooth

    period = 4
    offs = [3.0, -1.0, -4.0, 2.0]
    rows = []
    t = T0
    for i in range(400):
        t += dt.timedelta(minutes=10)
        rows.append(("k", t, 10.0 + offs[i % period], i))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts", "value", "event_id"])
    got = (
        holt_winters_smooth(
            spark.createDataFrame(pdf), ["conv_id"], "ts", "value",
            0.3, 0.1, 0.5, period, "event_id",
        )
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    tail = got.tail(2 * period)
    # seasonal state converged to the planted offsets (up to the
    # shared-mean split between level and seasonal: compare deltas)
    seas = tail.groupby(tail["event_id"] % period)["seasonal"].mean()
    planted = pd.Series(offs, index=range(period))
    got_centered = seas - seas.mean()
    planted_centered = planted - planted.mean()
    np.testing.assert_allclose(
        got_centered.to_numpy(), planted_centered.to_numpy(), atol=0.15
    )
    # one-step forecast: f_{t+1} = level_t + trend_t + s_{t+1-period}
    err = []
    for i in range(len(got) - period, len(got) - 1):
        f = (
            got.loc[i, "level"] + got.loc[i, "trend"]
            + got.loc[i + 1 - period, "seasonal"]
        )
        err.append(abs(f - got.loc[i + 1, "value"]))
    assert max(err) < 0.2


def test_holt_winters_forecast_matches_state_extrapolation(spark, rng):
    """Forecast rows equal l_T + h*b_T + s_{T+h-period} computed from
    the direct-recursion terminal state, with synthetic timestamps at
    the declared cadence; output is |keys| * horizon rows."""
    from peakmatch_xcorr_spark.operators.downsample import (
        holt_winters_forecast,
    )

    period, a, be, g, H = 3, 0.25, 0.2, 0.5, 5
    df, pdf = _series_frame(spark, rng, n_keys=3, n=60)
    got = (
        holt_winters_forecast(
            df, ["conv_id"], "ts", "value", a, be, g, period,
            horizon=H, step_seconds=600, tiebreak="event_id",
        )
        .toPandas().sort_values(["conv_id", "h"]).reset_index(drop=True)
    )
    assert len(got) == 3 * H
    for cid, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values(["ts", "event_id"])
        lv, b = None, 0.0
        ring, cur = [0.0] * period, 0
        for v in grp["value"]:
            if lv is None:
                lv = v
                cur = 1 % period
                continue
            sp = ring[cur]
            lp = lv
            lv = a * (v - sp) + (1 - a) * (lv + b)
            b = be * (lv - lp) + (1 - be) * b
            ring[cur] = g * (v - lv) + (1 - g) * sp
            cur = (cur + 1) % period
        sub = got[got.conv_id == cid]
        last_ts = grp["ts"].iloc[-1]
        for h in range(1, H + 1):
            row = sub[sub.h == h].iloc[0]
            exp = lv + h * b + ring[(cur + h - 1) % period]
            assert row["forecast"] == exp
            assert row["ts"] == last_ts + dt.timedelta(seconds=600 * h)


def test_holt_winters_forecast_continues_planted_seasonality(spark):
    """On a converged pure-seasonal series the forecasts continue the
    planted pattern."""
    from peakmatch_xcorr_spark.operators.downsample import (
        holt_winters_forecast,
    )

    period = 4
    offs = [3.0, -1.0, -4.0, 2.0]
    rows = []
    t = T0
    for i in range(400):
        t += dt.timedelta(minutes=10)
        rows.append(("k", t, 10.0 + offs[i % period], i))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts", "value", "event_id"])
    got = (
        holt_winters_forecast(
            spark.createDataFrame(pdf), ["conv_id"], "ts", "value",
            0.3, 0.1, 0.5, period, horizon=2 * period,
            step_seconds=600, tiebreak="event_id",
        )
        .toPandas().sort_values("h").reset_index(drop=True)
    )
    for _, r in got.iterrows():
        expected = 10.0 + offs[(400 + r["h"] - 1) % period]
        assert abs(r["forecast"] - expected) < 0.2, (r["h"], r["forecast"])


# ----------------------------------------------------------------- ASAP

def _asap_scalar(v, candidates):
    import math

    v = np.asarray(v, dtype=np.int64)
    rows = {}
    for w in sorted(set(candidates)):
        S = np.convolve(v, np.ones(w, dtype=np.int64), "valid")
        if len(S) < 4:
            continue
        d = np.diff(S)
        if len(d) < 2:
            continue
        nd, d1, d2 = len(d), int(d.sum()), int((d * d).sum())
        rough = math.sqrt((nd * d2 - d1 * d1) / (nd * nd)) / w
        Sf = S.astype(float)
        ns = len(Sf)
        s1, s2 = Sf.sum(), (Sf * Sf).sum()
        s3, s4 = (Sf**3).sum(), (Sf**4).sum()
        m = s1 / ns
        m2 = s2 / ns - m * m
        m4 = s4 / ns - 4.0 * m * (s3 / ns) + 6.0 * m * m * (s2 / ns) - 3.0 * m**4
        kurt = round(m4 / (m2 * m2) + 1e-9, 6) if m2 > 0 else None
        rows[w] = (round(rough + 1e-9, 6), kurt)
    raw_k = rows[1][1]
    elig = [
        (r, w) for w, (r, k) in rows.items()
        if w == 1 or (k is not None and raw_k is not None and k >= raw_k)
    ]
    r, w = min(elig)
    return w, rows


def _run_asap(spark, series, candidates=(1, 2, 3, 4, 6, 12)):
    from peakmatch_xcorr_spark.operators.downsample import asap_pick_window

    dense = spark.createDataFrame(
        [("k", i, int(x)) for i, x in enumerate(series)],
        "event_type string, b long, v long",
    )
    return asap_pick_window(dense, ["event_type"], candidates).collect()[0]


def test_asap_matches_scalar_replica(spark, rng):
    v = rng.poisson(5, 300)
    got = _run_asap(spark, v)
    want_w, rows = _asap_scalar(v, (1, 2, 3, 4, 6, 12))
    assert got["best_window"] == want_w
    assert got["roughness"] == rows[want_w][0]
    assert got["kurtosis"] == rows[want_w][1]
    assert got["kurtosis_raw"] == rows[1][1]


def test_asap_smooths_noise_but_keeps_spikes(spark, rng):
    # smooth-eligible noise: some window > 1 wins
    noise = rng.poisson(20, 400)
    got = _run_asap(spark, noise)
    w_noise, rows = _asap_scalar(noise, (1, 2, 3, 4, 6, 12))
    assert got["best_window"] == w_noise
    # a single massive spike dominates kurtosis; averaging dilutes it,
    # so kurtosis preservation must reject the smoothing windows
    spiked = rng.poisson(2, 400)
    spiked[200] = 5000
    got2 = _run_asap(spark, spiked)
    assert got2["best_window"] == 1
