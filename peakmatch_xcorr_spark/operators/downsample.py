"""Visual/statistical downsampling + per-key series analytics.

The north rule names this engine a "rollup + downsample + retention"
engine; the rollup cascade (operators/rollup.py) covers the
*aggregate* downsample path (the reference's band-mean rollup,
Util.java:214-251, generalized to time buckets).  This module adds the
*shape-preserving* downsample family from the time-series literature
plus the per-key sequential analytics that ride on the same
partitioning:

- ``m4_downsample``  — M4 (Jugel et al., VLDB 2014): per pixel bucket
  keep the first/last/min/max rows.  Exact for line rendering at a
  given width; pure built-in aggregation (one shuffle, map-side
  partials), no Python in the plan.
- ``lttb_downsample`` — Largest-Triangle-Three-Buckets (Steinarsson,
  2013): fixed output budget n_out per key, perceptually best single
  polyline.  Sequential (each pick depends on the previous), so it
  runs as one applyInPandas per key with a vectorized numpy inner
  loop over the n_out buckets.
- ``ewma_smooth`` — exponentially-weighted moving average per key.
  The recursion s_t = a*v_t + (1-a)*s_{t-1} carries O(1) state, so it
  streams through ONE mapInPandas over key-sorted partitions carrying
  only {key: last_s} across Arrow batches (``plans.keyed``) — no
  group materialization, arbitrarily long series.
- ``counter_increase`` — Prometheus-style increase() over cumulative
  counters with reset detection (delta < 0 → the post-reset value is
  the contribution).  Pure window + aggregate, whole-stage codegen.
- ``rolling_zscore`` — trailing-window anomaly score over a rolled
  tier: z = (v - mean)/stddev over the previous ``lookback`` buckets
  (the current bucket excluded, so an anomaly can't mask itself).
  Pure window functions.

Scale notes (100 TB / 10^12 turns):
- m4/counter/zscore are single-exchange plans keyed by (key[, bucket])
  with map-side partial aggregation; skew is bounded by the largest
  single conversation, same envelope as the rollup cascade.
- lttb/ewma partition by key; per-task memory is one conversation's
  curve (LTTB) or O(1) (EWMA).  Neither collects to the driver.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.rollup import epoch_seconds
from peakmatch_xcorr_spark.plans.keyed import key_runs, keyed_map_in_pandas


# ------------------------------------------------------------------ M4

def m4_downsample(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    tiebreak: str | None = None,
) -> DataFrame:
    """M4: per (key, bucket) emit the first/last/min/max points with
    their timestamps — the exact row set needed to rasterize the
    series at one pixel column per bucket (VLDB 2014 "M4" result).

    Ties are broken deterministically through lexicographic struct
    ordering: min/max over struct(value, ts, tiebreak) — Spark
    compares structs field-by-field, so equal values fall back to the
    earlier (min) / later (max) timestamp, then the tiebreak column.
    One shuffle; the struct min/max still does partial aggregation
    map-side.
    """
    tb = [F.col(tiebreak)] if tiebreak else []
    df = df.filter(F.col(value_col).isNotNull())
    w = F.window(ts_col, bucket)
    v, t = F.col(value_col), F.col(ts_col)
    aggs = [
        F.min(F.struct(t, *tb, v)).alias("_first"),
        F.max(F.struct(t, *tb, v)).alias("_last"),
        F.min(F.struct(v, t, *tb)).alias("_min"),
        F.max(F.struct(v, t, *tb)).alias("_max"),
        F.count(F.lit(1)).alias("n_points"),
    ]
    out = df.groupBy(*keys, w.alias("w")).agg(*aggs)
    return out.select(
        *keys,
        F.col("w.start").alias("bucket_start"),
        F.col(f"_first.{ts_col}").alias("ts_first"),
        F.col(f"_first.{value_col}").alias("v_first"),
        F.col(f"_last.{ts_col}").alias("ts_last"),
        F.col(f"_last.{value_col}").alias("v_last"),
        F.col(f"_min.{ts_col}").alias("ts_min"),
        F.col(f"_min.{value_col}").alias("v_min"),
        F.col(f"_max.{ts_col}").alias("ts_max"),
        F.col(f"_max.{value_col}").alias("v_max"),
        "n_points",
    )


# ---------------------------------------------------------------- LTTB

def lttb_indices(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Largest-Triangle-Three-Buckets selection over one sorted series;
    returns the selected indices (ascending).  Pure numpy; the loop is
    over the n_out-2 interior buckets, the area computation inside each
    bucket is vectorized.

    Bucketing follows Steinarsson 2013: first and last points are
    always kept; interior points [1, n-2] are split into n_out-2
    equal-size buckets; each pick maximizes the triangle area between
    the previously selected point and the *average* of the next
    bucket.  Ties take the lowest index (np.argmax).
    """
    n = len(x)
    if n_out < 3:
        raise ValueError("lttb needs n_out >= 3")
    if n <= n_out:
        return np.arange(n)
    # bucket boundaries over interior indices: bounds[i] .. bounds[i+1]
    bounds = 1 + np.floor(
        np.arange(n_out - 1, dtype=np.float64) * (n - 2) / (n_out - 2)
    ).astype(np.int64)
    bounds[-1] = n - 1  # exclusive end of the last interior bucket
    sel = np.empty(n_out, dtype=np.int64)
    sel[0] = 0
    a = 0
    for i in range(n_out - 2):
        s, e = bounds[i], bounds[i + 1]
        # average of the NEXT bucket (the final "bucket" is the last
        # point alone)
        if i + 2 <= n_out - 2:
            s2, e2 = bounds[i + 1], bounds[i + 2]
            cx, cy = x[s2:e2].mean(), y[s2:e2].mean()
        else:
            cx, cy = x[n - 1], y[n - 1]
        ax, ay = x[a], y[a]
        area = np.abs(
            (ax - cx) * (y[s:e] - ay) - (ax - x[s:e]) * (ay - cy)
        )
        a = s + int(np.argmax(area))
        sel[i + 1] = a
    sel[-1] = n - 1
    return sel


def lttb_downsample(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    n_out: int = 100,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key LTTB downsample to at most ``n_out`` points, emitted
    with their 0-based output position ``pos``.

    Sequential per key (each pick depends on the previous), so this is
    one applyInPandas per key — per-task memory is one conversation's
    curve, no driver collect.  x-coordinates are epoch MICROseconds as
    float64 (integer microseconds are exact in float64 up to 2^53, so
    the area arithmetic is engine-reproducible).
    """
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + f", pos int, {ts_col} timestamp, {value_col} double"
    )

    def pick(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order, kind="mergesort")
        x = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy().astype("float64")
        y = pdf[value_col].astype("float64").to_numpy()
        idx = lttb_indices(x, y, n_out)
        out = {k: pdf[k].iloc[idx].astype(str).to_numpy() for k in keys}
        out["pos"] = np.arange(len(idx), dtype=np.int32)
        out[ts_col] = pdf[ts_col].iloc[idx].to_numpy()
        out[value_col] = y[idx]
        return pd.DataFrame(out)

    slim = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order, value_col
    ) if tiebreak else df.filter(F.col(value_col).isNotNull()).select(
        *keys, ts_col, value_col
    )
    return slim.groupBy(*keys).applyInPandas(pick, schema=schema)


# ---------------------------------------------------------------- EWMA

def ewma_smooth(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.2,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key EWMA: s_1 = v_1; s_t = alpha*v_t + (1-alpha)*s_{t-1}
    (pandas ewm(adjust=False) semantics), appended as column ``ewma``.

    Runs as repartition(keys) + sortWithinPartitions + ONE mapInPandas
    carrying only {key: last_s} across Arrow batches — the recursion
    has O(1) state, so no group is ever materialized and a conversation
    of any length streams through.  The carried state is injected by
    prepending it as a synthetic first sample and dropping the first
    output (ewm(adjust=False) then continues the recursion exactly).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    key_fields = ", ".join(f"{k} string" for k in keys)
    extra = f", {tiebreak} long" if tiebreak else ""
    schema = (
        f"{key_fields}, {ts_col} timestamp{extra}, {value_col} double, "
        "ewma double"
    )

    def smooth(batches):
        import pandas as pd

        state: dict[tuple, float] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key_arrs = [pdf[k].astype(str).to_numpy() for k in keys]
            vals = pdf[value_col].astype("float64").to_numpy()
            starts, ends = key_runs(key_arrs)
            out = np.empty(len(pdf), dtype=np.float64)
            for s, e in zip(starts, ends):
                key = tuple(arr[s] for arr in key_arrs)
                run = vals[s:e]
                prev = state.get(key)
                if prev is None:
                    sm = (
                        pd.Series(run).ewm(alpha=alpha, adjust=False)
                        .mean().to_numpy()
                    )
                else:
                    sm = (
                        pd.Series(np.concatenate(([prev], run)))
                        .ewm(alpha=alpha, adjust=False)
                        .mean().to_numpy()[1:]
                    )
                out[s:e] = sm
                state[key] = sm[-1]
            res = {k: arr for k, arr in zip(keys, key_arrs)}
            res[ts_col] = pdf[ts_col].to_numpy()
            if tiebreak:
                res[tiebreak] = pdf[tiebreak].to_numpy()
            res[value_col] = vals
            res["ewma"] = out
            yield pd.DataFrame(res)

    slim = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order, value_col
    )
    return keyed_map_in_pandas(slim, keys, order, smooth, schema)


# ------------------------------------------------------------- counters

def counter_increase(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    tiebreak: str | None = None,
) -> DataFrame:
    """Prometheus-style increase() per (key, bucket) over a cumulative
    counter sample stream with reset handling: per key ordered by
    (ts, tiebreak), d = v - lag(v); a negative d means the counter
    reset, so the sample contributes its post-reset value v; the first
    sample of a key contributes 0.  Emits increase / n_resets /
    samples per bucket.

    Pure lag-window + hash aggregate — whole-stage codegen end to end.
    Two exchanges (window by key, then agg by key+bucket) but the
    second only moves one partial row per (key, bucket) per partition.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    v = F.col(value_col)
    d = v - F.lag(value_col).over(w)
    stepped = df.filter(v.isNotNull()).select(
        *keys,
        F.window(ts_col, bucket).start.alias("bucket_start"),
        F.when(d.isNull(), F.lit(0.0))
        .when(d < 0, v)
        .otherwise(d)
        .alias("_step"),
        F.when(d < 0, 1).otherwise(0).alias("_reset"),
    )
    return stepped.groupBy(*keys, "bucket_start").agg(
        F.sum("_step").alias("increase"),
        F.sum("_reset").alias("n_resets"),
        F.count(F.lit(1)).alias("samples"),
    )


def irate(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    tiebreak: str | None = None,
) -> DataFrame:
    """Prometheus-style irate() per (key, bucket): the instantaneous
    per-second rate from the LAST TWO samples of the key's stream up
    to the bucket's end — (v_n - v_{n-1}) / (t_n - t_{n-1}), with a
    counter reset (negative delta) contributing v_n / dt.  Buckets
    whose last sample is the key's first (no predecessor) or whose
    adjacent samples share a timestamp emit a null rate.

    The lag runs over the whole key stream (PromQL looks back across
    bucket/scrape-gap boundaries), then ``max_by`` keeps the latest
    sample per bucket — a lag-window plus one aggregate, all
    whole-stage codegen.  ONE exchange end-to-end: the aggregate's
    (keys, bucket) grouping is satisfied by the window's hash
    distribution on keys, so Catalyst plans the final agg without a
    second shuffle (plan-gated in tests/test_stats.py).
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    v = F.col(value_col)
    # exact int64 microseconds — a seconds cast would truncate
    # sub-second gaps and silently inflate rates; the oracle contract
    # is dv * 1e6 / dt_us with integer dt_us on both engines
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dv = v - F.lag(value_col).over(w)
    dt_us = ts_us - F.lag(ts_us).over(w)
    rate = F.when(
        dt_us > 0,
        F.when(dv < 0, v).otherwise(dv) * F.lit(1e6) / dt_us,
    )
    stepped = df.filter(v.isNotNull()).select(
        *keys,
        F.window(ts_col, bucket).start.alias("bucket_start"),
        F.struct(
            F.col(ts_col).alias("ts"),
            *([F.col(tiebreak).alias("tb")] if tiebreak else []),
        ).alias("_ord"),
        rate.alias("_rate"),
    )
    return stepped.groupBy(*keys, "bucket_start").agg(
        F.max_by("_rate", "_ord").alias("rate"),
        F.count(F.lit(1)).alias("samples"),
    )


# ------------------------------------------------------------ anomalies

def rolling_zscore(
    tier: DataFrame,
    keys: list[str],
    value_col: str = "vsum",
    ts_col: str = "bucket_start",
    lookback: int = 24,
    min_periods: int = 12,
) -> DataFrame:
    """Trailing-window z-score per key over a rolled tier: for each
    bucket, mean/stddev over the PREVIOUS ``lookback`` buckets (rows
    between -lookback and -1 — the current bucket is excluded so a
    spike cannot inflate its own baseline), z = (v - mean)/stddev.
    Rows with fewer than ``min_periods`` trailing buckets or zero
    variance get a null z.

    Pure window functions (stddev_samp matches ANSI/DuckDB stddev);
    one exchange on the keys.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(-lookback, -1)
    )
    v = F.col(value_col)
    mu = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    n = F.count(value_col).over(w)
    z = F.when((n >= min_periods) & (sd > 1e-12), (v - mu) / sd)
    return tier.select(
        *keys, ts_col, value_col,
        F.round(mu + 1e-9, 6).alias("base_mean"),
        n.alias("base_n"),
        z.alias("_z"),
    ).withColumn("z", F.round(F.col("_z") + 1e-9, 6)).drop("_z")


# ------------------------------------------------------------------ SAX

# Gaussian equiprobable breakpoints (Lin/Keogh SAX, DMKD 2007) for
# alphabet sizes 3..6.  Literal doubles so the DuckDB oracle can use
# the exact same constants.
SAX_BREAKPOINTS = {
    3: [-0.4307272992954576, 0.4307272992954576],
    4: [-0.6744897501960817, 0.0, 0.6744897501960817],
    5: [-0.8416212335729143, -0.2533471031357997,
        0.2533471031357997, 0.8416212335729143],
    6: [-0.9674215661017014, -0.4307272992954576, 0.0,
        0.4307272992954576, 0.9674215661017014],
}


def sax_symbols(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    word_len: int = 8,
    alphabet: int = 4,
    tiebreak: str | None = None,
    value_scale: int = 100,
) -> DataFrame:
    """SAX symbolization (Lin & Keogh): per key, z-normalize the
    series, PAA it into ``word_len`` contiguous row segments
    (segment of row r = ``(r-1)*word_len div n`` — the uneven-segment
    variant used when n % word_len != 0), map each segment mean to a
    letter via the Gaussian breakpoints, and concatenate into one
    symbolic word per key.  The engine analogue of the reference's
    normalized band-mean feature vector (Util.java:214-266): a
    fixed-width, shape-preserving summary of an arbitrary-length
    curve, usable as a dedup/LSH blocking key.

    Numeric determinism (the oracle-hash contract): values are scaled
    by ``value_scale`` and rounded to int64, so every sum (per-key
    Σx, Σx², per-segment Σx) is EXACT regardless of accumulation
    order; z-scores are scale-free ((seg_mean-μ)/σ cancels the
    scale), and the only float ops are the final closed-form
    divisions/sqrt — the same literal expression the DuckDB oracle
    evaluates, hence bit-identical symbols.  Int64 envelope: exact
    while n·max(Σx², (Σx)²) < 2^53, i.e. series up to ~10^5 samples
    of |scaled value| ≤ 3·10^4; cap the series (or lower the scale)
    beyond that.

    Plan: ONE exchange — the row_number/count/sum windows hash by
    ``keys``, and both downstream groupBys (keys+seg, then keys) are
    satisfied by that partitioning (subset clustering), so the whole
    operator is a single shuffle at any data size; no Python in the
    plan (plan-gated in tests/test_plans.py).

    Degenerate series (n == 1 or zero variance) emit z = 0 for every
    segment — the word is all middle letters, not null.
    """
    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of {sorted(SAX_BREAKPOINTS)}")
    if word_len < 1:
        raise ValueError("word_len must be >= 1")
    bps = SAX_BREAKPOINTS[alphabet]
    letters = "abcdef"[:alphabet]
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    wk = Window.partitionBy(*keys)
    wo = wk.orderBy(*order)
    xi = F.round(F.col(value_col) * F.lit(value_scale)).cast("long")
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, *order, xi.alias("xi"))
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("n", F.count(F.lit(1)).over(wk))
        .withColumn("sx", F.sum("xi").over(wk))
        .withColumn("sxx", F.sum(F.col("xi") * F.col("xi")).over(wk))
        .withColumn("seg", F.expr(f"((rn - 1) * {word_len}) div n"))
    )
    segs = base.groupBy(*keys, "seg").agg(
        F.sum("xi").alias("seg_sum"),
        F.count(F.lit(1)).alias("seg_n"),
        F.first("n").alias("n"),
        F.first("sx").alias("sx"),
        F.first("sxx").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    mu = sx / n
    m2 = n * sxx - sx * sx  # exact int64
    sd = F.sqrt(m2 / (n * (n - F.lit(1.0))))
    zc = (F.col("seg_sum") / F.col("seg_n") - mu) / sd
    z = F.when((n > 1) & (m2 > 0), zc).otherwise(F.lit(0.0))
    sym = F.when(z < F.lit(bps[0]), F.lit(letters[0]))
    for i, b in enumerate(bps[1:], start=1):
        sym = sym.when(z < F.lit(b), F.lit(letters[i]))
    sym = sym.otherwise(F.lit(letters[-1]))
    return (
        segs.withColumn("sym", sym)
        .groupBy(*keys)
        .agg(
            F.first("n").alias("n_points"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                    lambda s: s.sym,
                ),
                "",
            ).alias("word"),
        )
    )


# ----------------------------------------------------------- Holt linear

def holt_smooth(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.2,
    beta: float = 0.3,
    tiebreak: str | None = None,
) -> DataFrame:
    """Holt linear (double exponential) smoothing per key: level +
    trend, the next step up from ``ewma_smooth`` when series drift.

        l_1 = v_1, b_1 = 0
        l_t = alpha*v_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    appended as columns ``level`` and ``trend``.

    Same execution shape as ``ewma_smooth``: repartition(keys) +
    sortWithinPartitions + ONE mapInPandas carrying {key: (l, b)}
    across Arrow batches — O(1) state, no group materialization, so a
    conversation of any length streams through.  The recursion is a
    2-term linear recurrence evaluated as a scalar loop per run
    (C-level float ops via Python floats); at ~10^6 rows/core/sec it
    is never the bottleneck next to the shuffle that feeds it.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("beta must be in [0, 1]")
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    key_fields = ", ".join(f"{k} string" for k in keys)
    extra = f", {tiebreak} long" if tiebreak else ""
    schema = (
        f"{key_fields}, {ts_col} timestamp{extra}, {value_col} double, "
        "level double, trend double"
    )
    one_m_a, one_m_b = 1.0 - alpha, 1.0 - beta

    def smooth(batches):
        import pandas as pd

        state: dict[tuple, tuple] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key_arrs = [pdf[k].astype(str).to_numpy() for k in keys]
            vals = pdf[value_col].astype("float64").to_numpy()
            starts, ends = key_runs(key_arrs)
            lev = np.empty(len(pdf), dtype=np.float64)
            trd = np.empty(len(pdf), dtype=np.float64)
            for s, e in zip(starts, ends):
                key = tuple(arr[s] for arr in key_arrs)
                prev = state.get(key)
                run = vals[s:e].tolist()
                if prev is None:
                    lv, b = run[0], 0.0
                    lev[s], trd[s] = lv, b
                    i0 = 1
                else:
                    lv, b = prev
                    i0 = 0
                j = s + i0
                for v in run[i0:]:
                    lp = lv
                    lv = alpha * v + one_m_a * (lv + b)
                    b = beta * (lv - lp) + one_m_b * b
                    lev[j], trd[j] = lv, b
                    j += 1
                state[key] = (lv, b)
            res = {k: arr for k, arr in zip(keys, key_arrs)}
            res[ts_col] = pdf[ts_col].to_numpy()
            if tiebreak:
                res[tiebreak] = pdf[tiebreak].to_numpy()
            res[value_col] = vals
            res["level"] = lev
            res["trend"] = trd
            yield pd.DataFrame(res)

    slim = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order, value_col
    )
    return keyed_map_in_pandas(slim, keys, order, smooth, schema)


def holt_winters_smooth(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.2,
    beta: float = 0.3,
    gamma: float = 0.4,
    period: int = 24,
    tiebreak: str | None = None,
) -> DataFrame:
    """Holt-Winters additive (triple exponential) smoothing per key:
    level + trend + a ``period``-long seasonal cycle, the step up from
    ``holt_smooth`` when the series has a known periodicity.

        s_prev = s_{t-period}  (0.0 while t <= period: pre-season zeros)
        l_1 = v_1, b_1 = 0
        l_t = alpha*(v_t - s_prev) + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        s_t = gamma*(v_t - l_t)   + (1-gamma)*s_prev

    appended as columns ``level``, ``trend``, ``seasonal``.  The
    zero-seed initialization (rather than a first-cycle average) keeps
    the recursion strictly one-pass — every output depends only on the
    carried state, never on a lookahead over the first cycle — which
    is what lets the operator stream arbitrarily long series through
    O(period) state, and makes any bounded prefix a closed-form
    expression the DuckDB oracle can unroll literally.

    Same execution shape as ``holt_smooth``: repartition(keys) +
    sortWithinPartitions + ONE mapInPandas carrying
    {key: (l, b, seasonal ring buffer)} across Arrow batches — the
    ring is ``period`` floats per key, so state stays O(period), not
    O(series).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("beta must be in [0, 1]")
    if not 0.0 <= gamma <= 1.0:
        raise ValueError("gamma must be in [0, 1]")
    if period < 1:
        raise ValueError("period must be >= 1")
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    key_fields = ", ".join(f"{k} string" for k in keys)
    extra = f", {tiebreak} long" if tiebreak else ""
    schema = (
        f"{key_fields}, {ts_col} timestamp{extra}, {value_col} double, "
        "level double, trend double, seasonal double"
    )
    one_m_a, one_m_b, one_m_g = 1.0 - alpha, 1.0 - beta, 1.0 - gamma

    def smooth(batches):
        import pandas as pd

        # key -> (level, trend, ring list of last `period` seasonals,
        #         ring cursor)
        state: dict[tuple, tuple] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key_arrs = [pdf[k].astype(str).to_numpy() for k in keys]
            vals = pdf[value_col].astype("float64").to_numpy()
            starts, ends = key_runs(key_arrs)
            lev = np.empty(len(pdf), dtype=np.float64)
            trd = np.empty(len(pdf), dtype=np.float64)
            sea = np.empty(len(pdf), dtype=np.float64)
            for s0, e0 in zip(starts, ends):
                key = tuple(arr[s0] for arr in key_arrs)
                prev = state.get(key)
                run = vals[s0:e0].tolist()
                if prev is None:
                    lv, b = run[0], 0.0
                    ring = [0.0] * period
                    cur = 0
                    # s_1 = gamma*(v_1 - l_1) + (1-gamma)*0 = 0
                    ring[cur] = 0.0
                    cur = (cur + 1) % period
                    lev[s0], trd[s0], sea[s0] = lv, b, 0.0
                    i0 = 1
                else:
                    lv, b, ring, cur = prev
                    i0 = 0
                j = s0 + i0
                for v in run[i0:]:
                    sp = ring[cur]  # s_{t-period} (0.0 pre-season)
                    lp = lv
                    lv = alpha * (v - sp) + one_m_a * (lv + b)
                    b = beta * (lv - lp) + one_m_b * b
                    st = gamma * (v - lv) + one_m_g * sp
                    ring[cur] = st
                    cur = (cur + 1) % period
                    lev[j], trd[j], sea[j] = lv, b, st
                    j += 1
                state[key] = (lv, b, ring, cur)
            res = {k: arr for k, arr in zip(keys, key_arrs)}
            res[ts_col] = pdf[ts_col].to_numpy()
            if tiebreak:
                res[tiebreak] = pdf[tiebreak].to_numpy()
            res[value_col] = vals
            res["level"] = lev
            res["trend"] = trd
            res["seasonal"] = sea
            yield pd.DataFrame(res)

    slim = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order, value_col
    )
    return keyed_map_in_pandas(slim, keys, order, smooth, schema)


def holt_winters_forecast(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.2,
    beta: float = 0.3,
    gamma: float = 0.4,
    period: int = 24,
    horizon: int = 1,
    step_seconds: int = 3600,
    tiebreak: str | None = None,
) -> DataFrame:
    """h-step-ahead Holt-Winters additive forecast per key:

        f_{T+h} = l_T + h * b_T + s_{T+h-period}

    (the standard additive forecast equation; ``s_{T+h-period}`` wraps
    the final seasonal ring).  Emits ``horizon`` rows per key with
    ``ts = last_ts + h*step_seconds`` — forecast timestamps are
    synthetic, so the caller supplies the cadence (the rolled tier's
    bucket width) rather than the operator guessing it from
    irregular gaps.

    Execution: the SAME one-pass recursion as ``holt_winters_smooth``
    (repartition + sortWithinPartitions + one mapInPandas), but only
    the terminal state per key is kept; forecast rows are emitted
    AFTER the input is exhausted, from the carried
    ``{key: (l, b, ring, cursor, last_ts)}`` dict — so the operator
    streams arbitrarily long histories through O(period) state and
    its output is |keys| * horizon rows, never |input|.
    """
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("beta must be in [0, 1]")
    if not 0.0 <= gamma <= 1.0:
        raise ValueError("gamma must be in [0, 1]")
    if period < 1:
        raise ValueError("period must be >= 1")
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    key_fields = ", ".join(f"{k} string" for k in keys)
    schema = f"{key_fields}, {ts_col} timestamp, h int, forecast double"
    one_m_a, one_m_b, one_m_g = 1.0 - alpha, 1.0 - beta, 1.0 - gamma

    def run(batches):
        import pandas as pd

        state: dict[tuple, tuple] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            key_arrs = [pdf[k].astype(str).to_numpy() for k in keys]
            vals = pdf[value_col].astype("float64").to_numpy()
            tss = pdf[ts_col].to_numpy()
            starts, ends = key_runs(key_arrs)
            for s0, e0 in zip(starts, ends):
                key = tuple(arr[s0] for arr in key_arrs)
                prev = state.get(key)
                run_v = vals[s0:e0].tolist()
                if prev is None:
                    lv, b = run_v[0], 0.0
                    ring, cur = [0.0] * period, 0
                    ring[cur] = 0.0
                    cur = (cur + 1) % period
                    i0 = 1
                else:
                    lv, b, ring, cur, _ = prev
                    i0 = 0
                for v in run_v[i0:]:
                    sp = ring[cur]
                    lp = lv
                    lv = alpha * (v - sp) + one_m_a * (lv + b)
                    b = beta * (lv - lp) + one_m_b * b
                    ring[cur] = gamma * (v - lv) + one_m_g * sp
                    cur = (cur + 1) % period
                state[key] = (lv, b, ring, cur, tss[e0 - 1])
        if not state:
            return  # an all-empty partition must not emit an
            # object-dtype frame Arrow can't cast to the schema
        n_keys_out = len(state) * horizon
        key_cols = [[] for _ in keys]
        ts_out = np.empty(n_keys_out, dtype="datetime64[us]")
        h_out = np.empty(n_keys_out, dtype=np.int32)
        f_out = np.empty(n_keys_out, dtype=np.float64)
        step = np.timedelta64(step_seconds, "s")
        i = 0
        for key, (lv, b, ring, cur, last_ts) in state.items():
            for h in range(1, horizon + 1):
                # ring[cur] is s_{T+1-period}; h steps ahead reads
                # s_{T+h-period}, i.e. (cur + h - 1) mod period —
                # wrapping past one period reuses the latest cycle
                # (the standard bounded-horizon convention)
                sp = ring[(cur + h - 1) % period]
                for kc, kv in zip(key_cols, key):
                    kc.append(kv)
                ts_out[i] = last_ts + h * step
                h_out[i] = h
                f_out[i] = lv + h * b + sp
                i += 1
        res = {k: kc for k, kc in zip(keys, key_cols)}
        res[ts_col] = ts_out
        res["h"] = h_out
        res["forecast"] = f_out
        yield pd.DataFrame(res)

    slim = df.filter(F.col(value_col).isNotNull()).select(
        *keys, *order, value_col
    )
    return keyed_map_in_pandas(slim, keys, order, run, schema)


def asap_pick_window(
    dense: DataFrame,
    keys: list[str],
    candidates: tuple[int, ...] = (1, 2, 3, 4, 6, 12),
) -> DataFrame:
    """ASAP smoothing parameter search (Rong & Bailis, VLDB 2017):
    per key, pick the moving-average window that minimizes ROUGHNESS
    (std of the smoothed series' first differences) while PRESERVING
    KURTOSIS (the smoothed series' tailedness must not drop below the
    raw series') — the auto-knob for "smooth this dashboard curve
    without erasing its anomalies".  Returns (keys, best_window,
    roughness, kurtosis, kurtosis_raw).

    This implementation searches a FIXED candidate grid instead of
    ASAP's pruned autocorrelation search: the grid evaluates every
    candidate in one plan (|candidates| window frames over the same
    key exchange), which is the right shape for a distributed tier —
    per-key sequential search would serialize on the longest key.

    Determinism contract (oracle-replayable): window sums S and their
    first differences d stay int64, so roughness =
    sqrt((n·Σd² − (Σd)²) / n²) / w consumes EXACT integers in a
    fixed-order double expression (sqrt is correctly rounded in
    IEEE — both engines agree bit-for-bit).  Kurtosis uses raw double
    power sums of S (m4/m2² via the standard raw-moment expansion):
    accumulation-order drift is ~1e-15 relative, invisible at the
    6 dp rounding.  Selection compares the ROUNDED stats with the
    window as tie-break, so near-ties cannot flip across engines."""
    from pyspark.sql import Window

    if 1 not in candidates:
        raise ValueError("candidates must include 1 (the raw baseline)")
    # every candidate branch references the dense tier; without the
    # checkpoint each of the |candidates| branches re-derives the
    # whole dense-from-sparse subtree (measured: 22 exchanges for 6
    # candidates vs ~10 after — the multi-reference rule from
    # _lsh_bucket_frames)
    dense = dense.localCheckpoint(eager=False)
    per_w = []
    for w in sorted(set(candidates)):
        win = (
            Window.partitionBy(*keys)
            .orderBy("b")
            .rowsBetween(-(w - 1), 0)
        )
        s = dense.select(
            *keys,
            "b",
            F.sum("v").over(win).alias("S"),
            F.count("v").over(win).alias("cnt"),
        ).filter(F.col("cnt") == w)
        lagw = Window.partitionBy(*keys).orderBy("b")
        d = s.select(
            *keys,
            "S",
            (F.col("S") - F.lag("S").over(lagw)).alias("d"),
        )
        sd = F.col("S").cast("double")
        agg = d.groupBy(*keys).agg(
            F.count("d").alias("nd"),
            F.coalesce(F.sum("d"), F.lit(0)).alias("d1"),
            F.coalesce(F.sum(F.col("d") * F.col("d")), F.lit(0)).alias("d2"),
            F.count("S").alias("ns"),
            F.sum(sd).alias("s1"),
            F.sum(sd * sd).alias("s2"),
            F.sum(sd * sd * sd).alias("s3"),
            F.sum(sd * sd * sd * sd).alias("s4"),
        )
        m = F.col("s1") / F.col("ns")
        m2 = F.col("s2") / F.col("ns") - m * m
        m4 = (
            F.col("s4") / F.col("ns")
            - 4.0 * m * (F.col("s3") / F.col("ns"))
            + 6.0 * m * m * (F.col("s2") / F.col("ns"))
            - 3.0 * m * m * m * m
        )
        rough = F.sqrt(
            (
                F.col("nd") * F.col("d2") - F.col("d1") * F.col("d1")
            ).cast("double")
            / (F.col("nd") * F.col("nd"))
        ) / F.lit(float(w))
        per_w.append(
            agg.filter((F.col("nd") >= 2) & (F.col("ns") >= 4)).select(
                *keys,
                F.lit(w).alias("w"),
                F.round(rough + 1e-9, 6).alias("roughness"),
                F.round(
                    F.when(m2 > 0, m4 / (m2 * m2)) + 1e-9, 6
                ).alias("kurtosis"),
            )
        )
    allw = per_w[0]
    for frame in per_w[1:]:
        allw = allw.unionByName(frame)
    raw = allw.filter(F.col("w") == 1).select(
        *keys, F.col("kurtosis").alias("kurtosis_raw")
    )
    eligible = allw.join(raw, keys).filter(
        (F.col("w") == 1)
        | (F.col("kurtosis").isNotNull())
        & (F.col("kurtosis") >= F.col("kurtosis_raw"))
    )
    pick = Window.partitionBy(*keys).orderBy("roughness", "w")
    return (
        eligible.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            *keys,
            F.col("w").alias("best_window"),
            "roughness",
            "kurtosis",
            "kurtosis_raw",
        )
    )
