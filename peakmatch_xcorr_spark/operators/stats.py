"""Two-variable statistical aggregates and fixed-width histograms.

The TimescaleDB-Toolkit ``stats_agg`` two-dimensional family (Pearson
correlation, OLS slope/intercept) and the ``histogram()`` hyperfunction
re-expressed as decomposable Spark aggregates — the engine
generalization of the reference's mean/stddev summaries
(DominantFreqProcessor.java:90-96,150, SummaryStatistics) from
one-variable moments to two-variable co-moments.

Numeric determinism (the oracle-hash contract): every statistic here
is computed from EXPLICIT power sums (n, Σx, Σy, Σx², Σy², Σxy) with
INTEGER-valued inputs (bucket counts, hour indexes), so the sums are
exact in int64/double regardless of accumulation order and the only
float operation is the final closed-form division — the same literal
formula the DuckDB oracle evaluates.  Relying on the engines' native
``corr``/``regr_slope`` would instead compare two different streaming
co-moment recurrences, whose low-order bits differ by merge order.

Scale notes (100 TB / 10^12 turns):
- every function is groupBy→sum only: one hash-aggregate exchange per
  grouping level, map-side partial aggregation on all of them
  (plan-gated in tests/test_stats.py).  No windows, no joins, no UDFs.
- the second grouping level (day → corr, type → slope) aggregates the
  ALREADY-reduced bucket counts — its input is |buckets| rows, not
  |events| rows, so the second exchange is negligible at any scale.
- power sums are the canonical mergeable sketch for moments: partial
  (n, Σx, Σy, Σx², Σy², Σxy) tuples combine associatively, which is
  exactly what Spark's partial_ hash aggregation exploits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pair_metric_corr(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    type_a: str,
    type_b: str,
    bucket: str = "1 hour",
    group_bucket: str = "1 day",
) -> DataFrame:
    """Pearson correlation between the per-``bucket`` activity of two
    event types, computed per ``group_bucket``: "do clicks and views
    move together hour-by-hour within each day?".

    A bucket contributes one (x, y) point when ANY event landed in it
    (conditional sums over the unfiltered stream), so both engines see
    the identical point set.  corr = (nΣxy − ΣxΣy) /
    sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²)), null when either variance is
    zero.  All sums are exact integers; see module docstring.
    """
    is_a = F.when(F.col(type_col) == type_a, 1).otherwise(0)
    is_b = F.when(F.col(type_col) == type_b, 1).otherwise(0)
    pts = (
        df.withColumn("bucket_start", F.window(F.col(ts_col), bucket).start)
        .groupBy("bucket_start")
        .agg(F.sum(is_a).alias("x"), F.sum(is_b).alias("y"))
        .withColumn(
            "grp", F.window(F.col("bucket_start"), group_bucket).start
        )
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    sxy = F.sum(F.col("x") * F.col("y"))
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    denom = F.sqrt((var_x * var_y).cast("double"))
    corr = (n * sxy - sx * sy).cast("double") / F.nullif(denom, F.lit(0.0))
    return (
        pts.groupBy("grp")
        .agg(
            n.alias("n_buckets"),
            F.round(corr + 1e-9, 6).alias("corr"),
        )
        .withColumnRenamed("grp", "day")
    )


def activity_trend(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    bucket_s: int = 3600,
) -> DataFrame:
    """Per group: OLS slope + intercept of bucket row counts over the
    integer bucket index — "is this event type's hourly volume rising
    or falling, and how fast?" (TimescaleDB stats_agg slope).

    x = epoch_seconds // bucket_s (exact int64), y = bucket count; a
    bucket exists only where the group has rows (documented, mirrored
    by the oracle).  slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept
    = (Σy − slope·Σx)/n, both exact-integer sums until the final
    division.  Slope unit: rows per bucket per bucket.
    """
    x = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        / F.lit(float(bucket_s) * 1e6)
    ).cast("bigint")
    pts = (
        df.withColumn("xi", x)
        .groupBy(*group_cols, "xi")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("xi"), F.sum("y")
    sxx = F.sum(F.col("xi") * F.col("xi"))
    sxy = F.sum(F.col("xi") * F.col("y"))
    denom = (n * sxx - sx * sx).cast("double")
    slope = (n * sxy - sx * sy).cast("double") / F.nullif(denom, F.lit(0.0))
    intercept = (sy.cast("double") - slope * sx.cast("double")) / n.cast(
        "double"
    )
    return pts.groupBy(*group_cols).agg(
        n.alias("n_buckets"),
        F.round(slope + 1e-9, 8).alias("slope"),
        F.round(intercept + 1e-9, 4).alias("intercept"),
    )


def activity_acf(
    tier: DataFrame,
    keys: list[str],
    bucket: str,
    lag: int = 1,
    ts_col: str = "bucket_start",
    value_col: str = "turns",
) -> DataFrame:
    """Per-key lag-``lag`` autocorrelation of the DENSE activity curve
    (bucket counts with absent buckets = 0), computed FROM the sparse
    rolled tier without ever materializing the zeros — "is this
    conversation's minute-by-minute turn volume self-similar one
    minute later?".

    The trick that keeps it sparse: zeros contribute nothing to Σx,
    Σx², Σy, Σy², Σxy — only to n.  So over the key's dense span
    [mn, mx] with N = (mx−mn)/step + 1 buckets and shift = lag·step:

    - n     = N − lag                      (pure arithmetic on mn/mx)
    - Σx,Σx² = sums over rows with es ≤ mx − shift   (x-side window)
    - Σy,Σy² = sums over rows with es ≥ mn + shift   (y-side window)
    - Σxy   = sparse self-join on (keys, es + shift = es) — only
              bucket pairs where BOTH sides are non-zero survive,
              which is exactly the set with a non-zero product.

    r = (nΣxy − ΣxΣy)/sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²)); null when
    n < 2 or either side has zero variance.  All sums are exact int64
    (counts), the division is the only float op — see module
    docstring for why that, not native corr(), is the oracle contract.

    Shuffle shape: one window exchange on keys (mn/mx), a groupBy on
    keys that reuses that partitioning, and a self-equi-join on
    (keys, shifted-bucket) whose input is the rolled tier (~1/60 of
    raw at 1m), never the raw stream.
    """
    from peakmatch_xcorr_spark.operators.rollup import (
        bucket_seconds,
        epoch_seconds,
    )
    from pyspark.sql import Window

    if lag < 1:
        raise ValueError(f"lag must be >= 1, got {lag}")
    step = bucket_seconds(bucket)
    shift = lag * step
    w = Window.partitionBy(*keys)
    t = (
        tier.select(
            *keys,
            epoch_seconds(ts_col).alias("es"),
            F.col(value_col).cast("long").alias("v"),
        )
        .withColumn("mn", F.min("es").over(w))
        .withColumn("mx", F.max("es").over(w))
    )
    in_x = F.col("es") <= F.col("mx") - shift
    in_y = F.col("es") >= F.col("mn") + shift
    vv = F.col("v") * F.col("v")
    sums = t.groupBy(*keys).agg(
        ((F.first("mx") - F.first("mn")) / step + 1 - lag)
        .cast("long")
        .alias("n"),
        F.sum(F.when(in_x, F.col("v")).otherwise(0)).alias("sx"),
        F.sum(F.when(in_x, vv).otherwise(0)).alias("sxx"),
        F.sum(F.when(in_y, F.col("v")).otherwise(0)).alias("sy"),
        F.sum(F.when(in_y, vv).otherwise(0)).alias("syy"),
    )
    lhs = t.select(
        *keys, (F.col("es") + shift).alias("es_j"), F.col("v").alias("vx")
    )
    rhs = t.select(*keys, F.col("es").alias("es_j"), F.col("v").alias("vy"))
    sxy = (
        lhs.join(rhs, [*keys, "es_j"])
        .groupBy(*keys)
        .agg(F.sum(F.col("vx") * F.col("vy")).alias("sxy"))
    )
    j = sums.join(sxy, list(keys), "left").withColumn(
        "sxy", F.coalesce(F.col("sxy"), F.lit(0))
    )
    n = F.col("n")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    denom = F.sqrt((var_x * var_y).cast("double"))
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / F.nullif(denom, F.lit(0.0))
    return j.select(
        *keys,
        n.alias("n_pairs"),
        F.when(n >= 2, F.round(r + 1e-9, 6)).alias("acf"),
    )


def activity_ccf(
    tier_x: DataFrame,
    tier_y: DataFrame,
    keys: list[str],
    bucket: str,
    lag: int = 0,
    ts_col: str = "bucket_start",
    value_col: str = "turns",
) -> DataFrame:
    """Per-key lag-``lag`` CROSS-correlation between two dense activity
    curves (Pearson r of x_t against y_{t+lag}, absent buckets = 0) —
    "do clicks lead views by a minute?" — computed from the two
    sparse rolled tiers with the same zero-skipping trick as
    ``activity_acf``: the relational analogue of the engine's
    xcorr-at-a-lag kernel, for metric pairs instead of curves in
    one task.

    ``lag`` may be negative (y leads x) or zero (contemporaneous,
    the dense version of pair_metric_corr).  The dense span is the
    UNION [mn, mx] of both series' buckets per key; with
    shift = lag·step the pair set is t ∈ [mn − min(shift,0),
    mx − max(shift,0)], n = N − |lag| pairs, and

    - Σx, Σx² over x rows inside the t-window,
    - Σy, Σy² over y rows inside the (t+shift)-window,
    - Σxy via the sparse join x@(keys, es+shift) = y@(keys, es).

    Exact int64 sums, one float division; null when n < 2 or either
    side has zero variance.  One window exchange over the tagged
    union for mn/mx, one groupBy reusing it (tag-conditional sums),
    one sparse equi-join on the rolled tiers."""
    from peakmatch_xcorr_spark.operators.rollup import (
        bucket_seconds,
        epoch_seconds,
    )
    from pyspark.sql import Window

    step = bucket_seconds(bucket)
    shift = lag * step
    tx = tier_x.select(
        *keys,
        epoch_seconds(ts_col).alias("es"),
        F.col(value_col).cast("long").alias("v"),
        F.lit(1).alias("is_x"),
    )
    ty = tier_y.select(
        *keys,
        epoch_seconds(ts_col).alias("es"),
        F.col(value_col).cast("long").alias("v"),
        F.lit(0).alias("is_x"),
    )
    w = Window.partitionBy(*keys)
    u = (
        tx.unionByName(ty)
        .withColumn("mn", F.min("es").over(w))
        .withColumn("mx", F.max("es").over(w))
    )
    x_lo = F.col("mn") - min(shift, 0)
    x_hi = F.col("mx") - max(shift, 0)
    in_x = (
        (F.col("is_x") == 1) & (F.col("es") >= x_lo) & (F.col("es") <= x_hi)
    )
    in_y = (
        (F.col("is_x") == 0)
        & (F.col("es") >= x_lo + shift)
        & (F.col("es") <= x_hi + shift)
    )
    vv = F.col("v") * F.col("v")
    sums = u.groupBy(*keys).agg(
        ((F.first("mx") - F.first("mn")) / step + 1 - abs(lag))
        .cast("long")
        .alias("n"),
        F.sum(F.when(in_x, F.col("v")).otherwise(0)).alias("sx"),
        F.sum(F.when(in_x, vv).otherwise(0)).alias("sxx"),
        F.sum(F.when(in_y, F.col("v")).otherwise(0)).alias("sy"),
        F.sum(F.when(in_y, vv).otherwise(0)).alias("syy"),
    )
    lhs = tx.select(
        *keys, (F.col("es") + shift).alias("es_j"), F.col("v").alias("vx")
    )
    rhs = ty.select(*keys, F.col("es").alias("es_j"), F.col("v").alias("vy"))
    sxy = (
        lhs.join(rhs, [*keys, "es_j"])
        .groupBy(*keys)
        .agg(F.sum(F.col("vx") * F.col("vy")).alias("sxy"))
    )
    j = sums.join(sxy, list(keys), "left").withColumn(
        "sxy", F.coalesce(F.col("sxy"), F.lit(0))
    )
    n = F.col("n")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    denom = F.sqrt((var_x * var_y).cast("double"))
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / F.nullif(denom, F.lit(0.0))
    return j.select(
        *keys,
        n.alias("n_pairs"),
        F.when(n >= 2, F.round(r + 1e-9, 6)).alias("ccf"),
    )


def topn_with_rest(
    df: DataFrame,
    group_cols: list[str],
    entity_col: str,
    n: int,
    rest_label: str = "<rest>",
) -> DataFrame:
    """Per group: the top-``n`` entities by row count plus ONE
    ``rest_label`` row aggregating every other entity — the
    TimescaleDB ``topn_agg`` rollup shape ("top 5 users per day, and
    how much everyone else contributed").  Emitting the rest row is
    what makes the result a PARTITION of the group's total (the top-k
    alone can't tell 5-of-6 from 5-of-10⁶).

    Ties break deterministically (count desc, entity asc) so the
    boundary entity is stable under recomputation.  Plan: one hash
    aggregate on (group, entity) — the only exchange that sees data
    volume, map-side partials — then a rank window and the rest
    collapse over the already-reduced entity counts."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql import Window

    counts = df.groupBy(*group_cols, entity_col).agg(
        F.count(F.lit(1)).alias("weight")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("weight").desc(), F.col(entity_col).asc()
    )
    ranked = counts.withColumn("_rk", F.row_number().over(w))
    bucketed = ranked.select(
        *group_cols,
        F.when(F.col("_rk") <= n, F.col(entity_col).cast("string"))
        .otherwise(F.lit(rest_label))
        .alias("entity"),
        "weight",
        F.when(F.col("_rk") <= n, F.col("_rk")).alias("rank"),
    )
    return bucketed.groupBy(*group_cols, "entity").agg(
        F.sum("weight").alias("weight"),
        F.min("rank").alias("rank"),
        F.count(F.lit(1)).alias("n_entities"),
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """width_bucket-style fixed-width histogram: bin 0 is underflow
    (v < lo), bins 1..n cover [lo, hi) uniformly, bin n+1 is overflow
    (v >= hi); nulls are dropped.  One hash-aggregate exchange with
    map-side combine; (v − lo)/width → floor is the identical IEEE
    double expression on both engines, so bin edges cannot diverge."""
    width = (hi - lo) / n_bins
    v = F.col(value_col)
    bin_ = (
        F.when(v < F.lit(float(lo)), F.lit(0))
        .when(v >= F.lit(float(hi)), F.lit(n_bins + 1))
        .otherwise(
            (F.floor((v - F.lit(float(lo))) / F.lit(width)) + 1).cast("int")
        )
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(value_col) + 1e-9, 6).alias("bin_min"),
            F.round(F.max(value_col) + 1e-9, 6).alias("bin_max"),
        )
    )


def changepoint_mean_shift(
    dense: DataFrame,
    keys: list[str],
    min_seg: int = 8,
) -> DataFrame:
    """Offline single-changepoint detection per key (binary
    segmentation, depth 1): the split maximizing the standardized
    mean difference between the two segments of a dense series

        score(t) = |cum_t/t - (S - cum_t)/(L - t)| * sqrt(t*(L-t)/L)

    over prefix lengths ``t`` in ``[min_seg, L - min_seg]`` — the
    CUSUM-equivalent two-sample statistic (score = sqrt(L) * max
    normalized-CUSUM deviation for a mean-shift alternative).  Ties
    break to the SMALLEST t, so the result is deterministic on flat
    series too.

    Input is the ``(keys, b, v)`` dense tier from
    ``seasonal.dense_bucket_counts``.  Returns one row per key with
    ``L >= 2*min_seg``: the right segment's first bucket
    (``change_b``), both segment means, and the score.  The caller
    thresholds the score (it is sigma-free by construction — on unit-
    variance noise it is a two-sample z; on counts, divide by an
    estimated sigma or rank keys by score).

    Exactness (the oracle-hash contract): ``cum_t``, ``S``, ``t``,
    ``L`` are exact int64; the score is one closed-form float
    expression per row, and the argmax is an ORDER BY (score DESC,
    t ASC) row_number — float comparisons of identical doubles, so
    both engines pick the same row.

    Scale: two window families per key (running sum, then the argmax
    rank), both on the keys partitioning — one exchange after the
    dense tier; |rows| is the bucket count, not the turn count.  The
    depth-1 split is O(L) per key where full binary segmentation
    recurses; at 10^12 turns the recursion would re-run this operator
    on each half — same plan shape, halved inputs.
    """
    from pyspark.sql import Window

    if min_seg < 2:
        raise ValueError("min_seg must be >= 2")
    wk = Window.partitionBy(*keys).orderBy("b")
    wall = Window.partitionBy(*keys)
    t = F.row_number().over(wk)
    rows = (
        dense.withColumn("t", t)
        .withColumn("cum", F.sum("v").over(wk.rowsBetween(
            Window.unboundedPreceding, 0)))
        .withColumn("S", F.sum("v").over(wall))
        .withColumn("L", F.count(F.lit(1)).over(wall))
    )
    lm = F.col("cum") / F.col("t")
    rm = (F.col("S") - F.col("cum")) / (F.col("L") - F.col("t"))
    score = F.abs(lm - rm) * F.sqrt(
        F.col("t") * (F.col("L") - F.col("t")) / F.col("L")
    )
    cand = (
        rows.filter(
            (F.col("L") >= 2 * min_seg)
            & (F.col("t") >= min_seg)
            & (F.col("t") <= F.col("L") - min_seg)
        )
        .withColumn("score", score)
        .withColumn("lm", lm)
        .withColumn("rm", rm)
    )
    pick = F.row_number().over(
        Window.partitionBy(*keys).orderBy(F.col("score").desc(), F.col("t"))
    )
    return (
        cand.withColumn("pick", pick)
        .filter(F.col("pick") == 1)
        .select(
            *keys,
            (F.col("b") + 1).alias("change_b"),
            F.col("t").cast("long").alias("left_len"),
            (F.col("L") - F.col("t")).cast("long").alias("right_len"),
            F.round(F.col("lm") + F.lit(1e-9), 6).alias("left_mean"),
            F.round(F.col("rm") + F.lit(1e-9), 6).alias("right_mean"),
            F.round(F.col("score") + F.lit(1e-9), 6).alias("score"),
        )
    )


def binary_segmentation(
    dense: DataFrame,
    keys: list[str],
    depth: int = 3,
    min_seg: int = 8,
    min_score: float = 3.0,
) -> tuple[DataFrame, DataFrame]:
    """Multi-changepoint detection per key: recursive binary
    segmentation to ``depth`` levels, each level re-running the
    depth-1 ``changepoint_mean_shift`` WITHIN the segments the
    previous level produced.

    Returns ``(splits, segmented)``:

    - ``splits``: one row per ACCEPTED split (score >= ``min_score``,
      both child segments >= ``min_seg``) with the parent segment id,
      the level it was found at, the boundary bucket and the score;
    - ``segmented``: the input rows with a final ``seg`` id — binary
      path encoding (left child ``2*seg``, right ``2*seg+1``, unsplit
      segments shift as left-only ``2*seg``), so sibling order is
      recoverable and level-k ids stay unique in ``[0, 2^k)``.

    Everything stays distributed: each level is one
    ``changepoint_mean_shift`` pass grouped by (keys, seg) plus one
    broadcast join assigning rows to child segments — the split table
    is at most 2^level rows per key, broadcastable at any corpus size,
    while the dense rows are never collected or re-shuffled beyond the
    keys partitioning they already have.  ``localCheckpoint`` truncates
    the per-level lineage the same way the pointer-jumping components
    loop does (operators/dedup.py) — without it the plan doubles per
    level and analysis dominates.

    The gate matters: unthresholded binary segmentation ALWAYS splits
    (argmax of a nonnegative score), so ``min_score`` is what turns
    "deepest possible tree" into "statistically interesting tree" —
    on unit-variance noise the score is a two-sample z, so 3.0 is the
    usual three-sigma convention.
    """
    if depth < 1:
        raise ValueError("depth must be >= 1")
    seg0 = dense.withColumn("seg", F.lit(0).cast("long"))
    cur = seg0.localCheckpoint(eager=False)
    all_splits = None
    for level in range(depth):
        cand = changepoint_mean_shift(cur, [*keys, "seg"], min_seg)
        accepted = (
            cand.filter(F.col("score") >= F.lit(float(min_score)))
            .withColumn("level", F.lit(level))
        )
        splits = accepted.select(
            *keys, "seg", "level", "change_b",
            "left_len", "right_len", "left_mean", "right_mean", "score",
        ).localCheckpoint(eager=False)
        all_splits = splits if all_splits is None else all_splits.unionByName(splits)
        joined = cur.join(
            F.broadcast(splits.select(*keys, "seg", "change_b")),
            [*keys, "seg"],
            "left",
        )
        # EVERY segment shifts left one bit per level (unsplit ones as
        # a left-only child) — if unsplit segments kept their old id, a
        # surviving seg=1 would collide with a split seg=0's right
        # child; uniform shifting keeps level-k ids unique in [0, 2^k)
        cur = joined.withColumn(
            "seg",
            2 * F.col("seg")
            + F.when(F.col("change_b").isNull(), F.lit(0))
            .otherwise((F.col("b") >= F.col("change_b")).cast("int"))
            .cast("long"),
        ).drop("change_b").localCheckpoint(eager=False)
    return all_splits, cur


def pacf_kernel(v, max_lag: int):
    """Partial autocorrelation of a 1-D series for lags 1..max_lag via
    the Durbin–Levinson recursion over the classical biased sample ACF
    (common mean, gamma_0 denominator — the Box–Jenkins estimator,
    REQUIRED for DL: per-window corr-style lags don't form a valid
    Toeplitz system).  Returns a float array of length max_lag; lags
    past a (near-)singular step (|1 - sum(phi * r)| <= 1e-12, e.g. a
    perfectly periodic series) are NaN.

    pacf_k answers "how much does x_{t-k} explain x_t AFTER the
    shorter lags are regressed out" — the standard AR-order diagnostic
    the plain ACF (operators/stats.py activity_acf) cannot give,
    because AR(1) alone makes ALL acf lags non-zero (r_k = r_1^k)
    while its pacf cuts off sharply after lag 1.
    """
    import numpy as np

    v = np.asarray(v, dtype=np.float64)
    n = len(v)
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    if n <= max_lag + 1:
        raise ValueError(f"series length {n} too short for max_lag {max_lag}")
    x = v - v.mean()
    g0 = float(x @ x)
    if g0 <= 0.0:
        raise ValueError("zero-variance series has no pacf")
    r = np.array([float(x[: n - k] @ x[k:]) / g0 for k in range(1, max_lag + 1)])
    out = np.full(max_lag, np.nan)
    phi = np.zeros(max_lag)
    out[0] = phi[0] = r[0]
    for k in range(2, max_lag + 1):
        den = 1.0 - float(phi[: k - 1] @ r[: k - 1])
        if abs(den) <= 1e-12:
            break
        # sum_j phi_{k-1,j} * r_{k-j} for j=1..k-1: phi against reversed r
        num = r[k - 1] - float(phi[: k - 1] @ r[: k - 1][::-1])
        pk = num / den
        out[k - 1] = pk
        phi[: k - 1] = phi[: k - 1] - pk * phi[: k - 1][::-1]
        phi[k - 1] = pk
    return out, r


def activity_pacf(
    dense: DataFrame,
    keys: list[str],
    max_lag: int = 3,
) -> DataFrame:
    """Per-key PACF over a dense count tier (``dense_bucket_counts``
    shape ``(*keys, b, v)``): one row per key carrying ``N`` plus
    ``r1..r{max_lag}`` (classical biased ACF) and
    ``pacf1..pacf{max_lag}`` (Durbin–Levinson), all rounded to 6 dp
    with the oracle nudge.  Keys too short (N <= max_lag+1) or with
    zero variance emit nothing.

    One applyInPandas per key after the tier's groupBy exchange —
    state is max_lag floats per key, broadcast-joinable to anything.
    """
    import numpy as np
    import pandas as pd

    key_fields = ", ".join(f"{k} string" for k in keys)
    lag_fields = ", ".join(
        [f"r{j} double" for j in range(1, max_lag + 1)]
        + [f"pacf{j} double" for j in range(1, max_lag + 1)]
    )
    schema = f"{key_fields}, N long, {lag_fields}"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("b")
        v = pdf["v"].to_numpy(dtype=np.float64)
        n = len(v)
        empty = pd.DataFrame(
            {f: pd.Series(dtype=d) for f, d in (
                *[(k, "object") for k in keys],
                ("N", "int64"),
                *[(f"r{j}", "float64") for j in range(1, max_lag + 1)],
                *[(f"pacf{j}", "float64") for j in range(1, max_lag + 1)],
            )}
        )
        if n <= max_lag + 1 or np.ptp(v) == 0:
            return empty
        pacf, r = pacf_kernel(v, max_lag)
        row = {kc: [pdf[kc].iloc[0]] for kc in keys}
        row["N"] = np.array([n], dtype=np.int64)
        for j in range(1, max_lag + 1):
            row[f"r{j}"] = [round(r[j - 1] + 1e-9, 6)]
            row[f"pacf{j}"] = [round(pacf[j - 1] + 1e-9, 6)]
        return pd.DataFrame(row)

    return dense.groupBy(*keys).applyInPandas(run, schema=schema)


def cusum_drift(
    dense: DataFrame,
    keys: list[str],
    k_sigma: float = 0.5,
    h_sigma: float = 5.0,
) -> DataFrame:
    """Two-sided CUSUM drift detection over a dense count tier — the
    sequential sibling of ``changepoint_mean_shift``: a changepoint
    scan needs the whole window and finds the single best split, while
    CUSUM accumulates evidence bucket-by-bucket and fires AT the bucket
    where cumulative drift beyond the slack band first exceeds the
    decision interval (Page 1954), catching slow drifts no single
    bucket's z-score would flag.

    Standard parametrization: slack ``k = k_sigma * sigma`` and
    threshold ``h = h_sigma * sigma``, with mu/sigma the key's own
    sample moments (from exact int64 power sums; the only float ops
    are the closed-form mean/std and the running sums below).

        s+_t = max(0, s+_{t-1} + (v_t - mu - k))
        s-_t = max(0, s-_{t-1} + (mu - v_t - k))

    The recursion is evaluated WITHOUT a sequential loop via the
    reflection identity  s_t = c_t - min(0, min_{j<=t} c_j)  where
    ``c`` is the plain prefix sum of the increments — running sum +
    running min are two frames of one ordered window, so the whole
    detector is JVM-side whole-stage codegen (and literally
    SQL-mirrorable, which a stateful recursion is not).

    Returns only the flagged buckets: ``(*keys, b, v, side, s)`` with
    ``side`` in {'hi','lo'} and ``s`` the statistic in sigma units.
    A key emits one row per bucket WHILE the statistic stays above h
    (CUSUM holds until reset; consumers usually take the first b per
    (key, side) run).  Keys with zero variance or < 3 buckets emit
    nothing.

    Scale: |dense| rows through one window exchange per key ordering —
    same shape as the rolling/window family; state is O(1) per row.
    """
    from pyspark.sql import Window

    wk = Window.partitionBy(*keys)
    wo = Window.partitionBy(*keys).orderBy("b")
    stats = (
        dense.withColumn("n", F.count(F.lit(1)).over(wk))
        .withColumn("S", F.sum("v").over(wk))
        .withColumn("Sxx", F.sum(F.col("v") * F.col("v")).over(wk))
        .filter(F.col("n") >= 3)
        .withColumn("mu", F.col("S").cast("double") / F.col("n"))
        .withColumn(
            "sigma",
            F.sqrt(
                (F.col("n") * F.col("Sxx") - F.col("S") * F.col("S")).cast(
                    "double"
                )
                / (F.col("n").cast("double") * (F.col("n") - F.lit(1)))
            ),
        )
        .filter(F.col("sigma") > F.lit(1e-12))
    )
    y_hi = F.col("v") - F.col("mu") - F.lit(k_sigma) * F.col("sigma")
    y_lo = F.col("mu") - F.col("v") - F.lit(k_sigma) * F.col("sigma")
    rows = (
        stats.withColumn("c_hi", F.sum(y_hi).over(wo))
        .withColumn("c_lo", F.sum(y_lo).over(wo))
        .withColumn("m_hi", F.least(F.lit(0.0), F.min("c_hi").over(wo)))
        .withColumn("m_lo", F.least(F.lit(0.0), F.min("c_lo").over(wo)))
        .withColumn("s_hi", (F.col("c_hi") - F.col("m_hi")) / F.col("sigma"))
        .withColumn("s_lo", (F.col("c_lo") - F.col("m_lo")) / F.col("sigma"))
    )
    hi = rows.filter(F.col("s_hi") > F.lit(h_sigma)).select(
        *keys, "b", "v", F.lit("hi").alias("side"),
        F.round(F.col("s_hi") + 1e-9, 6).alias("s"),
    )
    lo = rows.filter(F.col("s_lo") > F.lit(h_sigma)).select(
        *keys, "b", "v", F.lit("lo").alias("side"),
        F.round(F.col("s_lo") + 1e-9, 6).alias("s"),
    )
    return hi.unionByName(lo)


def theil_sen_trend(
    dense: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Theil–Sen robust trend per key over a dense count tier: slope =
    median of all pairwise slopes (v_j − v_i)/(b_j − b_i) over bucket
    pairs i < j, intercept = median of (v_i − slope·b_i) — the
    breakdown-29% sibling of ``activity_trend``'s OLS line, which a
    single incident spike can tilt arbitrarily (pinned by test).

    Exactness: each pairwise slope is ONE double division of exact
    int64 differences, and medians of doubles interpolate identically
    in Spark (``percentile``, exact) and DuckDB (``median``) — the
    same cross-engine equivalence ``seasonal_robust_anomaly`` relies
    on.  Rounded at 6 dp with the oracle nudge.

    Cost note (the honest Theil–Sen tradeoff): the pair set is
    O(L²) per key — a year of hourly buckets is 38M pair rows flowing
    into one median, bounded by tier length, NEVER by turn count.
    The self-join is a single co-partitioned hash join on the keys;
    per-key pair generation happens inside the join task, so no pair
    row ever crosses the wire (plan: one exchange for the join, one
    for the agg).  For tiers past ~10^4 buckets, downsample first
    (operators/downsample.py) — the estimator is scale-stable.
    """
    # referenced three times (both self-join sides + the residual
    # median) — compute the tier once (the multi-reference rule)
    dense = dense.localCheckpoint(eager=False)
    a = dense.select(
        *keys, F.col("b").alias("bi"), F.col("v").alias("vi")
    )
    bside = dense.select(
        *keys, F.col("b").alias("bj"), F.col("v").alias("vj")
    )
    slopes = (
        a.join(bside, keys)
        .filter(F.col("bi") < F.col("bj"))
        .select(
            *keys,
            (
                (F.col("vj") - F.col("vi")).cast("double")
                / (F.col("bj") - F.col("bi")).cast("double")
            ).alias("m"),
        )
        .groupBy(*keys)
        .agg(
            F.percentile("m", F.lit(0.5)).alias("slope"),
            (F.count(F.lit(1))).alias("n_pairs"),
        )
    )
    resid = dense.join(slopes, keys).groupBy(*keys).agg(
        F.first("n_pairs").alias("n_pairs"),
        F.first("slope").alias("slope_raw"),
        F.percentile(
            F.col("v").cast("double") - F.col("slope") * F.col("b"),
            F.lit(0.5),
        ).alias("intercept_raw"),
    )
    return resid.select(
        *keys,
        "n_pairs",
        F.round(F.col("slope_raw") + 1e-9, 6).alias("slope"),
        F.round(F.col("intercept_raw") + 1e-9, 6).alias("intercept"),
    )


def keyed_histogram(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-key fixed-width bin counts — the histogram TIER: bin 0 is
    underflow, 1..n cover [lo, hi), n+1 overflow (value_histogram's
    binning, keyed).  One map-side-combinable hash aggregate; the
    output is |keys|·(n+2) rows, a tier any number of quantile reads
    can serve without rescanning raw data."""
    width = (hi - lo) / n_bins
    v = F.col(value_col)
    bin_ = (
        F.when(v < F.lit(float(lo)), F.lit(0))
        .when(v >= F.lit(float(hi)), F.lit(n_bins + 1))
        .otherwise(
            (F.floor((v - F.lit(float(lo))) / F.lit(width)) + 1).cast("int")
        )
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(*keys, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile(
    hist: DataFrame,
    keys: list[str],
    q: float,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """PromQL-style quantile estimate from a ``keyed_histogram`` tier:
    walk the cumulative counts to the bucket containing rank q·total,
    then interpolate linearly inside it —
    est = bucket_lo + (rank − cum_prev)/n_bucket · width.

    The scale story is the input, not the math: quantiles are read
    from the (|keys|·(n+2))-row PRE-AGGREGATED tier, so a dashboard's
    p90-per-key over a 10^12-row history costs one window over tier
    rows.  Bin counts merge by plain sum, so histogram tiers cascade
    and refresh exactly like the rollup tiers (PromQL ships this as
    histogram_quantile over le-bucketed counters).

    Underflow hits clamp to ``lo`` and overflow to ``hi`` (PromQL
    clamps to the boundary buckets the same way).  Every float op is
    a fixed-order expression both engines evaluate identically;
    rounded at 6 dp with the oracle nudge."""
    from pyspark.sql import Window

    width = (hi - lo) / n_bins
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*keys)
    h = hist.select(
        *keys,
        "bin",
        "n",
        F.sum("n").over(wcum).alias("cum"),
        (F.lit(q) * F.sum("n").over(wtot)).alias("rank"),
    )
    wpick = Window.partitionBy(*keys).orderBy("bin")
    first = (
        h.filter(F.col("cum") >= F.col("rank"))
        .withColumn("_rn", F.row_number().over(wpick))
        .filter(F.col("_rn") == 1)
    )
    bucket_lo = F.lit(float(lo)) + (F.col("bin") - 1) * F.lit(width)
    inner = bucket_lo + (
        (F.col("rank") - (F.col("cum") - F.col("n")))
        / F.col("n")
    ) * F.lit(width)
    est = (
        F.when(F.col("bin") == 0, F.lit(float(lo)))
        .when(F.col("bin") == n_bins + 1, F.lit(float(hi)))
        .otherwise(inner)
    )
    return first.select(
        *keys, F.round(est + 1e-9, 6).alias("est_q")
    )
