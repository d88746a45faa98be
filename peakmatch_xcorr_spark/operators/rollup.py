"""Tumbling-window rollup cascade + gap-fill + retention.

The engine generalization of the reference's band-mean rollup
(Util.java:214-251: groupBy(floor(freq/width)*width).agg(mean)) and
PLOT2D tumbling bucket slicing (Plot2DProcessor.java:39-88) to time
buckets over keyed streams, per the north rule: continuous aggregates
at 1m/1h/1d retention tiers, LOCF / linear-interpolation gap fill,
Gorilla/delta-of-delta packed payloads.

Scale notes (100 TB / 10^12 turns):
- ``tumbling_rollup`` is one shuffle on (keys, bucket); Spark's
  hash aggregate does map-side partial aggregation, so shuffle volume
  is ~one row per (key, bucket) per input partition, not per turn.
- the cascade computes each coarser tier FROM the previous tier
  (sum-of-sums / min-of-mins / count-of-counts), so the 1h and 1d
  shuffles see only rolled data (~1/60, ~1/1440 of raw).
- gap-fill scaffolds with sequence()+explode bounded per key by that
  key's own [min, max] bucket range; window functions partition by
  key, so skew is bounded by the largest single conversation (salting
  is applied upstream in the pair/featurize path where it matters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.kernels import codecs
from peakmatch_xcorr_spark.plans.keyed import (
    complete_key_runs,
    key_runs,
    keyed_map_in_pandas,
)

# canonical column aliases shared with the DuckDB oracle SQL.
# ``vcount`` is the NON-NULL value count: avg must be re-derived as
# vsum/vcount (null-ignoring, SQL semantics) — turns counts all rows,
# so vsum/turns diverges whenever value_col has nulls.
AGG_COLS = ("turns", "vcount", "vsum", "vmin", "vmax", "vavg")


def _derive_vavg(out: DataFrame) -> DataFrame:
    """Re-derive the null-ignoring average from decomposable stats."""
    return out.withColumn(
        "vavg",
        F.when(F.col("vcount") > 0, F.col("vsum") / F.col("vcount")),
    )


def ensure_vcount(df: DataFrame) -> DataFrame:
    """Schema migration for tiers persisted before vcount existed:
    legacy tiers derived vavg as vsum/turns (implicitly assuming
    non-null values), so vcount := turns reproduces their semantics
    exactly for legacy rows while new rows carry the true count."""
    if "vcount" not in df.columns:
        return df.withColumn("vcount", F.col("turns"))
    return df


def epoch_seconds(col):
    """Timestamp → epoch seconds; NTZ-safe (Spark 4 forbids NTZ→long
    directly; session TZ is pinned UTC so the hop is exact)."""
    return F.col(col).cast("timestamp").cast("long") if isinstance(col, str) else col.cast("timestamp").cast("long")

_BUCKET_UNIT_SECONDS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800,
}


def bucket_seconds(bucket: str) -> int:
    """Parse a Spark interval string ('N minutes', '12 hours', ...) to
    seconds.  Same grammar F.window accepts for fixed-width tumbling
    buckets, so every engine op keyed on a bucket width (gap-fill
    scaffolds, cascade alignment, pack framing, archive pixels) agrees
    with the window operator byte-for-byte.  Months/years are
    rejected: they are not fixed-width, and F.window's tumbling math
    (epoch modulo) can't express them either."""
    parts = bucket.strip().split()
    if len(parts) == 1:
        parts = ["1", parts[0]]
    if len(parts) != 2:
        raise ValueError(f"unsupported bucket {bucket!r}")
    n_str, unit = parts
    unit = unit.rstrip("s").lower()
    if unit not in _BUCKET_UNIT_SECONDS or not n_str.isdigit() or int(n_str) == 0:
        raise ValueError(f"unsupported bucket {bucket!r}")
    return int(n_str) * _BUCKET_UNIT_SECONDS[unit]


def tumbling_rollup(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str | None = "value",
    bucket: str = "1 minute",
    origin: str | None = None,
) -> DataFrame:
    """groupBy(keys, window(ts, bucket)) -> count/sum/min/max/avg.

    One shuffle; Catalyst plans partial_count/partial_sum map-side.
    ``value_col=None`` rolls counts only (the transcript activity
    curve: turns per bucket).

    ``origin`` is the time_bucket()-style bucket-boundary offset (the
    TimescaleDB ``offset`` argument): buckets start at
    ``k*width + origin`` instead of ``k*width``.  Passed straight
    through as ``F.window``'s startTime, so it stays one epoch-modulo
    expression inside the same single exchange — DST-proof because the
    session TZ is pinned UTC.  Must be shorter than ``bucket``.
    """
    if origin is not None:
        off = bucket_seconds(origin)
        if off >= bucket_seconds(bucket):
            raise ValueError(
                f"origin {origin!r} must be shorter than bucket {bucket!r}"
            )
        win = F.window(ts_col, bucket, bucket, origin)
    else:
        win = F.window(ts_col, bucket)
    aggs = [F.count(F.lit(1)).alias("turns")]
    if value_col is not None:
        # no F.avg: Spark's Average is internally sum+count, which
        # vsum/vcount already pay for — derive it and save two agg
        # buffers per group (identical double arithmetic: sum/count)
        aggs += [
            F.count(value_col).alias("vcount"),
            F.sum(value_col).alias("vsum"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        ]
    out = (
        df.groupBy(*keys, win.alias("w"))
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )
    if value_col is not None:
        out = _derive_vavg(out)
    return out.select(
        *keys, "bucket_start", *[a for a in AGG_COLS if value_col or a == "turns"]
    )


def _reaggregate(
    rolled: DataFrame,
    keys: list[str],
    has_values: bool,
    bucket: str | Column | None = None,
) -> DataFrame:
    """The decomposable re-aggregation of rolled stats, per (keys,
    bucket): sum of turns / vcount / vsum, min of vmin, max of vmax,
    then vavg re-derived from the NON-NULL count (vsum ignores nulls;
    turns doesn't).  Returns keys, ``bucket_start`` and ``AGG_COLS``
    (``turns`` alone without values).

    ``bucket`` picks the output bucket: None keeps each row's
    ``bucket_start`` (merging rollups of one tier); a width string
    re-buckets on a tumbling window (a coarser fixed-width tier); a
    Column named ``bucket_start`` gives the new bucket start (calendar
    tiers)."""
    if has_values:
        rolled = ensure_vcount(rolled)
    aggs = [F.sum("turns").alias("turns")]
    if has_values:
        aggs += [
            F.sum("vcount").alias("vcount"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        ]
    if isinstance(bucket, str):
        out = (
            rolled.groupBy(*keys, F.window("bucket_start", bucket).alias("w"))
            .agg(*aggs)
            .withColumn("bucket_start", F.col("w.start"))
            .drop("w")
        )
    else:
        out = rolled.groupBy(
            *keys, "bucket_start" if bucket is None else bucket
        ).agg(*aggs)
    if has_values:
        out = _derive_vavg(out)
    cols = [a for a in AGG_COLS if has_values or a == "turns"]
    return out.select(*keys, "bucket_start", *cols)


def cascade_tier(
    finer: DataFrame, keys: list[str], bucket: str, has_values: bool = True
) -> DataFrame:
    """Continuous-aggregate step: compute a coarser tier FROM the finer
    tier (never from raw).  count-of-counts / sum-of-sums / min-of-mins
    / max-of-maxes; avg re-derived as vsum/vcount.

    Exact-parity with recompute-from-raw is tested in
    tests/test_rollup.py (north rule: rolled-up points match the
    reference at each retention tier).
    """
    return _reaggregate(finer, keys, has_values, bucket)


_CALENDAR_UNITS = ("week", "month", "quarter", "year")


def calendar_tier(
    finer: DataFrame, keys: list[str], unit: str, has_values: bool = True
) -> DataFrame:
    """Calendar-aligned continuous-aggregate step: a month / quarter /
    year (or ISO-week) tier computed FROM a finer fixed-width tier via
    ``date_trunc`` — TimescaleDB's ``time_bucket('1 month', ...)``.

    Calendar units are variable-width, so ``F.window``'s epoch-modulo
    tumbling math cannot express them (``bucket_seconds`` rejects them
    by design).  But every day boundary nests exactly inside month /
    quarter / year boundaries in the session's pinned-UTC calendar, so
    a ``date_trunc`` cascade from the daily (or any day-aligned) tier
    is EXACT — identical decomposable stats to ``cascade_tier``
    (count-of-counts / sum-of-sums / min-of-mins), just a different
    bucket key expression.  Same single hash-aggregate exchange with
    map-side partials; its input is the already-rolled tier (~1/1440
    of raw at 1d), so the calendar shuffle is negligible at any scale.
    """
    if unit not in _CALENDAR_UNITS:
        raise ValueError(
            f"calendar unit must be one of {_CALENDAR_UNITS}, got {unit!r}"
        )
    return _reaggregate(
        finer, keys, has_values,
        F.date_trunc(unit, "bucket_start").alias("bucket_start"),
    )


def sliding_window_agg(
    tier: DataFrame,
    keys: list[str],
    span: str | int,
    bucket: str,
    ts_col: str = "bucket_start",
) -> DataFrame:
    """Trailing time-window aggregates over a rolled tier: for every
    (key, bucket) row, the aggregate of all tier rows whose bucket
    start lies in ``(t - span, t]`` — a moving average / moving
    extrema surface (``mavg``/``mmin``/``mmax``/``mturns``) computed
    from the tier's decomposable stats, so the moving average is the
    TRUE point average (sum-of-vsum / sum-of-vcount), not an
    average-of-averages.

    Implementation: ONE window shuffle on ``keys``; the frame is a
    ``rangeBetween`` over epoch seconds, so gaps in the tier cost
    nothing (no scaffold needed — absent buckets contribute nothing,
    exactly like a time-predicated self-join, without the join).
    Range frames evaluate in O(rows) per partition via the sliding
    frame state; skew is bounded per key like every tier op.
    """
    span_s = bucket_seconds(span) if isinstance(span, str) else int(span)
    step = bucket_seconds(bucket)
    if span_s % step or span_s < step:
        raise ValueError(
            f"span {span_s}s must be a positive multiple of bucket {step}s"
        )
    tier = ensure_vcount(tier)
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_seconds(ts_col).alias("_es"))
        # starts >= t - span + step  <=>  starts > t - span
        .rangeBetween(-(span_s - step), 0)
    )
    return tier.select(
        *keys,
        ts_col,
        F.sum("turns").over(w).alias("mturns"),
        F.when(
            F.sum("vcount").over(w) > 0,
            F.sum("vsum").over(w) / F.sum("vcount").over(w),
        ).alias("mavg"),
        F.min("vmin").over(w).alias("mmin"),
        F.max("vmax").over(w).alias("mmax"),
    )


def rollup_cascade(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str | None = "value",
    tiers: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
) -> dict[str, DataFrame]:
    """Full cascade raw -> tiers[0] -> tiers[1] -> ... (each tier from
    the previous one).  Tier widths must be multiples of the previous.

    Each tier is ``localCheckpoint(eager=False)``ed, which under
    adaptive execution is not lazy: ``AdaptiveSparkPlanExec``
    materializes a plan's query stages to build its RDD, so this call
    runs every tier's shuffle-map stage (and with it each finer tier's
    checkpoint blocks) before any tier is acted on — 3 jobs over a
    materialized input, 5 on the first pass of ``dedup_then_rollup``;
    0.6-0.8 s a pass at 700 conversations on local[4], 1.9 s on the
    first.  Each finer shuffle
    is still materialized exactly ONCE, and every later action
    (including the same tier's) reads the blocks — a plain count per
    tier becomes one exchange-free job (measured 1.1 s → 0.3 s for
    the three-tier count sweep at sf0.1), and unlike a cached plan a
    checkpoint-backed frame keeps adaptive execution alive for
    downstream queries.  Blocks live until the session (or
    ``plans.drop_checkpoint``) releases them."""
    out: dict[str, DataFrame] = {}
    prev = None
    for t in tiers:
        if prev is None:
            cur = tumbling_rollup(df, keys, ts_col, value_col, t)
        else:
            cur = cascade_tier(prev, keys, t, has_values=value_col is not None)
        cur = cur.localCheckpoint(eager=False)
        out[t] = cur
        prev = cur
    return out


def bucket_scaffold(
    rolled: DataFrame, keys: list[str], bucket: str
) -> DataFrame:
    """Dense per-key bucket spine: sequence(min_bucket, max_bucket,
    interval) + explode.  Bounded per key by that key's own span."""
    step = bucket_seconds(bucket)
    spine = (
        rolled.groupBy(*keys)
        .agg(
            F.min("bucket_start").alias("lo"),
            F.max("bucket_start").alias("hi"),
        )
        .select(
            *keys,
            F.explode(
                F.sequence("lo", "hi", F.expr(f"interval {step} seconds"))
            ).alias("bucket_start"),
        )
    )
    return spine


def gap_fill_locf(
    rolled: DataFrame,
    keys: list[str],
    bucket: str,
    fill_cols: tuple[str, ...] = ("vavg",),
) -> DataFrame:
    """LOCF gap fill on the dense bucket spine.

    Missing buckets get turns=0, filled=true, and each ``fill_col``
    carried forward via last(ignorenulls) over the ts-ordered window
    (SURVEY.md §2.6: the lag/last(ignorenulls) the north rule needs).
    """
    spine = bucket_scaffold(rolled, keys, bucket)
    joined = spine.join(rolled, [*keys, "bucket_start"], "left")
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = joined.withColumn("filled", F.col("turns").isNull())
    for c in fill_cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out.withColumn("turns", F.coalesce("turns", F.lit(0)))


def gap_fill_linear(
    rolled: DataFrame,
    keys: list[str],
    bucket: str,
    fill_col: str = "vavg",
) -> DataFrame:
    """Linear-interpolation gap fill: bracket each missing bucket with
    the previous and next non-null (value, ts) and interpolate by
    bucket position; edges fall back to the available side (LOCF/NOCB).
    """
    spine = bucket_scaffold(rolled, keys, bucket)
    joined = spine.join(rolled, [*keys, "bucket_start"], "left")
    order = epoch_seconds("bucket_start")
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy(order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(fill_col)
    t = epoch_seconds("bucket_start").cast("double")
    has = v.isNotNull()
    prev_v = F.last(F.when(has, v), ignorenulls=True).over(w_prev)
    prev_t = F.last(F.when(has, t), ignorenulls=True).over(w_prev)
    next_v = F.first(F.when(has, v), ignorenulls=True).over(w_next)
    next_t = F.first(F.when(has, t), ignorenulls=True).over(w_next)
    frac = (t - prev_t) / (next_t - prev_t)
    interp = (
        F.when(has, v)
        .when(prev_v.isNull(), next_v)  # leading edge: NOCB
        .when(next_v.isNull(), prev_v)  # trailing edge: LOCF
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return (
        # filled = scaffold-inserted bucket (turns IS NULL), matching
        # gap_fill_locf and the DuckDB oracle; a bucket that HAS rows
        # but a null aggregate still gets its value interpolated (the
        # bracket windows key on value presence) without being marked
        # as a gap
        joined.withColumn("filled", F.col("turns").isNull())
        .withColumn(fill_col, interp)
        .withColumn("turns", F.coalesce("turns", F.lit(0)))
    )


def retention_expire(
    tier: DataFrame, horizon_ts, ts_col: str = "bucket_start"
) -> DataFrame:
    """Drop buckets older than the tier's retention horizon.  On a
    partitioned table this is partition pruning, not a scan."""
    return tier.filter(F.col(ts_col) >= F.lit(horizon_ts))


def _pack_runs(
    tier: DataFrame, keys: list[str], col: str, dtype: str,
    ts_encode, col_encode, payload: str, codec: str,
) -> DataFrame:
    """Shared encode path of the packed tiers: per key run, the
    bucket_start column through ``ts_encode`` into ``ts_packed`` and
    ``col`` (cast to ``dtype``) through ``col_encode`` into
    ``payload``, as one keyed Python stream (plans/keyed.py)."""
    key_fields = ", ".join(f"{k} string" for k in keys)
    schema = (
        f"{key_fields}, n_buckets long, ts_packed binary, {payload} binary, "
        "codec string"
    )

    def pack_stream(batches):
        import pandas as pd

        for pdf in complete_key_runs(batches, keys):
            key_arrs = [pdf[k].to_numpy() for k in keys]
            starts, ends = key_runs(key_arrs)
            ts_all = (
                pdf["bucket_start"].astype("datetime64[us]")
                .astype("int64").to_numpy()
            )
            col_all = pdf[col].astype(dtype).to_numpy()
            row = {k: arr[starts] for k, arr in zip(keys, key_arrs)}
            row["n_buckets"] = ends - starts
            row["ts_packed"] = [
                ts_encode(ts_all[s:e]) for s, e in zip(starts, ends)
            ]
            row[payload] = [
                col_encode(col_all[s:e]) for s, e in zip(starts, ends)
            ]
            row["codec"] = codec
            yield pd.DataFrame(row)

    # prune to the packed columns before the shuffle
    slim = tier.select(*keys, "bucket_start", col)
    return keyed_map_in_pandas(slim, keys, ["bucket_start"], pack_stream, schema)


def pack_tier(
    tier: DataFrame, keys: list[str], value_col: str = "vavg",
    codec: str = "columnar",
) -> DataFrame:
    """Per-key Gorilla/delta-of-delta packed payload columns
    (ts_packed, val_packed) via one keyed mapInPandas stream —
    vectorized Arrow transfer, numpy bit-packing inside
    (kernels/codecs.py), no per-row Python.

    Default codec is ``columnar`` (sectioned layout, fully vectorized
    encode AND decode); ``stream`` is the classic Gorilla bitstream
    (sequential decode).  The codec is recorded per row so readers
    dispatch without out-of-band knowledge.

    Physical plan: repartition on the keys + sortWithinPartitions +
    ONE mapInPandas that splits whole Arrow batches on key
    change-points (``plans.keyed``) — NOT groupBy().applyInPandas,
    whose per-group UDF call and Arrow flush dominate when groups are
    small and numerous."""
    if codec == "columnar":
        ts_encode, val_encode = (
            codecs.dod_encode_columnar, codecs.gorilla_encode_columnar
        )
    else:
        ts_encode, val_encode = codecs.dod_encode, codecs.gorilla_encode
    return _pack_runs(
        tier, keys, value_col, "float64", ts_encode, val_encode,
        "val_packed", codec,
    )


def unpack_tier(
    packed: DataFrame, keys: list[str], value_col: str = "vavg",
    codec: str | None = None,
) -> DataFrame:
    """Inverse of ``pack_tier``: packed payload rows → (keys,
    bucket_start, value) rows.  One Arrow batch in, decoded rows out —
    the read path for packed retention tiers.  Rows carrying a
    ``codec`` column are dispatched per row; the ``codec`` argument is
    the fallback for codec-less payloads and defaults to ``stream``,
    because any table WITHOUT the codec column predates it — and at
    that time pack_tier's default WAS the stream layout."""
    has_codec_col = "codec" in packed.columns
    codec = codec or "stream"
    key_fields = ", ".join(f"{k} string" for k in keys)
    schema = f"{key_fields}, bucket_start timestamp_ntz, {value_col} double"

    def unpack(batches):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels import codecs

        decoders = {
            "columnar": (codecs.dod_decode_columnar, codecs.gorilla_decode_columnar),
            "stream": (codecs.dod_decode, codecs.gorilla_decode),
        }

        for pdf in batches:
            frames = []
            for r in pdf.itertuples(index=False):
                c = r.codec if has_codec_col else codec
                dod_decode, gorilla_decode = decoders[c]
                ts = dod_decode(bytes(r.ts_packed))
                vals = gorilla_decode(bytes(r.val_packed))
                f = pd.DataFrame(
                    {
                        "bucket_start": ts.view("datetime64[us]"),
                        value_col: vals,
                    }
                )
                for k in keys:
                    f[k] = getattr(r, k)
                frames.append(f[[*keys, "bucket_start", value_col]])
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return packed.mapInPandas(unpack, schema=schema)


def pack_count_tier(
    tier: DataFrame, keys: list[str], count_col: str = "turns"
) -> DataFrame:
    """Simple8b-packed COUNT tier: per key, timestamps delta-of-delta
    packed and the integer count column simple8b packed
    (kernels/codecs.py s8b_encode) — the counter-column twin of
    ``pack_tier``'s Gorilla float path, completing the tier triple
    (ts / value / count) with the codec InfluxDB-family engines use
    for counters.  Gap-heavy tiers win twice: dense-from-sparse zeros
    collapse into 240-wide zero-run words.

    Same encode path and physical plan as ``pack_tier``; only the
    column encoders and the payload column differ."""
    return _pack_runs(
        tier, keys, count_col, "int64", codecs.dod_encode_columnar,
        codecs.s8b_encode, "counts_packed", "s8b",
    )


def unpack_count_tier(
    packed: DataFrame, keys: list[str], count_col: str = "turns"
) -> DataFrame:
    """Inverse of ``pack_count_tier``: one mapInPandas, vectorized
    decode per payload row, back to (keys, bucket_start, count)."""
    key_fields = ", ".join(f"{k} string" for k in keys)
    schema = f"{key_fields}, bucket_start timestamp_ntz, {count_col} long"

    def unpack(batches):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels import codecs

        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for _, r in pdf.iterrows():
                ts = codecs.dod_decode_columnar(bytes(r["ts_packed"]))
                cs = codecs.s8b_decode(bytes(r["counts_packed"]))
                d = {k: np.repeat(r[k], len(ts)) for k in keys}
                d["bucket_start"] = ts.astype("datetime64[us]")
                d[count_col] = cs
                frames.append(pd.DataFrame(d))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return packed.mapInPandas(unpack, schema=schema)
