"""Streaming activity rollup: readStream → watermark → tumbling
window count/stats → sink.

Late data policy: rows later than the watermark are dropped by Spark;
buckets finalize (append mode) once the watermark passes their end —
the streaming mirror of the batch engine's re-roll-affected-buckets
policy (operators/refresh.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.downsample import (
    check_smoothing,
    exp_smooth_run,
)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, path: str, schema: str = TRANSCRIPT_SCHEMA
) -> DataFrame:
    """File-source stream over a directory of transcript parquet files
    (one file per micro-batch in tests; kafka/etc. in production is
    the same downstream plan)."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def streaming_activity_rollup(
    stream: DataFrame,
    bucket: str = "1 minute",
    watermark: str = "5 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Watermarked tumbling rollup; append-mode-compatible (aggregation
    keyed on the event-time window)."""
    aggs = [F.count(F.lit(1)).alias("turns")]
    if value_col:
        # no F.avg: it would keep its own sum+count in the state store
        # per (conv_id, window) on top of vsum/vcount — derive instead,
        # same as the batch rollup
        aggs += [
            F.count(value_col).alias("vcount"),
            F.sum(value_col).alias("vsum"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        ]
    out = (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", bucket).alias("w"))
        .agg(*aggs)
    )
    if value_col:
        out = out.withColumn(
            "vavg",
            F.when(F.col("vcount") > 0, F.col("vsum") / F.col("vcount")),
        )
    return out.select(
        "conv_id", F.col("w.start").alias("bucket_start"),
        *[c for c in ("turns", "vcount", "vsum", "vmin", "vmax", "vavg")
          if value_col or c == "turns"],
    )


def run_stream_to_memory(
    rollup: DataFrame, name: str = "stream_out", mode: str = "append"
):
    """Drive a bounded file-source stream to completion synchronously
    (test harness; pyspark_guide.md streaming pattern)."""
    q = (
        rollup.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def stream_to_warehouse(stream: DataFrame, table, checkpoint_dir: str):
    """foreachBatch sink appending each micro-batch as ONE warehouse
    snapshot — the ingest edge of the continuous-aggregate loop:
    stream → snapshot appends → ContinuousAggregate.refresh() rolls
    ONLY the appended files into the tiers (snapshot-diff driven).

    Exactly-once note: the streaming checkpoint dedups replayed
    batches at the source; a batch re-run after a crash between
    append and checkpoint would double-append — production pairs this
    with an idempotent commit key (batch_id in the snapshot job_id,
    visible in the manifest for reconciliation), the same pattern
    Iceberg's Spark sink uses."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.append(batch_df, job_id=f"stream_batch_{batch_id}")

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def streaming_dedup_turns(
    stream: DataFrame,
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Exactly-once turn stream from at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on the turn key — a replayed or
    double-delivered turn arriving within the watermark is dropped,
    and the dedup state for a key expires once the watermark passes
    it, so state size is bounded by the watermark window's key
    cardinality, never the stream's history (the property that makes
    this runnable forever at 10^12 turns; a plain dropDuplicates
    would grow state without bound).  First occurrence is emitted
    immediately — downstream rollups see no added latency."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stateful_conv_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-conversation turn totals
    + last-seen timestamp via applyInPandasWithState (the engine's
    streaming extension point, SURVEY.md §2.11)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, total_turns long, last_ts timestamp"
    state_schema = "total_turns long"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        total = state.get[0] if state.exists else 0
        last_ts = None
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                m = pdf["ts"].max()
                last_ts = m if last_ts is None else max(last_ts, m)
        state.update((total,))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "total_turns": [total], "last_ts": [last_ts]}
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def _stateful_smooth(
    stream: DataFrame,
    value_col: str,
    cols: tuple[str, ...],
    params: tuple[float, float, float, int],
) -> DataFrame:
    """``exp_smooth_run`` once per micro-batch and conversation, from
    the (level, trend, ring, cursor) state the previous micro-batch
    left in the state store: the same carry the batch stage threads
    across Arrow batches, here persisted by the streaming checkpoint.
    Emits one row per input row with the level, trend and seasonal
    arrays under the names in ``cols`` (update mode)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    check_smoothing(*params)
    out_schema = f"conv_id string, ts timestamp, {value_col} double"
    out_schema += "".join(f", {c} double" for c in cols)
    state_schema = "level double, trend double, ring array<double>, cur int"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        carry = state.get if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("ts", kind="mergesort")
            vals = pdf[value_col].astype("float64").to_numpy()
            lev, trd, sea, carry = exp_smooth_run(vals, carry, *params)
            out = {"conv_id": key[0], "ts": pdf["ts"].to_numpy()}
            out[value_col] = vals
            out.update(zip(cols, (lev, trd, sea)))
            yield pd.DataFrame(out)
        if carry is not None:
            state.update(carry)

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def stateful_ewma(
    stream: DataFrame,
    value_col: str = "turn_idx",
    alpha: float = 0.2,
) -> DataFrame:
    """Streaming mirror of operators/downsample.ewma_smooth: the EWMA
    recursion s_t = a*v_t + (1-a)*s_{t-1}, continued across
    micro-batches from the state store, appended as column ``ewma``.

    In-order arrival per key is assumed (rows inside a batch are
    sorted by ts; a row older than the carried state's timestamp would
    need watermark-bounded buffering, which the activity rollup path —
    finalized buckets — is the right place for, not the raw-turn
    recursion)."""
    return _stateful_smooth(stream, value_col, ("ewma",), (alpha, 0.0, 0.0, 1))


def stateful_holt_winters(
    stream: DataFrame,
    value_col: str = "turn_idx",
    alpha: float = 0.2,
    beta: float = 0.3,
    gamma: float = 0.4,
    period: int = 24,
) -> DataFrame:
    """Streaming mirror of operators/downsample.holt_winters_smooth:
    the additive level+trend+seasonal recursion, continued across
    micro-batches from the state store, appended as columns ``level``,
    ``trend`` and ``seasonal``.  Same in-order-arrival assumption as
    ``stateful_ewma``."""
    return _stateful_smooth(
        stream, value_col, ("level", "trend", "seasonal"),
        (alpha, beta, gamma, period),
    )


def stateful_phase_anomaly(
    stream: DataFrame,
    period: int = 24,
    z_thresh: float = 3.0,
    min_periods: int = 8,
    bucket_col: str = "b",
    value_col: str = "v",
) -> DataFrame:
    """Streaming (prequential) phase-baseline anomaly detection: the
    state store carries per-(conversation, phase) power sums
    (n, Σv, Σv²) and each arriving bucket row is TESTED against the
    baseline accumulated so far, then folded into it — the
    test-then-update discipline, so a spike never contributes to the
    baseline that judges it (the streaming analogue of the batch
    operator's leave-one-out; operators/seasonal.py
    seasonal_baseline_anomaly).

    Unlike the batch operator, the baseline here is the PREFIX of the
    stream per phase — early buckets are judged against fewer
    references (null z below ``min_periods``), which is the honest
    semantics for data that arrives forever and cannot be re-scanned.

    Emits every input row with ``z`` (null until the phase baseline
    has ``min_periods`` points or when its variance is ~0) and
    ``is_anomaly``.  State is 3*period integers per conversation —
    O(period), never O(history).  In-order arrival per key is assumed
    (same contract as stateful_ewma)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if period < 1:
        raise ValueError("period must be >= 1")
    if min_periods < 3:
        raise ValueError("min_periods must be >= 3")
    out_schema = (
        f"conv_id string, {bucket_col} long, {value_col} long, "
        "z double, is_anomaly boolean"
    )
    state_schema = "n array<long>, s1 array<long>, s2 array<long>"

    def update(key, pdfs, state: GroupState):
        import math

        import numpy as np
        import pandas as pd

        if state.exists:
            n, s1, s2 = (list(x) for x in state.get)
        else:
            n, s1, s2 = [0] * period, [0] * period, [0] * period
        touched = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            touched = True
            pdf = pdf.sort_values(bucket_col, kind="mergesort")
            bs = pdf[bucket_col].to_numpy()
            vs = pdf[value_col].to_numpy()
            zs = np.full(len(pdf), np.nan)
            for i, (b, v) in enumerate(zip(bs, vs)):
                ph = int(b) % period
                v = int(v)
                if n[ph] >= min_periods:
                    mean = s1[ph] / n[ph]
                    var = (n[ph] * s2[ph] - s1[ph] * s1[ph]) / (
                        n[ph] * (n[ph] - 1)
                    )
                    if var > 1e-12:
                        zs[i] = (v - mean) / math.sqrt(var)
                n[ph] += 1
                s1[ph] += v
                s2[ph] += v * v
            zcol = pd.Series(zs)
            yield pd.DataFrame({
                "conv_id": key[0],
                bucket_col: bs,
                value_col: vs,
                "z": zcol,
                "is_anomaly": zcol.abs() > z_thresh,
            })
        if touched:
            state.update((
                [int(x) for x in n],
                [int(x) for x in s1],
                [int(x) for x in s2],
            ))

    return stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    lo_s: float,
    hi_s: float,
    watermark: str = "1 hour",
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    prefix: str = "right_",
) -> DataFrame:
    """Stream-stream inner join with the batch ``interval_join``
    semantics: right rows with ``right_ts`` in
    ``[left_ts + lo_s, left_ts + hi_s)`` per key, half-open.

    Here the range condition is passed straight to Spark's
    stream-stream join: with watermarks on BOTH sides plus an
    event-time constraint, the state store evicts a buffered left row
    once the right watermark passes ``left_ts + hi_s`` (and vice
    versa), so state is bounded by watermark × arrival rate — the
    property that makes this runnable forever.  No bucketing rewrite
    is needed: streaming state IS the hash index, keyed and pruned by
    the time constraint, where the batch path (operators/asof.py)
    must build that index per job via bucket keys."""
    if hi_s <= lo_s:
        raise ValueError(f"empty interval: [{lo_s}, {hi_s})")
    right_cols = right_cols or [
        c for c in right.columns if c not in (*keys, right_ts)
    ]
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = (
        right.select(
            *keys,
            F.col(right_ts).alias(f"{prefix}{right_ts}"),
            *[F.col(c).alias(f"{prefix}{c}") for c in right_cols],
        )
        .withWatermark(f"{prefix}{right_ts}", watermark)
        .alias("r")
    )
    rts = F.col(f"r.{prefix}{right_ts}")
    lts = F.col(f"l.{left_ts}").cast("timestamp")
    cond = (
        (rts >= lts + F.expr(f"INTERVAL {int(lo_s * 1e6)} MICROSECOND"))
        & (rts < lts + F.expr(f"INTERVAL {int(hi_s * 1e6)} MICROSECOND"))
    )
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return l.join(r, cond, "inner").select(
        *[F.col(f"l.{c}") for c in left.columns],
        f"{prefix}{right_ts}",
        *[f"{prefix}{c}" for c in right_cols],
    )


def streaming_sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time session windows per conversation (session_window =
    the streaming form of the batch lag/cumsum sessionizer in
    __spark_entry__._q_sessionize)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
        )
    )


def streaming_hll_tier(
    stream: DataFrame,
    id_col: str = "conv_id",
    bucket: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of sketches.hll_register_tier: a watermarked
    per-bucket HyperLogLog register tier maintained incrementally —
    distinct conversations per window without ever holding the id set.

    max is a native streaming aggregate, so no applyInPandasWithState
    is needed: state per (window, idx) key is ONE int (the running
    register), bounded by open-windows x 1024 regardless of stream
    rate — the streaming analogue of "the shuffle moves the tier, not
    the corpus".  Registers emitted at watermark close merge with the
    batch tier through sketches.hll_merge (max of maxes), so a
    lambda-style backfill (batch history + streaming head) composes
    without recall loss; parity with the batch registers over the
    same rows is pinned in tests/test_streaming.py."""
    from peakmatch_xcorr_spark.operators.sketches import (
        HLL_P,
        _HLL_M,
        _HLL_SCALE,
    )

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(h, HLL_P)
    return (
        stream.withWatermark("ts", watermark)
        .select(
            F.window("ts", bucket).alias("win"),
            "ts",
            F.pmod(h, F.lit(_HLL_M)).cast("int").alias("idx"),
            (F.lit(_HLL_SCALE) - F.length(F.bin(w))).cast("int").alias("rho"),
        )
        .groupBy("win", "idx")
        .agg(F.max("rho").alias("r"))
        .select(F.col("win.start").alias("bucket"), "idx", "r")
    )


def streaming_heavy_hitters(
    stream: DataFrame,
    token_col: str = "text",
    m: int = 64,
    shards: int = 16,
) -> DataFrame:
    """Streaming frequent items with BOUNDED state: the space-saving
    candidate table of operators/sketches.frequent_items_sketch, kept
    alive across micro-batches in the state store instead of rebuilt
    per pass.

    A native streaming groupBy(token).count() holds one state row per
    DISTINCT token — unbounded over an unbounded vocabulary, the
    thing that OOMs a 10^12-turn stream.  Here tokens hash into
    ``shards`` fixed groups and each shard's state is a space-saving
    table of at most ``m`` (token, count, err) entries: a new token
    evicts the current minimum and INHERITS its count as the
    overestimate bound (Metwally et al.'s Space-Saving), so any token
    with true frequency > N/(shards·m) is guaranteed present.  State
    is shards·m rows TOTAL, independent of vocabulary and stream
    length.

    Emits each shard's full candidate table every batch (update
    mode); read the latest batch per shard and merge shards by
    summing disjoint candidates (a token lives in exactly one
    shard).  ``count`` is an upper bound, ``count − err`` a lower
    bound — the same estimate contract as the batch sketch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "shard int, token string, count long, err long"
    state_schema = "tokens array<string>, counts array<long>, errs array<long>"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            toks, counts, errs = state.get
            table = {
                t: [c, e] for t, c, e in zip(toks, counts, errs)
            }
        else:
            table = {}
        for pdf in pdfs:
            for t, n in pdf[token_col].value_counts().items():
                n = int(n)
                if t in table:
                    table[t][0] += n
                elif len(table) < m:
                    table[t] = [n, 0]
                else:
                    victim = min(table, key=lambda x: table[x][0])
                    floor_c = table[victim][0]
                    del table[victim]
                    # inherit the evicted minimum: count is an upper
                    # bound, err records how much of it is inherited
                    table[t] = [floor_c + n, floor_c]
        items = sorted(table.items())
        state.update((
            [t for t, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
        ))
        yield pd.DataFrame({
            "shard": [key[0]] * len(items),
            "token": [t for t, _ in items],
            "count": [v[0] for _, v in items],
            "err": [v[1] for _, v in items],
        })

    sharded = stream.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(token_col)), F.lit(shards)).cast("int")
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        update, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout,
    )
