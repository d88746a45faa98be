"""Conversation activity curves + event featurization (Spark side of
P1-P7 and S9: the reference's BasicEvent construction and FFT
precache, re-expressed over tables).

Dense curve assembly is a change-point mapInPandas bincount over
conversation-sorted raw turns (see ``activity_curves``); numeric
featurization is a second Arrow-batched mapInPandas calling the numpy
kernels.  Both are narrow stages over the single conv-hash shuffle.

Scale notes: curves are one row per conversation (10^12 turns →
~10^8-10^9 convs); the conv repartition is the only wide stage, and
it ships exactly (conv_id, bucket-ordinal long) per turn; the
featurize map is embarrassingly parallel.  A pathologically giant
conversation lands whole on one task, but its curve work is bounded:
the bincount writes at most curve_len slots per conversation
regardless of its turn count, so the skewed task streams rows at
memcpy speed rather than building per-turn state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.config import PeakmatchConf
from peakmatch_xcorr_spark.operators.rollup import (
    bucket_seconds,
    epoch_seconds,
)
from peakmatch_xcorr_spark.plans.keyed import (
    complete_key_runs,
    key_runs,
    keyed_map_in_pandas,
)

FEATURE_SCHEMA = (
    "conv_id string, series array<double>, max_peaks array<int>, "
    "min_peaks array<int>, above_idx array<int>, peak_amp double, "
    "n_peaks int, ok boolean"
)

FFT_SCHEMA = (
    "conv_id string, fwd_re array<double>, fwd_im array<double>, "
    "rev_re array<double>, rev_im array<double>, padded_len int"
)


def _keyed_buckets(
    transcripts: DataFrame, step: int, conv_col: str, ts_col: str,
    fn, schema: str,
) -> DataFrame:
    """``fn`` over (conv, bucket ordinal) rows slimmed JVM-side and
    streamed per conversation (``plans.keyed``) — the curve family's
    ONLY wide stage over the raw turns.

    Epoch seconds are derived JVM-SIDE: pandas converts instant
    timestamps to naive session-local datetimes, which goes
    non-monotonic across DST in a non-UTC session (the refresh module
    documents the same trap for manifest bounds); the floor to a
    grid-aligned bucket ordinal matches F.window's tumbling math
    (epoch modulo, session TZ pinned UTC)."""
    slim = transcripts.select(
        conv_col,
        F.floor(epoch_seconds(ts_col) / F.lit(step)).cast("long").alias("b"),
    )
    return keyed_map_in_pandas(slim, [conv_col], ["b"], fn, schema)


def _curve_groups(batches, conv_col: str, curve_len: int):
    """Yield (conv_ids, curves 2-D float64 ndarray) per chunk of
    COMPLETE conversations from conv-sorted (conv, b) Arrow batches.
    Both the per-bucket counting and the curve scatter are one
    vectorized bincount over run-relative flat indices — no
    per-conversation Python loop."""
    import numpy as np

    for pdf in complete_key_runs(batches, [conv_col]):
        convs = pdf[conv_col].to_numpy()
        b = pdf["b"].to_numpy()
        starts, ends = key_runs([convs])
        run_of_row = np.repeat(np.arange(len(starts)), ends - starts)
        # bucket index relative to the conversation's first (minimum,
        # since sorted) bucket; truncate to curve_len as the reference
        # does.  idx < 0 can only come from a non-monotonic epoch
        # mapping (NTZ in a DST-ambiguous session TZ) — never
        # wrap-write.
        idx = b - b[starts][run_of_row]
        keep = (idx >= 0) & (idx < curve_len)
        flat = run_of_row[keep] * curve_len + idx[keep]
        counts = np.bincount(
            flat, minlength=len(starts) * curve_len
        ).astype(np.float64)
        yield convs[starts], counts.reshape(len(starts), curve_len)


def activity_curves(
    transcripts: DataFrame,
    bucket: str = "1 minute",
    curve_len: int = 256,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation fixed-length activity curve: turns per tumbling
    bucket, indexed relative to the conversation's first bucket,
    truncated to ``curve_len`` (reference: fixed expected-file-line-count,
    BasicEvent.java:40-56 — truncate/zero-pad semantics).

    ONE exchange total (``_keyed_buckets`` + ``_curve_groups``).  The
    previous two-exchange form (tumbling_rollup's groupBy on
    (conv, window) + a repartition(conv) of the rolled rows) shuffled
    the corpus twice for almost no map-side reduction — at ~2 turns
    per (conv, minute) slot spread over many input partitions,
    partial_count barely shrinks the first shuffle, so folding the
    count into the conv-partitioned pass halves the shuffled bytes.
    Sorting each conversation contiguous also makes the run's first
    bucket its minimum, so no window-min shuffle is needed.
    """
    step = bucket_seconds(bucket)

    def assemble(batches):
        import pandas as pd

        for convs, curves in _curve_groups(batches, conv_col, curve_len):
            yield pd.DataFrame({conv_col: convs, "curve": list(curves)})

    return _keyed_buckets(
        transcripts, step, conv_col, ts_col, assemble,
        f"{conv_col} string, curve array<double>",
    )


def featurize_curves(
    curves: DataFrame, conf: PeakmatchConf, series_len: int | None = None
) -> DataFrame:
    """numpy featurization kernel over Arrow batches (mapInPandas).
    Convs with too few peaks get ok=false (the reference's
    continue-on-error policy, Util.java:176-177).

    ``series_len`` pins the pad/truncate length to the CURVE length —
    without it, a conf whose ``expected_len`` differs from the curve
    length (e.g. the reference default 4000 vs a 256-bucket activity
    curve) would silently re-pad every curve and shift the mean-center
    across thousands of pad zeros."""

    def run(batches):
        for pdf in batches:
            out = _featurize_rows(
                pdf["conv_id"], pdf["curve"], conf, series_len
            )
            if out is not None:  # empty frames mistype array columns
                yield out

    return curves.mapInPandas(run, schema=FEATURE_SCHEMA)


def _featurize_rows(conv_ids, curve_arrays, conf, series_len):
    """Featurize one batch of (conv_id, curve) pairs into a
    FEATURE_SCHEMA pandas frame (None when the batch is empty).
    Convs with too few peaks get ok=false (the reference's
    continue-on-error policy, Util.java:176-177)."""
    import numpy as np
    import pandas as pd

    from peakmatch_xcorr_spark.kernels.signal import featurize

    out = {
        "conv_id": [], "series": [], "max_peaks": [],
        "min_peaks": [], "above_idx": [], "peak_amp": [],
        "n_peaks": [], "ok": [],
    }
    for conv, curve in zip(conv_ids, curve_arrays):
        arr = np.asarray(curve, dtype=np.float64)
        try:
            # the int-cast quirk applies (or not) independently
            # of padding: the curve IS the fixed-length series
            f = featurize(
                arr, conf,
                pre_ingested=not conf.int_cast_ingest,
                series_len=(
                    series_len if series_len is not None else len(arr)
                ),
            )
            out["series"].append(f.series)
            out["max_peaks"].append(f.max_peaks)
            out["min_peaks"].append(f.min_peaks)
            out["above_idx"].append(f.above_idx)
            out["peak_amp"].append(f.peak_amp)
            out["n_peaks"].append(f.n_peaks)
            out["ok"].append(True)
        except ValueError:
            out["series"].append(np.zeros(0))
            out["max_peaks"].append(np.zeros(0, np.int32))
            out["min_peaks"].append(np.zeros(0, np.int32))
            out["above_idx"].append(np.zeros(0, np.int32))
            out["peak_amp"].append(float("nan"))
            out["n_peaks"].append(0)
            out["ok"].append(False)
        out["conv_id"].append(conv)
    return pd.DataFrame(out) if out["conv_id"] else None


def conversation_features(
    transcripts: DataFrame,
    conf: PeakmatchConf,
    bucket: str = "1 minute",
    curve_len: int = 256,
) -> DataFrame:
    """transcripts → featurized activity curves (ok rows only).

    FUSED: curve assembly and numeric featurization run in ONE
    mapInPandas over the single conv-hash exchange.  The composed form
    (``featurize_curves(activity_curves(...))``) plans two chained
    PythonRunner phases in the same task, so every task holds TWO
    concurrent Python workers — 2× oversubscription at full
    parallelism (measured on the 18.5M-turn stress corpus at
    local[32]: chained 30-54 s vs ~11 s split/fused) — and pays an
    extra Arrow round-trip of every curve.  Identical rows to the
    composed form by construction (same ``_curve_groups`` +
    ``_featurize_rows`` helpers)."""
    step = bucket_seconds(bucket)

    def run(batches):
        for convs, curves in _curve_groups(batches, "conv_id", curve_len):
            out = _featurize_rows(convs, curves, conf, curve_len)
            if out is not None:
                yield out

    return _keyed_buckets(
        transcripts, step, "conv_id", "ts", run, FEATURE_SCHEMA
    ).filter(F.col("ok"))


def fft_precache(features: DataFrame) -> DataFrame:
    """Materializable event_fft table: forward rfft of the padded
    series + rfft of the reversed series (FFTPreprocessedEvent.java:
    22-38, FFTPrecacheProcessor.java:26-56).  Batched numpy rfft over
    Arrow batches — compute once, reuse across verify joins."""

    def run(batches):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels.xcorr import next_power_of_two

        for pdf in batches:
            if len(pdf) == 0:
                continue
            series = np.stack([np.asarray(s, dtype=np.float64) for s in pdf["series"]])
            n = next_power_of_two(2 * series.shape[1])
            fwd = np.fft.rfft(series, n, axis=1)
            rev = np.fft.rfft(series[:, ::-1], n, axis=1)
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy(),
                    "fwd_re": list(np.real(fwd)),
                    "fwd_im": list(np.imag(fwd)),
                    "rev_re": list(np.real(rev)),
                    "rev_im": list(np.imag(rev)),
                    "padded_len": n,
                }
            )

    return features.select("conv_id", "series").mapInPandas(run, schema=FFT_SCHEMA)
