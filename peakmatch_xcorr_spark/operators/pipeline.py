"""End-to-end engine pipelines: the reference's mode sequence
(PEAKMATCH → POSTPROCESS → dedup → rollup) as one declarative flow.

``dedup_then_rollup`` is the north-star path: near-duplicate
conversation-activity detection feeding dedup BEFORE rollup, then the
retention cascade over the surviving rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from peakmatch_xcorr_spark.config import EngineConf
from peakmatch_xcorr_spark.operators.dedup import dedup_transcripts
from peakmatch_xcorr_spark.operators.features import conversation_features
from peakmatch_xcorr_spark.operators.pairs import fused_prune_verify
from peakmatch_xcorr_spark.operators.rollup import rollup_cascade


def auto_blocks(n_events: int, target_block: int = 300) -> int:
    """Block count keeping ~target_block events per block: the per-task
    gather working set stays cache-resident (~6 MB at curve_len=256;
    measured: 1250-event blocks thrash, 300-event blocks fly)."""
    return max(1, -(-n_events // target_block))


def find_duplicate_conversations(
    transcripts: DataFrame,
    conf: EngineConf,
    n_blocks: int | None = None,
) -> DataFrame:
    """transcripts → activity curves → featurize → peakmatch prune →
    FFT verify.  Returns matches (id_a, id_b, xcorr > final-threshold).

    Candidates are verified inside the block task with zero candidate
    shuffle; the reference-shaped two-phase plan through a persisted
    event_fft table (``peakmatch_candidates`` + ``postprocess_verify``)
    gives identical results (tested).
    """
    # each phase output is materialized — the engine's in-memory
    # analogue of the reference's phase files (xcorr.candidates etc.);
    # without it, downstream actions re-derive the cogroup/UDF stages
    # per action.  cache, not localCheckpoint, was MEASURED for the
    # feature phase: a cached plan pins adaptive execution off, which
    # wastes ~0.5 s of empty Python tasks on tiny corpora but keeps
    # the fused kernel exchange at the session's tuned 2-wave
    # shuffle-partition count — the checkpoint variant let AQE
    # re-coalesce that exchange and cost ~9% on the 3.7M-turn scaling
    # input at local[8] (164.6 s vs 180.1 s, 864 vs 1001 core-sec).
    feats = conversation_features(
        transcripts,
        conf.peakmatch,
        bucket=conf.rollup.activity_bucket,
        curve_len=conf.rollup.activity_curve_len,
    ).cache()
    if n_blocks is None:
        n_blocks = auto_blocks(feats.count())
    return fused_prune_verify(feats, conf.peakmatch, n_blocks).select(
        "id_a", "id_b", "xcorr"
    ).cache()


def dedup_then_rollup(
    transcripts: DataFrame,
    conf: EngineConf,
    n_blocks: int | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The flagship flow: dedup near-duplicate conversations, then the
    full retention cascade over survivors.  Returns (deduped, tiers)."""
    matches = find_duplicate_conversations(transcripts, conf, n_blocks)
    deduped = dedup_transcripts(transcripts, matches).cache()
    tiers = rollup_cascade(
        deduped, ["conv_id"], "ts", None, conf.rollup.tiers
    )
    return deduped, tiers
