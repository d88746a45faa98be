"""A repeated pass of the dedup -> rollup -> gap fill -> pack flow must
find every generated class in Spark's codegen cache.

Spark's default cache (100 entries over 4 LRU segments) is smaller than
one pass: this pass needs 112 distinct classes in a fresh session, so a
100-entry cache holds at most 100 of them when the second pass starts
and must compile at least 12 again.  ``session.get_spark`` sizes the
cache to the engine's working set; the second pass compiles none."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.config import EngineConf, PeakmatchConf, RollupConf
from peakmatch_xcorr_spark.metrics import measure_job
from peakmatch_xcorr_spark.operators.pipeline import dedup_then_rollup
from peakmatch_xcorr_spark.operators.rollup import (
    gap_fill_locf,
    pack_tier,
    unpack_tier,
)
from peakmatch_xcorr_spark.plans import drop_checkpoint
from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts

CONF = EngineConf(
    peakmatch=PeakmatchConf(expected_len=256),
    rollup=RollupConf(activity_curve_len=256),
)


@pytest.fixture(scope="module")
def transcripts(spark):
    res = generate_transcripts(SynthConf(n_convs=16, n_dup_pairs=3))
    sdf = spark.createDataFrame(res.transcripts)
    sdf.cache().count()
    yield sdf
    sdf.unpersist()


def _pass(transcripts):
    """Dedup and roll up, count and sum every tier, then gap fill, pack
    and unpack the 1h and 1d tiers.  Returns what the actions read."""
    deduped, tiers = dedup_then_rollup(transcripts, CONF)
    kept = deduped.count()
    sums = {t: (tier.count(), tier.agg(F.sum("turns")).first()[0])
            for t, tier in tiers.items()}
    packs = {}
    for bucket in ("1 hour", "1 day"):
        filled = gap_fill_locf(
            tiers[bucket], ["conv_id"], bucket, fill_cols=()
        ).withColumn("turns", F.col("turns").cast("double"))
        packed = pack_tier(filled, ["conv_id"], value_col="turns")
        points, payload = packed.agg(
            F.sum("n_buckets"),
            F.sum(F.length("ts_packed") + F.length("val_packed")),
        ).first()
        back = unpack_tier(packed, ["conv_id"], value_col="turns")
        lost = back.exceptAll(filled.select(*back.columns)).count()
        packs[bucket] = (points, payload, lost)
    for tier in tiers.values():
        drop_checkpoint(tier)
    deduped.unpersist()
    return kept, sums, packs


def test_repeated_pass_compiles_no_codegen_class(spark, transcripts):
    first, _ = measure_job(spark, lambda: _pass(transcripts), "first pass")
    again, m = measure_job(spark, lambda: _pass(transcripts), "second pass")
    kept, sums, packs = again
    assert again == first
    assert {s for _, s in sums.values()} == {kept}
    assert all(points > 0 and lost == 0 for points, _, lost in packs.values())
    assert m["codegen_compiles"] == 0
