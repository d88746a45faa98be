from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from peakmatch_xcorr_spark.operators.refresh import ContinuousAggregate
from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
from peakmatch_xcorr_spark.sources.warehouse import JobCheckpoint, WarehouseTable
from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "warehouse")


def _split_df(spark, n_head: int):
    res = generate_transcripts(SynthConf(n_convs=10, n_dup_pairs=0, giant_conv=False))
    pdf = res.transcripts.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return (
        spark.createDataFrame(pdf.iloc[:n_head]),
        spark.createDataFrame(pdf.iloc[n_head:]),
        spark.createDataFrame(pdf),
    )


def test_snapshot_append_and_diff(spark, wh):
    t = WarehouseTable(wh, "transcripts")
    d1, d2, full = _split_df(spark, 1500)
    s1 = t.append(d1)
    s2 = t.append(d2)
    assert s1.version == 1 and s2.version == 2 and s2.parent == 1
    assert t.read(spark).count() == full.count()
    assert t.read(spark, version=1).count() == d1.count()
    diff = t.read_diff(spark, 1, 2)
    assert diff.count() == d2.count()
    assert t.diff_files(None, 1) == [f["path"] for f in t.snapshot(1).files]


def test_overwrite_replaces(spark, wh):
    t = WarehouseTable(wh, "x")
    d1, d2, _ = _split_df(spark, 1000)
    t.append(d1)
    t.overwrite(d2)
    assert t.read(spark).count() == d2.count()


def test_checkpoint_manifest(wh):
    c = JobCheckpoint(wh, "job1")
    assert not c.phase_done("1m", 3)
    c.mark_done("1m", 3, {"rows": 10})
    assert c.phase_done("1m", 3)
    assert not c.phase_done("1m", 4)  # new source version → re-run
    c2 = JobCheckpoint(wh, "job1")  # reloaded from disk
    assert c2.phase_done("1m", 3)


def _tiers_as_pandas(spark, agg):
    out = {}
    for tn, t in agg.tier_tables.items():
        out[tn] = (
            t.read(spark)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
    return out


def test_incremental_refresh_matches_full_recompute(spark, wh):
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)

    src.append(d1)
    m1 = agg.refresh(spark)
    assert m1["status"] == "refreshed"
    src.append(d2)
    m2 = agg.refresh(spark)
    assert m2["status"] == "refreshed"
    got = _tiers_as_pandas(spark, agg)

    # oracle: recompute every tier from the full raw table directly
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(full, ["conv_id"], "ts", None, bucket)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        g = got[tn]
        assert len(g) == len(exp), tn
        assert (g.turns.to_numpy() == exp.turns.to_numpy()).all(), tn
        assert (g.bucket_start.to_numpy() == exp.bucket_start.to_numpy()).all(), tn

    # idempotent re-refresh
    m3 = agg.refresh(spark)
    assert m3["status"] == "up-to-date"


def test_backfill_sized_delta_demotes_cow_to_full_recompute(spark, wh):
    """A delta whose affected-bucket set exceeds max_affected_buckets
    must not be collected/broadcast: the refresh demotes to the full
    recompute path and still produces exact tiers."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    agg.max_affected_buckets = 2  # force the demotion path

    src.append(d1)
    assert agg.refresh(spark)["status"] == "refreshed"
    src.append(d2)
    assert agg.refresh(spark)["status"] == "refreshed"
    got = _tiers_as_pandas(spark, agg)
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(full, ["conv_id"], "ts", None, bucket)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        g = got[tn]
        assert len(g) == len(exp), tn
        assert (g.turns.to_numpy() == exp.turns.to_numpy()).all(), tn


def test_resume_after_mid_cascade_kill(spark, wh):
    """Kill the cascade after the 1h phase commits; restart must skip
    committed phases and produce tiers identical to an uninterrupted
    run (byte-identical row sets)."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(full)

    with pytest.raises(RuntimeError, match="injected failure"):
        agg.refresh(spark, fail_after_phase="1h")
    # 1m and 1h committed, 1d missing
    assert agg.tier_tables["1m"].current_version() is not None
    assert agg.tier_tables["1d"].current_version() is None

    m = agg.refresh(spark)  # resume
    assert m["status"] == "refreshed"
    assert "1m" not in m  # phase was skipped, not recomputed

    got = _tiers_as_pandas(spark, agg)
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(full, ["conv_id"], "ts", None, bucket)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[tn], exp[got[tn].columns], check_dtype=False)


def test_retention_and_packed_tiers(spark, wh):
    from peakmatch_xcorr_spark.kernels.codecs import (
        dod_decode_columnar,
        gorilla_decode_columnar,
    )

    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    src.append(full)
    agg = ContinuousAggregate(
        wh, src, keys=["conv_id"], ts_col="ts", value_col=None,
        retention_s=(3600 * 12, None, None),  # keep only last 12h of 1m
        pack_tiers=("1h",),
    )
    agg.refresh(spark)
    t1m = agg.tier_tables["1m"].read(spark).toPandas()
    span = t1m.bucket_start.max() - t1m.bucket_start.min()
    assert span <= pd.Timedelta(hours=12)
    # packed 1h payloads round-trip against the 1h tier
    t1h = agg.tier_tables["1h"].read(spark).toPandas()
    packed = agg.packed_tables["1h"].read(spark).toPandas()
    assert len(packed) == t1h.conv_id.nunique()
    row = packed.iloc[0]
    assert row.codec == "columnar"  # pack_tier default is the vectorized codec
    g = t1h[t1h.conv_id == row.conv_id].sort_values("bucket_start")
    np.testing.assert_array_equal(
        dod_decode_columnar(bytes(row.ts_packed)),
        g.bucket_start.astype("datetime64[us]").astype("int64").to_numpy(),
    )
    np.testing.assert_array_equal(
        gorilla_decode_columnar(bytes(row.val_packed)),
        g.turns.astype("float64").to_numpy(),
    )


def test_resume_with_lost_checkpoint_is_idempotent(spark, wh):
    """Crash window between tier overwrite and checkpoint mark: the
    tier snapshot exists but the phase isn't marked done.  A restart
    must re-run the phase idempotently (empty snapshot diff → merged =
    existing) and converge to the same tiers."""
    import glob
    import os

    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(full)
    agg.refresh(spark)
    before = _tiers_as_pandas(spark, agg)

    # simulate the lost checkpoint: remove all checkpoint manifests
    for f in glob.glob(os.path.join(wh, "checkpoints", "*.json")):
        os.remove(f)
    m = agg.refresh(spark)  # re-runs every phase against a None diff
    assert m["status"] == "refreshed"
    after = _tiers_as_pandas(spark, agg)
    for tn in before:
        pd.testing.assert_frame_equal(before[tn], after[tn])


def _affected_sidecars(agg) -> list[str]:
    return [
        name for t in agg.tier_tables.values()
        for name in os.listdir(t.dir) if name.startswith("affected_v")
    ]


@pytest.mark.parametrize("lagging_op", ["append", "compact", "expire"])
def test_crash_then_new_source_version_loses_no_deltas(spark, wh, lagging_op):
    """ADVICE r1 (high): crash after the finest tier commits for source
    v, then the source moves on BEFORE the rerun while the coarse tiers
    still lag at v-1.  The coarse tiers must absorb every source version
    since their OWN recorded one — applying only the latest delta
    silently loses v's rows in coarse buckets the new version leaves
    untouched.  The new version is an append (incremental), a
    compaction (non-append chain) or an expiry of the coarse tiers'
    boundary manifest (no readable chain); the last two demote the
    coarse tiers to a full recompute."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)

    src.append(d1)
    agg.refresh(spark)  # tiers fully at source v1

    src.append(d2)  # source v2
    with pytest.raises(RuntimeError, match="injected failure"):
        agg.refresh(spark, fail_after_phase="1m")  # 1m at v2, coarse at v1

    all_raw = full
    if lagging_op == "append":  # third delta lands before the rerun: v3
        res2 = generate_transcripts(
            SynthConf(n_convs=6, n_dup_pairs=0, giant_conv=False, seed=99)
        )
        d3 = spark.createDataFrame(res2.transcripts)
        src.append(d3)
        all_raw = full.unionByName(d3)
    elif lagging_op == "compact":
        src.compact(spark)
    else:
        src.expire_snapshots(keep_last=1)  # v1's manifest is gone

    m = agg.refresh(spark)
    assert m["status"] == "refreshed"

    got = _tiers_as_pandas(spark, agg)
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(all_raw, ["conv_id"], "ts", None, bucket)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[tn], exp[got[tn].columns], check_dtype=False)
    # the source's snapshot chain is the only record of what a tier
    # has yet to absorb: no affected-bucket sidecar in any tier
    assert _affected_sidecars(agg) == []


def test_empty_source_diff_is_clean_noop(spark, wh):
    """ADVICE r1 (low): a source snapshot whose diff adds no files must
    refresh as a clean no-op, including the very first refresh against
    a table that has snapshots but an empty diff."""
    d1, _, _ = _split_df(spark, 800)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)

    # snapshot with ZERO added files (overwrite of nothing → empty df)
    empty = d1.limit(0)
    src.append(empty)
    m = agg.refresh(spark)  # must not raise AttributeError
    assert m["1m"]["rows"] == 0

    src.append(d1)
    m2 = agg.refresh(spark)
    assert m2["status"] == "refreshed"
    got = _tiers_as_pandas(spark, agg)
    exp = (
        tumbling_rollup(d1, ["conv_id"], "ts", None, "1 hour")
        .toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got["1h"], exp[got["1h"].columns], check_dtype=False)


def test_retention_uses_manifest_bounds(spark, wh):
    """Retention horizon derives from manifest column bounds (zero
    extra Spark jobs); result must equal the scan-based cutoff."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    src.append(full)
    agg = ContinuousAggregate(
        wh, src, keys=["conv_id"], ts_col="ts", value_col=None,
        retention_s=(3600 * 12, None, None),
    )
    agg.refresh(spark)
    t1m = agg.tier_tables["1m"].read(spark).toPandas()
    raw = full.toPandas()
    true_hi = raw.ts.max().floor("min")
    cutoff = true_hi - pd.Timedelta(hours=12)
    assert t1m.bucket_start.min() >= cutoff
    assert t1m.bucket_start.max() == true_hi
    # and the manifest agrees with the data
    from peakmatch_xcorr_spark.operators.refresh import _parse_bound_ts
    hi = _parse_bound_ts(agg.tier_tables["1m"].manifest_column_max("bucket_start"))
    assert pd.Timestamp(hi) == t1m.bucket_start.max()


def test_expire_snapshots_keeps_current_reads(spark, wh):
    d1, d2, full = _split_df(spark, 1000)
    t = WarehouseTable(wh, "t")
    t.append(d1)
    t.overwrite(d2)   # v2 orphans v1's files
    t.append(d1)      # v3
    n_before = t.read(spark).count()
    import glob
    import os
    files_before = len(glob.glob(os.path.join(t.data_dir, "*", "*.parquet")))
    out = t.expire_snapshots(keep_last=2)
    assert out["expired_snapshots"] == 1
    assert out["deleted_files"] > 0
    assert t.versions() == [2, 3]
    assert t.read(spark).count() == n_before
    files_after = len(glob.glob(os.path.join(t.data_dir, "*", "*.parquet")))
    assert files_after == files_before - out["deleted_files"]
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)


def test_compact_preserves_rows_and_shrinks_files(spark, wh):
    d1, d2, full = _split_df(spark, 1000)
    t = WarehouseTable(wh, "tc")
    t.append(d1.repartition(4))
    t.append(d2.repartition(4))
    n = t.read(spark).count()
    n_files = len(t.snapshot(t.current_version()).files)
    assert n_files >= 8
    snap = t.compact(spark, target_partitions=1)
    assert snap.metrics["compacted_from_files"] == n_files
    assert len(snap.files) == 1
    assert t.read(spark).count() == n


def test_refresh_survives_source_compaction(spark, wh):
    """Compaction rewrites every row into NEW file paths; a naive path
    diff would re-roll the whole table INTO the existing tier and
    double every bucket.  refresh must detect the non-append chain and
    fall back to a full tier rebuild (code-review r2 finding #1)."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)
    agg.refresh(spark)
    src.append(d2)
    src.compact(spark, target_partitions=1)  # non-append snapshot
    m = agg.refresh(spark)
    assert m.get("full_rebuild") is True
    got = _tiers_as_pandas(spark, agg)
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(full, ["conv_id"], "ts", None, bucket)
            .toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[tn], exp[got[tn].columns], check_dtype=False)


def test_refresh_survives_expired_source_snapshots(spark, wh):
    """Expiry can remove the manifest a lagging aggregate checkpointed
    against; refresh must full-rebuild, not crash forever (finding #4)."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)          # v1
    agg.refresh(spark)      # tiers at v1
    src.append(d2.limit(200))   # v2
    src.append(d2)          # v3 (superset append is fine for rollups)
    src.expire_snapshots(keep_last=1)  # v1+v2 manifests gone
    m = agg.refresh(spark)
    assert m["status"] == "refreshed" and m.get("full_rebuild") is True
    # tiers equal a recompute over the CURRENT snapshot content
    cur = src.read(spark)
    exp = (
        tumbling_rollup(cur, ["conv_id"], "ts", None, "1 hour")
        .toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    got = _tiers_as_pandas(spark, agg)["1h"]
    pd.testing.assert_frame_equal(got, exp[got.columns], check_dtype=False)


def test_refresh_migrates_legacy_tier_without_vcount(spark, wh):
    """Tiers persisted before the vcount column must refresh without
    AnalysisException; legacy rows get vcount := turns (finding #3)."""
    d1, d2, full = _split_df(spark, 1200)
    d1 = d1.withColumn("value", d1.turn_idx.cast("double"))
    d2 = d2.withColumn("value", d2.turn_idx.cast("double"))
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col="value")
    src.append(d1)
    agg.refresh(spark)
    # simulate a pre-upgrade warehouse: strip vcount from every tier
    for tn, t in agg.tier_tables.items():
        legacy = t.read(spark).drop("vcount")
        t.overwrite(legacy, metrics=t.snapshot(t.current_version()).metrics)
    src.append(d2)
    m = agg.refresh(spark)
    assert m["status"] == "refreshed"
    got = _tiers_as_pandas(spark, agg)["1h"]
    exp = (
        tumbling_rollup(
            d1.unionByName(d2), ["conv_id"], "ts", "value", "1 hour"
        ).toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    assert (got.turns.to_numpy() == exp.turns.to_numpy()).all()
    np.testing.assert_allclose(got.vavg.to_numpy(), exp.vavg.to_numpy(), rtol=1e-12)


def test_refresh_copy_on_write_carries_untouched_files(spark, wh):
    """File-level COW: a delta touching only recent buckets must CARRY
    the tier files for older time ranges verbatim (manifest record
    reuse) and rewrite only the touched range — refresh cost ∝ delta.
    Correctness: tiers still equal a full recompute."""

    def day_frame(day, n=400):
        ts = pd.date_range(f"2024-01-{day:02d}", periods=n, freq="3min").astype(
            "datetime64[us]"
        )
        return pd.DataFrame(
            {
                "conv_id": [f"c{i % 5}" for i in range(n)],
                "turn_idx": range(n),
                "text": ["x"] * n,
                "ts": ts,
            }
        )

    d_old = pd.concat([day_frame(d) for d in (1, 2, 3, 4)])
    d_new = day_frame(6)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)

    src.append(spark.createDataFrame(d_old))
    agg.refresh(spark)
    src.append(spark.createDataFrame(d_new))
    m = agg.refresh(spark)

    # the 1m tier carried most of its files (old days untouched)
    t0 = agg.tier_tables["1m"]
    snap = t0.snapshot(t0.current_version())
    assert snap.operation == "merge"
    assert m["1m"]["carried_files"] > 0
    # every file of the previous snapshot was carried verbatim (the
    # day-6 delta touches no old ranges), and the rewritten data is a
    # fraction of the carried data: refresh cost ∝ delta
    prev = t0.snapshot(snap.parent)
    prev_paths = {f["path"] for f in prev.files}
    carried_rows = sum(f["rows"] for f in snap.files if f["path"] in prev_paths)
    new_rows = sum(f["rows"] for f in snap.files if f["path"] not in prev_paths)
    assert snap.metrics["carried_files"] == len(prev.files)
    assert 0 < new_rows < carried_rows / 2

    # and the content is exactly the full recompute
    full = spark.createDataFrame(pd.concat([d_old, d_new]))
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(full, ["conv_id"], "ts", None, bucket)
            .toPandas().sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
        )
        got = (
            agg.tier_tables[tn].read(spark).toPandas()
            .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp[got.columns], check_dtype=False)


def test_cow_retention_drops_expired_files_metadata_only(spark, wh):
    """With retention, files wholly behind the cutoff are DROPPED from
    the manifest without being read; the boundary file is rewritten."""

    def hours_frame(start_h, n_h):
        ts = pd.date_range(
            f"2024-01-01 {start_h:02d}:00", periods=n_h * 12, freq="5min"
        ).astype("datetime64[us]")
        return pd.DataFrame(
            {
                "conv_id": ["c0"] * len(ts),
                "turn_idx": range(len(ts)),
                "text": ["x"] * len(ts),
                "ts": ts,
            }
        )

    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(
        wh, src, keys=["conv_id"], ts_col="ts", value_col=None,
        retention_s=(3600 * 6, None, None),  # keep last 6h of 1m
    )
    src.append(spark.createDataFrame(hours_frame(0, 12)))  # 00:00-11:55
    agg.refresh(spark)
    src.append(spark.createDataFrame(hours_frame(12, 6)))  # 12:00-17:55
    agg.refresh(spark)
    t1m = agg.tier_tables["1m"].read(spark).toPandas()
    assert t1m.bucket_start.min() >= pd.Timestamp("2024-01-01 11:55")
    assert t1m.bucket_start.max() == pd.Timestamp("2024-01-01 17:55")


def test_crash_between_tier_commit_and_checkpoint_resumes_exactly(spark, wh):
    """Code-review r3 (top finding): a crash AFTER t0.overwrite (which
    advances last_processed_version to src_v) but BEFORE mark_done
    makes the rerun see prev_v == src_v with an empty diff for the
    finest tier.  The coarse tiers, still at v1, must absorb the
    (v1, v2] delta all the same, and the rerun must terminate.
    Injection point: _maybe_pack raises once (it runs exactly between
    the tier commit and the checkpoint mark)."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)

    src.append(d1)
    agg.refresh(spark)  # tiers fully at source v1

    src.append(d2)  # source v2
    real_pack = agg._maybe_pack

    def exploding_pack(*a, **k):
        raise RuntimeError("injected failure inside commit window")

    agg._maybe_pack = exploding_pack
    with pytest.raises(RuntimeError, match="commit window"):
        agg.refresh(spark)
    agg._maybe_pack = real_pack

    m = agg.refresh(spark)
    assert m["status"] == "refreshed"

    got = _tiers_as_pandas(spark, agg)
    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = (
            tumbling_rollup(full, ["conv_id"], "ts", None, bucket)
            .toPandas()
            .sort_values(["conv_id", "bucket_start"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[tn], exp[got[tn].columns], check_dtype=False)


def test_refresh_survives_expiry_of_exactly_the_boundary_manifest(spark, wh):
    """Code-review r3: incremental_ok walked the chain but never
    opened from_version's OWN manifest, while diff_files reads it —
    expiring exactly the boundary manifest wedged every refresh retry
    with FileNotFoundError instead of demoting to a full rebuild."""
    import os

    d1, d2, _ = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)          # v1
    agg.refresh(spark)      # tiers at v1
    src.append(d2.limit(200))   # v2
    src.append(d2)          # v3
    # remove ONLY v1's manifest (the boundary); v2..v3 stay readable,
    # so the chain walk alone would say "incremental ok"
    os.remove(os.path.join(src.snap_dir, "v00001.json"))
    assert not src.incremental_ok(1, 3)
    m = agg.refresh(spark)
    assert m["status"] == "refreshed" and m.get("full_rebuild") is True


def test_versions_parse_not_fixed_width():
    """v100000.json (6 digits — the :05d format widens naturally) must
    parse as 100000, not truncate to 10000 and let the next commit
    clobber an existing manifest."""
    import json as _json
    import tempfile

    with tempfile.TemporaryDirectory() as root:
        t = WarehouseTable(root, "t")
        for v in (99999, 100000):
            with open(os.path.join(t.snap_dir, f"v{v:05d}.json"), "w") as f:
                _json.dump({"version": v, "parent": None, "operation":
                            "append", "files": []}, f)
        assert t.versions() == [99999, 100000]
        assert t.current_version() == 100000


def test_concurrent_commit_conflict_raises_not_clobbers(spark, wh):
    """Two writers that both observed current_version == N race to
    commit N+1: the loser must get ConcurrentCommitError, never
    silently overwrite the winner's manifest (which would orphan its
    data files)."""
    from peakmatch_xcorr_spark.sources.warehouse import ConcurrentCommitError

    d1, d2, _ = _split_df(spark, 400)
    t = WarehouseTable(wh, "race")
    t.append(d1)  # v1
    # simulate the winner: another writer commits v2 out from under us
    winner = t.snapshot(1)
    import json as _json
    with open(os.path.join(t.snap_dir, "v00002.json"), "w") as f:
        _json.dump({"version": 2, "parent": 1, "operation": "append",
                    "files": winner.files, "metrics": {}}, f)
    t_stale = WarehouseTable(wh, "race")
    # the stale writer computed version cur+1 == 3? No: it re-reads
    # current_version (3-step commit), so force the race by removing
    # its view — monkeypatch current_version to the stale value
    t_stale.current_version = lambda: 1
    with pytest.raises(ConcurrentCommitError):
        t_stale.append(d2)
    # the winner's manifest survived untouched
    assert t.snapshot(2).files == winner.files


def test_two_thread_contended_appends_stay_linear(spark, wh):
    """REAL contention (not a staged race): two threads each append 3
    times to the same table concurrently, retrying on
    ConcurrentCommitError.  Every retry must land; the final snapshot
    chain must be strictly linear (each version's parent is the
    previous version) and contain all 6 appends' rows exactly once."""
    import threading

    from peakmatch_xcorr_spark.sources.warehouse import (
        ConcurrentCommitError,
        WarehouseTable,
    )

    t = WarehouseTable(wh, "contended")
    # pre-build the frames on the main thread; the worker threads only
    # commit (Spark job submission is thread-safe, but building lazy
    # plans concurrently has no bearing on what this test proves)
    frames = {
        w: [
            spark.range(w * 1000 + i * 10, w * 1000 + i * 10 + 10)
            .toDF("id")
            for i in range(3)
        ]
        for w in (1, 2)
    }
    barrier = threading.Barrier(2)
    retries = {1: 0, 2: 0}
    errors = []

    def writer(w):
        try:
            barrier.wait(timeout=60)
            for df in frames[w]:
                while True:
                    try:
                        # fresh handle per attempt: a real concurrent
                        # writer re-reads current_version on retry
                        WarehouseTable(wh, "contended").append(df)
                        break
                    except ConcurrentCommitError:
                        retries[w] += 1
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append((w, exc))

    th = [threading.Thread(target=writer, args=(w,)) for w in (1, 2)]
    for x in th:
        x.start()
    for x in th:
        x.join(timeout=300)
    assert not errors, errors
    versions = t.versions()
    assert versions == list(range(1, 7)), versions  # all 6 landed
    for v in versions:
        s = t.snapshot(v)
        assert s.parent == (v - 1 if v > 1 else None)  # linear chain
    got = sorted(r.id for r in t.read(spark).collect())
    want = sorted(
        w * 1000 + i * 10 + j for w in (1, 2) for i in range(3)
        for j in range(10)
    )
    assert got == want  # every append exactly once, no orphans


def test_exclusive_write_fallback_without_hardlinks(tmp_path, monkeypatch):
    """Filesystems without hardlink support (overlay/NFS): os.link
    raises EPERM/ENOTSUP, and the commit must fall back to
    O_CREAT|O_EXCL with the same loser-must-fail contract instead of
    surfacing a raw OSError."""
    import json as _json
    import os as _os

    from peakmatch_xcorr_spark.sources import warehouse as whmod

    real_link = _os.link

    def no_link(src, dst, **kw):
        raise OSError(1, "Operation not permitted")  # EPERM

    monkeypatch.setattr(whmod.os, "link", no_link)
    path = str(tmp_path / "v00001.json")
    whmod._exclusive_write_json(path, {"version": 1})
    with open(path) as f:
        assert _json.load(f) == {"version": 1}
    # loser contract preserved on the fallback path
    with pytest.raises(whmod.ConcurrentCommitError):
        whmod._exclusive_write_json(path, {"version": 1, "loser": True})
    with open(path) as f:
        assert _json.load(f) == {"version": 1}  # winner untouched
    monkeypatch.setattr(whmod.os, "link", real_link)


# ------------------------------------------------- downsample-on-expiry

def _hourly_tier(spark, n_days=10, keys=("a", "b", "c")):
    """Deterministic 1h tier: one row per (key, hour) over n_days."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for k in keys:
        for h in range(24 * n_days):
            rows.append((k, t0 + dt.timedelta(hours=h), 3,
                         3, float((h * 7) % 100), 0.0, 99.0,
                         float((h * 7) % 100) / 3))
    pdf = pd.DataFrame(rows, columns=[
        "conv_id", "bucket_start", "turns", "vcount", "vsum",
        "vmin", "vmax", "vavg",
    ])
    return spark.createDataFrame(pdf)


def test_archive_expired_sketches_then_drops(spark, wh, monkeypatch):
    import datetime as dt

    from peakmatch_xcorr_spark.operators.downsample import m4_downsample
    from peakmatch_xcorr_spark.operators.refresh import archive_expired

    tier = WarehouseTable(wh, "tier_1h")
    sketch = WarehouseTable(wh, "tier_1h_sketch")
    df = _hourly_tier(spark, n_days=10)
    tier.overwrite(
        df.repartitionByRange(8, "bucket_start"), job_id="seed"
    )
    v0 = tier.current_version()

    horizon = 4 * 86400  # keep 4 days behind the max bucket
    m = archive_expired(spark, tier, sketch, ["conv_id"], horizon,
                        pixel_bucket="1 day", value_col="vavg")
    assert m["status"] == "expired"
    assert m["files_dropped"] >= 1      # metadata-only drops happened
    assert m["files_carried"] >= 1      # untouched files never read
    arch_hi = dt.datetime.fromisoformat(m["archived_until"])

    # tier now holds exactly the buckets >= the archive cutoff
    kept = tier.read(spark).toPandas()
    assert (kept["bucket_start"] >= arch_hi).all()
    full = df.toPandas()
    assert len(kept) == (full["bucket_start"] >= arch_hi).sum()

    # the sketch equals M4 computed directly over the expired slice
    exp = (
        m4_downsample(
            df.filter(f"bucket_start < '{arch_hi}'"),
            ["conv_id"], "bucket_start", "vavg", "1 day",
        ).toPandas().sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )
    got = (
        sketch.read(spark).toPandas()
        .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # time travel: the pre-archive snapshot still reads in full
    assert tier.read(spark, version=v0).count() == len(full)

    # idempotent rerun: no new sketch rows, no new tier snapshot
    sv, tv = sketch.current_version(), tier.current_version()
    m2 = archive_expired(spark, tier, sketch, ["conv_id"], horizon,
                         pixel_bucket="1 day", value_col="vavg")
    assert m2["status"] == "up-to-date"
    assert m2["sketch_rows_appended"] == 0
    assert sketch.current_version() == sv and tier.current_version() == tv

    # the same expiry over a legacy manifest without bucket bounds:
    # no copy-on-write split is possible, so the tier is rewritten in
    # full, to the same rows
    legacy = WarehouseTable(wh, "tier_1h_legacy")
    with monkeypatch.context() as mp:
        mp.setattr(WarehouseTable, "_footer_bounds", staticmethod(lambda md: {}))
        legacy.overwrite(
            df.repartitionByRange(8, "bucket_start"), job_id="seed"
        )
    m3 = archive_expired(spark, legacy, WarehouseTable(wh, "legacy_sketch"),
                         ["conv_id"], horizon, pixel_bucket="1 day",
                         value_col="vavg")
    assert m3["status"] == "expired_full_rewrite"
    assert m3["archived_until"] == m["archived_until"]
    got_legacy = (
        legacy.read(spark).toPandas()
        .sort_values(["conv_id", "bucket_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got_legacy,
        kept.sort_values(["conv_id", "bucket_start"]).reset_index(drop=True),
    )


def test_archive_expired_resumes_after_crash_between_commits(spark, wh):
    """Crash window: sketch append committed, expiry not.  The rerun
    must NOT double-append (the sketch manifest is the watermark) and
    must still expire the tier."""
    from peakmatch_xcorr_spark.operators.downsample import m4_downsample
    from peakmatch_xcorr_spark.operators.refresh import (
        _floor_bucket,
        archive_expired,
    )
    import datetime as dt

    tier = WarehouseTable(wh, "tier_1h_b")
    sketch = WarehouseTable(wh, "tier_1h_b_sketch")
    df = _hourly_tier(spark, n_days=10)
    tier.overwrite(df.repartitionByRange(8, "bucket_start"), job_id="seed")

    horizon = 4 * 86400
    hi = df.toPandas()["bucket_start"].max().to_pydatetime()
    arch_hi = _floor_bucket(hi - dt.timedelta(seconds=horizon), "1 day")
    # simulate the crashed first attempt: sketch append landed
    sketch.append(
        m4_downsample(df.filter(f"bucket_start < '{arch_hi}'"),
                      ["conv_id"], "bucket_start", "vavg", "1 day"),
        job_id="archive_crashed",
    )
    n_sketch = sketch.read(spark).count()

    m = archive_expired(spark, tier, sketch, ["conv_id"], horizon,
                        pixel_bucket="1 day", value_col="vavg")
    assert m["sketch_rows_appended"] == 0          # no double-append
    assert m["status"] == "expired"                # expiry completed
    assert sketch.read(spark).count() == n_sketch
    assert (tier.read(spark).toPandas()["bucket_start"] >= arch_hi).all()


def test_archive_expired_advances_incrementally(spark, wh):
    """New ingest moves the tier max forward; the next archive run
    sketches ONLY the newly-expired pixel buckets."""
    import datetime as dt

    from peakmatch_xcorr_spark.operators.refresh import archive_expired

    tier = WarehouseTable(wh, "tier_1h_c")
    sketch = WarehouseTable(wh, "tier_1h_c_sketch")
    df10 = _hourly_tier(spark, n_days=10)
    tier.overwrite(df10.repartitionByRange(8, "bucket_start"), job_id="seed")
    horizon = 4 * 86400
    m1 = archive_expired(spark, tier, sketch, ["conv_id"], horizon,
                         pixel_bucket="1 day", value_col="vavg")
    hi1 = dt.datetime.fromisoformat(m1["archived_until"])

    # two more days arrive (tier = kept rows + new days, as a refresh
    # would rewrite it)
    df12 = _hourly_tier(spark, n_days=12)
    newer = df12.filter(f"bucket_start >= '{hi1}'")
    tier.overwrite(newer.repartitionByRange(8, "bucket_start"),
                   job_id="refresh")
    m2 = archive_expired(spark, tier, sketch, ["conv_id"], horizon,
                         pixel_bucket="1 day", value_col="vavg")
    hi2 = dt.datetime.fromisoformat(m2["archived_until"])
    assert hi2 == hi1 + dt.timedelta(days=2)
    # exactly 2 new pixel days x 3 keys appended
    assert m2["sketch_rows_appended"] == 6
    sk = sketch.read(spark).toPandas()
    # sketch covers a contiguous, non-overlapping pixel range
    assert sk.groupby("conv_id")["bucket_start"].nunique().eq(
        sk["bucket_start"].nunique()
    ).all()
    assert sk["bucket_start"].nunique() == (hi2 - dt.datetime(2024, 1, 1)).days


# ---- schema evolution (manifest-recorded schema) ----


def test_schema_evolution_add_column_reads_null(spark, wh):
    from pyspark.sql import functions as F

    t = WarehouseTable(wh, "evolving")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    t.append(
        spark.createDataFrame([(3, "c", 9.5)], "k long, s string, score double")
    )
    cur = t.read(spark)
    assert [f.name for f in cur.schema] == ["k", "s", "score"]
    rows = {r["k"]: r["score"] for r in cur.collect()}
    assert rows == {1: None, 2: None, 3: 9.5}
    # time travel still sees the pre-evolution schema
    assert [f.name for f in t.read(spark, version=1).schema] == ["k", "s"]
    # a later append MISSING the evolved column also reads as null
    t.append(spark.createDataFrame([(4, "d")], "k long, s string"))
    assert t.read(spark).filter(F.col("k") == 4).first()["score"] is None
    assert t.read(spark).count() == 4


def test_schema_evolution_type_conflict_rejected(spark, wh):
    t = WarehouseTable(wh, "conflicted")
    t.append(spark.createDataFrame([(1, "a")], "k long, s string"))
    v = t.current_version()
    with pytest.raises(ValueError, match="cannot change column"):
        t.append(spark.createDataFrame([(2.5, "b")], "k double, s string"))
    # the rejected commit left no new snapshot behind
    assert t.current_version() == v


def test_schema_evolution_survives_delete_cow(spark, wh):
    """A COW rewrite of pre-evolution files must carry the evolved
    column (as null), and the committed snapshot keeps the union
    schema."""
    from pyspark.sql import functions as F

    from peakmatch_xcorr_spark.operators.merge import delete_rows

    t = WarehouseTable(wh, "evodel")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    t.append(spark.createDataFrame([(3, 3.0, "x")], "k long, v double, tag string"))
    delete_rows(t, spark, spark.createDataFrame([(2,)], "k long"), ["k"])
    out = t.read(spark)
    assert [f.name for f in out.schema] == ["k", "v", "tag"]
    got = {r["k"]: r["tag"] for r in out.collect()}
    assert got == {1: None, 3: "x"}


def test_merge_can_evolve_schema(spark, wh):
    from peakmatch_xcorr_spark.operators.merge import merge_upsert

    t = WarehouseTable(wh, "evomerge")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    merge_upsert(
        t, spark,
        spark.createDataFrame([(2, 20.0, "new")], "k long, v double, tag string"),
        ["k"],
    )
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read(spark).collect()}
    assert got == {1: (1.0, None), 2: (20.0, "new")}


def test_delete_then_expire_physically_purges(spark, wh):
    """Right-to-be-forgotten END state: delete_rows removes the rows
    from the current view, and expire_snapshots past that commit
    removes the pre-delete data files from DISK — no retained
    snapshot can resurrect the purged rows."""
    from pyspark.sql import functions as F

    from peakmatch_xcorr_spark.operators.merge import delete_rows

    t = WarehouseTable(wh, "gdpr")
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 5.0).alias("v")
    )
    t.append(base.repartitionByRange(4, "k"))
    pre_files = {f["path"] for f in t.snapshot(t.current_version()).files}
    delete_rows(
        t, spark, spark.createDataFrame([(i,) for i in range(100, 120)], "k long"),
        ["k"],
    )
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"] == 1 and res["deleted_files"] >= 1
    survivors = {f["path"] for f in t.snapshot(t.current_version()).files}
    for p in pre_files - survivors:
        assert not os.path.exists(os.path.join(t.data_dir, p))
    assert t.read(spark).count() == 980
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)  # pre-delete snapshot is gone, not just dangling


def test_count_rows_metadata_only_and_versions(spark, wh):
    t = WarehouseTable(wh, "counts")
    d1, d2, full = _split_df(spark, 1500)
    t.append(d1)
    t.append(d2)
    assert t.count_rows(version=1) == d1.count()
    assert t.count_rows() == full.count()


def test_rollback_restores_old_view_as_new_version(spark, wh):
    from pyspark.sql import functions as F

    t = WarehouseTable(wh, "rb")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"))
    t.overwrite(spark.createDataFrame([(9, "oops")], "k long, s string"))
    snap = t.rollback(1)
    assert snap.operation == "rollback" and snap.version == 3
    got = {r["k"] for r in t.read(spark).collect()}
    assert got == {1, 2}
    # history preserved: the bad commit is still readable
    assert t.read(spark, version=2).first()["s"] == "oops"
    # rollback restores the old SCHEMA too
    t.append(spark.createDataFrame([(3, "c", 1.5)], "k long, s string, x double"))
    t.rollback(3)
    assert [f.name for f in t.read(spark).schema] == ["k", "s"]


def test_rollback_past_expiry_fails_loudly(spark, wh):
    t = WarehouseTable(wh, "rbx")
    t.overwrite(spark.createDataFrame([(1,)], "k long"))
    t.overwrite(spark.createDataFrame([(2,)], "k long"))
    t.overwrite(spark.createDataFrame([(3,)], "k long"))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.rollback(1)


def test_remove_orphans_sweeps_uncommitted_writes_only(spark, wh):
    import time as _time

    t = WarehouseTable(wh, "orphaned")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    committed = {f["path"] for f in t.snapshot(t.current_version()).files}
    # simulate a writer that died between write and commit
    orphan_files = t._write_data(
        spark.createDataFrame([(9, 9.0)], "k long, v double")
    )
    assert orphan_files
    # fresh orphan is protected by the age gate
    assert t.remove_orphans(older_than_s=3600)["orphans_deleted"] == 0
    # age the orphan dir's files past the gate
    old = _time.time() - 7200
    for f in orphan_files:
        full = os.path.join(t.data_dir, f["path"])
        os.utime(full, (old, old))
        d = os.path.dirname(full)
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (old, old))
    res = t.remove_orphans(older_than_s=3600)
    assert res["orphans_deleted"] == len(orphan_files)
    for f in orphan_files:
        assert not os.path.exists(os.path.join(t.data_dir, f["path"]))
    # committed data untouched and readable
    for p in committed:
        assert os.path.exists(os.path.join(t.data_dir, p))
    assert t.read(spark).count() == 2
    # idempotent
    assert t.remove_orphans(older_than_s=3600)["orphans_deleted"] == 0


def test_load_reference_conf_parses_real_reference_file():
    """The loader must swallow a reference-format xcorr.conf (every key
    either mapped or a declared extra).  The checked-in fixture carries
    the keys and values the survey documents for the reference file."""
    from pathlib import Path

    from peakmatch_xcorr_spark.config import load_reference_conf

    mode, conf, extras = load_reference_conf(
        str(Path(__file__).parent / "data" / "xcorr.conf")
    )
    assert mode == "PLOT1D"
    assert conf.peakmatch.expected_len == 4000
    assert conf.peakmatch.candidate_threshold == 0.55
    assert conf.peakmatch.crop is False
    assert conf.peakmatch.crop_min_peak_range == 250
    assert conf.spectral.sample_rate == 50
    assert conf.spectral.band_width == 0.25
    assert conf.spectral.mean_amplitude_bands == (
        (1.0, 5.0), (5.0, 8.5), (8.5, 10.0),
    )
    assert conf.cluster.k == 10 and conf.cluster.eta == 0.15
    assert extras["threads"] == "2"


def test_changelog_nets_rows_across_append_delete_merge(spark, wh):
    """changelog(v_from, v_to) must equal the brute-force net diff of
    the two full table reads (exceptAll both ways) across every
    operation type — and read only churned files, never carried ones."""
    from peakmatch_xcorr_spark.operators.merge import delete_rows, merge_upsert

    t = WarehouseTable(wh, "cdc")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0), (2, 2.0)], "k long, v double"))
    v1 = t.current_version()
    t.append(spark.createDataFrame([(3, 3.0)], "k long, v double"))
    v2 = t.current_version()
    delete_rows(t, spark, spark.createDataFrame([(2,)], "k long"), ["k"])
    v3 = t.current_version()
    merge_upsert(
        t, spark, spark.createDataFrame([(1, 10.0), (4, 4.0)], "k long, v double"), ["k"]
    )
    v4 = t.current_version()

    def brute(a, b):
        fa, fb = t.read(spark, version=a), t.read(spark, version=b)
        ins = {(r.k, r.v) for r in fb.exceptAll(fa).collect()}
        del_ = {(r.k, r.v) for r in fa.exceptAll(fb).collect()}
        return ins, del_

    for a, b in [(v1, v2), (v2, v3), (v3, v4), (v1, v4)]:
        got = t.changelog(spark, a, b).collect()
        ins = {(r.k, r.v) for r in got if r._change_type == "insert"}
        del_ = {(r.k, r.v) for r in got if r._change_type == "delete"}
        assert (ins, del_) == brute(a, b), (a, b)

    # append-only hop: delete side must be empty and inserts exact
    cl = t.changelog(spark, v1, v2).collect()
    assert {r._change_type for r in cl} == {"insert"}
    assert {(r.k, r.v) for r in cl} == {(3, 3.0)}

    # whole-history: from_version=None reports v as all inserts
    all_ins = t.changelog(spark, None, v1).collect()
    assert all(r._change_type == "insert" for r in all_ins)
    assert len(all_ins) == 3  # duplicate row appears twice (multiset)


def test_changelog_no_churn_is_empty(spark, wh):
    t = WarehouseTable(wh, "cdcflat")
    t.append(spark.createDataFrame([(1, 1.0)], "k long, v double"))
    v1 = t.current_version()
    assert t.changelog(spark, v1, v1).count() == 0


def test_changelog_across_schema_evolution(spark, wh):
    """Rows from pre-evolution files must align (null-filled) under
    the to-version schema instead of failing the exceptAll."""
    from peakmatch_xcorr_spark.operators.merge import delete_rows

    t = WarehouseTable(wh, "cdcevo")
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    v1 = t.current_version()
    t.append(spark.createDataFrame([(3, 3.0, "x")], "k long, v double, tag string"))
    delete_rows(t, spark, spark.createDataFrame([(2,)], "k long"), ["k"])
    v3 = t.current_version()
    got = t.changelog(spark, v1, v3).collect()
    ins = {(r.k, r.tag) for r in got if r._change_type == "insert"}
    del_ = {(r.k, r.tag) for r in got if r._change_type == "delete"}
    assert ins == {(3, "x")}
    assert del_ == {(2, None)}


# ------------------------------------------------- real-time aggregate view


def _rt_pandas(df):
    return (
        df.select("conv_id", "bucket_start", "turns")
        .toPandas()
        .sort_values(["conv_id", "bucket_start"])
        .reset_index(drop=True)
    )


def test_real_time_view_sees_unrefreshed_tail(spark, wh):
    """Materialize tiers on a prefix, append more raw WITHOUT
    refreshing: real_time must equal recompute-from-all-raw at every
    tier width, while the committed tier itself still lags."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)
    assert agg.refresh(spark)["status"] == "refreshed"
    src.append(d2)  # tail the tier has not absorbed

    for tn, bucket in zip(("1m", "1h", "1d"), ("1 minute", "1 hour", "1 day")):
        exp = _rt_pandas(tumbling_rollup(full, ["conv_id"], "ts", None, bucket))
        got = _rt_pandas(agg.real_time(spark, tn))
        assert got.equals(exp), tn
    # the committed tier still reflects only the prefix
    lag = _rt_pandas(agg.tier_tables["1h"].read(spark))
    exp_prefix = _rt_pandas(tumbling_rollup(d1, ["conv_id"], "ts", None, "1 hour"))
    assert lag.equals(exp_prefix)


def test_real_time_view_up_to_date_is_tier_exactly(spark, wh):
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)
    src.append(d2)
    assert agg.refresh(spark)["status"] == "refreshed"
    got = _rt_pandas(agg.real_time(spark, "1h"))
    exp = _rt_pandas(tumbling_rollup(full, ["conv_id"], "ts", None, "1 hour"))
    assert got.equals(exp)


def test_real_time_view_never_refreshed_full_rollup(spark, wh):
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)
    src.append(d2)
    got = _rt_pandas(agg.real_time(spark, "1m"))
    exp = _rt_pandas(tumbling_rollup(full, ["conv_id"], "ts", None, "1 minute"))
    assert got.equals(exp)


def test_real_time_view_falls_back_after_compaction(spark, wh):
    """A source overwrite breaks the append-only diff chain: the view
    must demote to a full on-the-fly rollup, never double-count."""
    d1, d2, full = _split_df(spark, 1200)
    src = WarehouseTable(wh, "transcripts")
    agg = ContinuousAggregate(wh, src, keys=["conv_id"], ts_col="ts", value_col=None)
    src.append(d1)
    assert agg.refresh(spark)["status"] == "refreshed"
    # rewrite the WHOLE source (compaction shape: same rows + tail)
    src.overwrite(full)
    assert not src.incremental_ok(1, src.current_version())
    got = _rt_pandas(agg.real_time(spark, "1h"))
    exp = _rt_pandas(tumbling_rollup(full, ["conv_id"], "ts", None, "1 hour"))
    assert got.equals(exp)


def test_history_reflects_chain_without_reading_data(spark, tmp_path):
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    t = WarehouseTable(str(tmp_path), "h")
    df = spark.range(10).withColumnRenamed("id", "conv_id")
    t.append(df, job_id="a")
    t.append(df, job_id="b")
    t.overwrite(df.limit(3), job_id="c")
    hist = {r["version"]: r for r in t.history(spark).collect()}
    assert [hist[v]["operation"] for v in (1, 2, 3)] == [
        "append", "append", "overwrite"
    ]
    assert hist[1]["parent"] is None and hist[3]["parent"] == 2
    assert hist[1]["live_rows"] == 10
    assert hist[2]["live_rows"] == 20
    assert hist[3]["live_rows"] == 3
    assert [hist[v]["job_id"] for v in (1, 2, 3)] == ["a", "b", "c"]
