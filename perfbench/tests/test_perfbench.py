"""Tests of the benchmark's own machinery.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]


@pytest.fixture(scope="module")
def spark():
    from peakmatch_xcorr_spark.session import get_spark

    return get_spark(4, app_name="perfbench-tests")


@pytest.fixture(scope="module")
def transcripts(spark):
    from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts

    pdf = generate_transcripts(
        SynthConf(n_convs=200, curve_len=1440, n_dup_pairs=0, giant_conv=False, seed=5)
    ).transcripts
    df = spark.createDataFrame(pdf).repartition(8).localCheckpoint()
    df.count()
    return df


def test_lazily_checkpointed_cascade_is_charged_to_its_span(spark, transcripts):
    """``rollup_cascade`` checkpoints each tier lazily, and adaptive
    execution runs the tier shuffles inside that call, before any
    action on the tiers.  A collector scoped to the job group of the
    actions (``metrics.measure_job`` wrapped around the tier counts)
    sees only the final global sums: a few hundred shuffle bytes and
    near-zero core-seconds.  A span must carry the cascade's work: at
    least the shuffle and half the core time of a plain, uncheckpointed
    1m rollup of the same rows."""
    from peakmatch_xcorr_spark.operators.rollup import rollup_cascade, tumbling_rollup
    from spans import Tracer
    from workloads import TIERS, tier_turns

    tr = Tracer(4, True)
    tr.attach(spark)
    with tr.span("plain") as plain:
        tumbling_rollup(transcripts, ["conv_id"], "ts", None, "1 minute").count()
    with tr.span("rollup") as rollup:
        tiers = rollup_cascade(transcripts, ["conv_id"], "ts", None, TIERS)
        for t in tiers.values():
            tier_turns(t)
    tr.flush()
    assert plain["shuffle_bytes"] > 0 and plain["core_s"] > 0
    assert rollup["shuffle_bytes"] >= plain["shuffle_bytes"]
    assert rollup["core_s"] >= 0.5 * plain["core_s"]
    assert rollup["stages"] >= 3
    # re-reading the materialized tiers runs no tier shuffle again (only
    # the global sum's few-hundred-byte exchange): each stage is charged
    # once, to the span in which it was submitted
    with tr.span("reread") as reread:
        for t in tiers.values():
            tier_turns(t)
    tr.flush()
    assert reread["shuffle_bytes"] < 0.01 * plain["shuffle_bytes"]


def test_idle_slots_are_wall_times_slots_minus_busy(spark):
    from spans import Tracer

    tr = Tracer(4, True)
    tr.attach(spark)
    with tr.span("arrow") as rec:
        spark.range(0, 4, 1, 4).count()
    tr.flush()
    assert rec["jobs"] >= 1 and rec["tasks"] >= 4
    assert rec["idle_slot_s"] == pytest.approx(rec["s"] * 4 - rec["core_s"])


def test_contract_names_every_metric_the_benchmark_emits():
    from run import per_layer_names

    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in contract["per_layer"]] == per_layer_names()
    e2e = [m["name"] for m in contract["end_to_end"]]
    assert "setup_s" in e2e
    assert max(m["bound"] for m in contract["end_to_end"]) == next(
        m["bound"] for m in contract["end_to_end"] if m["name"] == "setup_s"
    )


def test_tree_rss_counts_child_processes():
    """The peak covers forked children, which ``ru_maxrss`` misses."""
    import os

    from procs import tree_rss_bytes

    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; b = b'x' * (300 << 20); print('ready', flush=True); sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        alone = tree_rss_bytes(child.pid)
        assert alone >= 300 << 20
        assert tree_rss_bytes(os.getpid()) >= alone
    finally:
        child.communicate("", timeout=10)
    assert child.returncode == 0


def test_a_one_sample_memory_spike_is_not_the_peak(monkeypatch):
    """A process that still shares the JVM's address space is seen by
    one sample at most; the peak is the level two samples agree on."""
    import procs

    levels = iter([100, 100, 900, 100, 120, 130])
    monkeypatch.setattr(procs, "tree_rss_bytes", lambda pid: next(levels))
    rss = procs.PeakRss()
    for _ in range(6):
        rss._sample()
    assert rss.peak == 120


def test_process_age_counts_from_process_start():
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, time; sys.path.insert(0, sys.argv[1]); time.sleep(0.5); "
         "from procs import process_age_s; print(process_age_s())", str(BENCH)],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    assert 0.5 <= float(out.stdout) < 5


def test_missed_planted_pairs_fail_the_check(spark):
    """The dedup_scan recall check: planted pairs the reference kernels
    accept must all be found, and none they reject."""
    from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts
    from workloads import engine_conf, feature_arrays, planted_pair_errors

    res = generate_transcripts(
        SynthConf(n_convs=30, curve_len=256, n_dup_pairs=6, giant_conv=False, seed=11)
    )
    conf = engine_conf()
    df = spark.createDataFrame(res.transcripts)
    planted = {tuple(sorted(p)) for p in res.dup_pairs}
    feats = feature_arrays(df, conf, {c for p in planted for c in p})
    missed_all = planted_pair_errors(conf.peakmatch, feats, planted, set())
    # with nothing found, the errors name every pair the reference accepts
    accepted = {p for p in planted if any(f"{p[0]}~{p[1]} " in e for e in missed_all)}
    assert accepted and all("missed" in e for e in missed_all)
    assert planted_pair_errors(conf.peakmatch, feats, planted, planted - accepted) != []
    assert planted_pair_errors(conf.peakmatch, feats, planted, set(accepted)) == []


def test_inputs_are_a_function_of_shape_and_seed(tmp_path):
    import pandas as pd

    from inputs import Shape, ensure_inputs, fingerprint

    shape = Shape(n_convs=5, curve_len=64, n_dup_pairs=1, n_batches=1, batch_len=30)
    a_dir, a_meta, a_gen = ensure_inputs(tmp_path / "a", "w", shape, 7)
    b_dir, b_meta, _ = ensure_inputs(tmp_path / "b", "w", shape, 7)
    _, _, again = ensure_inputs(tmp_path / "a", "w", shape, 7)
    assert a_gen > 0 and again == 0.0  # second call is a cache hit
    assert a_meta == b_meta
    for name in ("base.parquet", "batch000.parquet"):
        pd.testing.assert_frame_equal(
            pd.read_parquet(a_dir / name), pd.read_parquet(b_dir / name)
        )
    assert fingerprint("w", shape, 7) != fingerprint("w", shape, 8)
    # the batch starts where the base ends
    base_end = pd.read_parquet(a_dir / "base.parquet")["ts"].max()
    assert pd.read_parquet(a_dir / "batch000.parquet")["ts"].min() > base_end


def test_ingest_refresh_tiers_equal_a_from_scratch_cascade(spark, tmp_path):
    """The workload's own aggregate: a day-long base load, then a
    six-hour cycle that cuts the 1m tier at its horizon.  Every tier
    check passes, so no ingest_refresh operation fails by design."""
    import pandas as pd

    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable
    from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts
    from workloads import RETENTION_S, continuous_aggregate, tiers_vs_scratch

    base = generate_transcripts(
        SynthConf(n_convs=8, curve_len=1440, n_dup_pairs=0, giant_conv=False, seed=3)
    ).transcripts
    batch = base[base["ts"] < base["ts"].min() + pd.Timedelta(hours=6)].copy()
    batch["ts"] = batch["ts"] + pd.Timedelta(days=1)
    assert batch["ts"].max() - base["ts"].min() > pd.Timedelta(seconds=RETENTION_S[0])
    src = WarehouseTable(str(tmp_path), "transcripts")
    agg = continuous_aggregate(str(tmp_path), src)
    for pdf in (base, batch):
        src.append(spark.createDataFrame(pdf))
        assert agg.refresh(spark)["status"] == "refreshed"
    assert dict(tiers_vs_scratch(spark, src, agg)) == {
        "tiers_vs_scratch_1m": [], "tiers_vs_scratch_1h": [], "tiers_vs_scratch_1d": [],
    }


@pytest.fixture(scope="module")
def base_load_checks(spark, tmp_path_factory):
    """The ingest_refresh tier checks on a small base load: a day of
    turns, refreshed once into tiers whose 1m horizon is 12 hours."""
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable
    from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts
    from workloads import continuous_aggregate, tiers_vs_scratch

    wh = str(tmp_path_factory.mktemp("wh"))
    pdf = generate_transcripts(
        SynthConf(n_convs=8, curve_len=1440, n_dup_pairs=0, giant_conv=False, seed=3)
    ).transcripts
    src = WarehouseTable(wh, "transcripts")
    src.append(spark.createDataFrame(pdf))
    agg = continuous_aggregate(wh, src, retention_s=(12 * 3600, 3 * 86400, None))
    agg.refresh(spark)
    return dict(tiers_vs_scratch(spark, src, agg))


def test_bulk_base_load_1m_tier_equals_a_from_scratch_cascade(base_load_checks):
    assert base_load_checks["tiers_vs_scratch_1m"] == []


@pytest.mark.xfail(
    strict=True,
    reason="the first refresh builds the 1h and 1d tiers from the 1m tier "
    "after its retention cut, so a base load longer than the 1m horizon "
    "loses coarse buckets and leaves a partial one at the cut",
)
@pytest.mark.parametrize("tier", ["1h", "1d"])
def test_bulk_base_load_coarse_tier_equals_a_from_scratch_cascade(base_load_checks, tier):
    assert base_load_checks[f"tiers_vs_scratch_{tier}"] == []
