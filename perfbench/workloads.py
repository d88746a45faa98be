"""The benchmark's workloads, driven through the engine's public API.

Each workload has an untraced operation (what a user runs: a pass over
the staged input, or one append->refresh cycle), untimed warm-up
operations after the cold one, a traced variant that
calls the same layers one public function at a time and materializes
each layer's output inside its span, probes for the layers its
operation does not reach, and output checks.  ``perfbench/README.md``
says why each workload exists and which layers it should move.
"""

from __future__ import annotations

import datetime
import gc
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import numpy as np

from inputs import Shape
from spans import Tracer

SLOTS = 4
KEYS = ["conv_id"]
TIERS = ("1 minute", "1 hour", "1 day")
TIER_NAMES = ("1m", "1h", "1d")
# ingest_refresh retention horizon per tier, in seconds.  The 1m horizon
# covers the day-long base load: a refresh whose delta spans more than
# the 1m horizon builds the coarse tiers from the 1m tier after its
# retention cut and loses coarse buckets (reproduced by the strict
# xfails in tests/test_perfbench.py), and a benchmark operation must
# not fail.  The steady cycles still cut the 1m tier.
RETENTION_S = (86400, 3 * 86400, None)
# conversations per side of the kernels probe's block (pairs = square)
KERNEL_BLOCK = 192
# what untraced operations pass to the layer functions
UNTRACED = Tracer(SLOTS, enabled=False)


def engine_conf():
    from peakmatch_xcorr_spark.config import EngineConf, PeakmatchConf, RollupConf

    return EngineConf(
        peakmatch=PeakmatchConf(expected_len=256),
        rollup=RollupConf(activity_curve_len=256),
    )


@dataclass
class Op:
    """One timed operation: wall seconds, input turns it processed, and
    the output checks it failed."""

    wall_s: float
    turns: int
    failures: list[str] = field(default_factory=list)


Checks = list[tuple[str, list[str]]]  # (check name, failure messages)


# ---------------------------------------------------------------- helpers


def tier_turns(tier) -> int:
    from pyspark.sql import functions as F

    return int(tier.agg(F.sum("turns")).first()[0] or 0)


def comparable(df):
    """(conv_id, bucket start in micros, turns as double) for exact
    comparison of tiers whose column types differ in width or zone."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.unix_micros(F.col("bucket_start").cast("timestamp")).alias("b"),
        F.col("turns").cast("double").alias("turns"),
    )


def difference(got, want) -> str | None:
    """None when the two frames hold the same rows (as multisets)."""
    a, b = comparable(got), comparable(want)
    extra, missing = a.exceptAll(b).count(), b.exceptAll(a).count()
    if extra == missing == 0:
        return None
    return f"{extra} rows only in the result, {missing} only in the oracle"


def gapfilled(tier, bucket: str):
    """LOCF gap fill of a counts-only tier, turns as the packed value."""
    from pyspark.sql import functions as F

    from peakmatch_xcorr_spark.operators.rollup import gap_fill_locf

    return gap_fill_locf(tier, KEYS, bucket, fill_cols=()).withColumn(
        "turns", F.col("turns").cast("double")
    )


def pack_stats(packed) -> tuple[int, int]:
    """(points packed, payload bytes): the action that runs a pack."""
    from pyspark.sql import functions as F

    r = packed.agg(
        F.sum("n_buckets"),
        F.sum(F.length("ts_packed") + F.length("val_packed")),
    ).first()
    return int(r[0] or 0), int(r[1] or 0)


def release(spark, *checkpointed) -> None:
    """Drop every cache and the given lazily checkpointed frames, then
    collect garbage in both processes, so each operation starts from
    the same heap state instead of paying the last one's collection."""
    from peakmatch_xcorr_spark.plans import drop_checkpoint

    spark.catalog.clearCache()
    for df in checkpointed:
        drop_checkpoint(df)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def pack_roundtrip(packed, tier) -> list[str]:
    """``unpack_tier(pack_tier(t))`` must equal ``t`` row for row."""
    from peakmatch_xcorr_spark.operators.rollup import unpack_tier

    diff = difference(unpack_tier(packed, KEYS, value_col="turns"), tier)
    return [f"unpack(pack(t)) != t: {diff}"] if diff else []


def non_min_members(edges: list[tuple[str, str]]) -> set[str]:
    """Every vertex except the minimum of its connected component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


def disk_bytes(dirs: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for d in dirs for root, _, files in os.walk(d) for f in files
    )


# ---------------------------------------------------------------- layers
#
# One public engine call per layer.  Each materializes its output inside
# its span, so the next layer reads a materialized input and every
# stage is charged to the layer that ran it.


def layer_features(tr, conf, transcripts):
    from peakmatch_xcorr_spark.operators.features import conversation_features

    with tr.span("features"):
        feats = conversation_features(
            transcripts, conf.peakmatch,
            bucket=conf.rollup.activity_bucket,
            curve_len=conf.rollup.activity_curve_len,
        ).cache()
        n = feats.count()
    return feats, n


def layer_pairs(tr, conf, feats, n: int):
    from peakmatch_xcorr_spark.operators.pairs import fused_prune_verify
    from peakmatch_xcorr_spark.operators.pipeline import auto_blocks

    with tr.span("pairs"):
        matches = fused_prune_verify(feats, conf.peakmatch, auto_blocks(n)).select(
            "id_a", "id_b", "xcorr"
        ).cache()
        m = matches.count()
    return matches, m


def layer_dedup(tr, transcripts, matches):
    from peakmatch_xcorr_spark.operators.dedup import dedup_transcripts

    with tr.span("dedup"):
        deduped = dedup_transcripts(transcripts, matches).cache()
        kept = deduped.count()
    return deduped, kept


def layer_rollup(tr, df):
    from peakmatch_xcorr_spark.operators.rollup import rollup_cascade

    with tr.span("rollup"):
        tiers = rollup_cascade(df, KEYS, "ts", None, TIERS)
        sums = [tier_turns(t) for t in tiers.values()]
    return tiers, sums


def layer_gapfill(tr, tier, bucket: str):
    with tr.span("gapfill"):
        filled = gapfilled(tier, bucket).cache()
        filled.count()
    return filled


def layer_pack(tr, filled):
    from peakmatch_xcorr_spark.operators.rollup import pack_tier

    with tr.span("pack"):
        packed = pack_tier(filled, KEYS, value_col="turns")
        points, payload = pack_stats(packed)
    return packed, points, payload


def layer_warehouse(tr, table, df) -> dict[str, float]:
    cur = table.current_version()
    before = len(table.snapshot(cur).files) if cur is not None else 0
    with tr.span("warehouse"):
        snap = table.append(df)
    new = snap.files[before:]
    return {
        "warehouse.files_written": float(len(new)),
        "warehouse.bytes_written": float(sum(f.get("bytes", 0) for f in new)),
    }


def layer_refresh(tr, spark, agg) -> tuple[str, dict[str, float]]:
    """Run one refresh; return its status and its phase metrics."""
    with tr.span("refresh"):
        phases = agg.refresh(spark)
    out: dict[str, float] = {}
    for tn in TIER_NAMES:
        p = phases.get(tn) or {}
        out[f"refresh.rows_{tn}"] = float(p.get("rows") or 0)
        out[f"refresh.carried_files_{tn}"] = float(p.get("carried_files") or 0)
    return phases.get("status"), out


def continuous_aggregate(wh: str, source, retention_s=RETENTION_S):
    from peakmatch_xcorr_spark.operators.refresh import ContinuousAggregate

    return ContinuousAggregate(
        wh, source, KEYS, ts_col="ts", value_col=None, tiers=TIERS,
        tier_names=TIER_NAMES, retention_s=retention_s, pack_tiers=("1h",),
    )


# ---------------------------------------------------------------- probes


def probe_kernels(tr, feats) -> dict[str, float]:
    """Time the batched xcorr kernels on a block of the workload's own
    features (numpy in this process, so the span has no Spark counters)."""
    from peakmatch_xcorr_spark.kernels.xcorr_batch import (
        fft_xcorr_block,
        peakmatch_block,
    )

    rows = feats.select(
        "conv_id", "series", "max_peaks", "min_peaks", "above_idx"
    ).orderBy("conv_id").limit(KERNEL_BLOCK).collect()
    series = np.stack([np.asarray(r.series, dtype=np.float64) for r in rows])
    mx = np.stack([np.asarray(r.max_peaks, dtype=np.int64) for r in rows])
    mn = np.stack([np.asarray(r.min_peaks, dtype=np.int64) for r in rows])
    above = [np.asarray(r.above_idx, dtype=np.int64) for r in rows]
    stride = engine_conf().peakmatch.sampling_stride
    pairs = len(rows) ** 2
    with tr.span("kernels", spark_side=False):
        t0 = time.perf_counter()
        peakmatch_block(series, mx, mn, series, mx, mn, above, stride)
        t1 = time.perf_counter()
        fft_xcorr_block(series, series)
        t2 = time.perf_counter()
    return {
        "kernels.peakmatch_us_per_pair": (t1 - t0) / pairs * 1e6,
        "kernels.fft_us_per_pair": (t2 - t1) / pairs * 1e6,
    }


def probe_codecs(tr, tier) -> dict[str, float]:
    """Encode each conversation's run of the workload's tier with the
    columnar delta-of-delta and Gorilla codecs."""
    from peakmatch_xcorr_spark.kernels import codecs

    pdf = tier.select("conv_id", "bucket_start", "turns").toPandas()
    pdf = pdf.sort_values(["conv_id", "bucket_start"], kind="stable")
    ts = pdf["bucket_start"].astype("datetime64[us]").astype("int64").to_numpy()
    vals = pdf["turns"].astype("float64").to_numpy()
    keys = pdf["conv_id"].to_numpy()
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    ends = np.r_[starts[1:], len(keys)]
    nbytes = 0
    with tr.span("codecs", spark_side=False) as rec:
        for s, e in zip(starts, ends):
            nbytes += len(codecs.dod_encode_columnar(ts[s:e]))
            nbytes += len(codecs.gorilla_encode_columnar(vals[s:e]))
    return {
        "codecs.enc_mvals_s": len(vals) / rec["s"] / 1e6,
        "codecs.bytes_per_point": nbytes / max(len(vals), 1),
    }


def probe_arrow(tr, spark) -> None:
    """A no-op mapInPandas over one row per slot: the fixed cost every
    Python stage pays at the Arrow boundary."""

    def noop(batches):
        yield from batches

    with tr.span("arrow"):
        spark.range(0, SLOTS, 1, SLOTS).mapInPandas(noop, "id long").count()


def probe_pairs(conf, feats, n: int, matches: int) -> dict[str, float]:
    """Prune and verify ratios.  ``peakmatch_candidates`` repeats the
    prune, so it runs once per run, outside every span."""
    from peakmatch_xcorr_spark.operators.pairs import peakmatch_candidates
    from peakmatch_xcorr_spark.operators.pipeline import auto_blocks

    cands = peakmatch_candidates(feats, conf.peakmatch, auto_blocks(n)).count()
    considered = n * (n - 1) // 2
    return {
        "pairs.considered": float(considered),
        "pairs.candidates": float(cands),
        "pairs.prune_ratio": cands / max(considered, 1),
        "pairs.verify_yield": matches / max(cands, 1),
    }


def probe_dedup_layers(tr, spark, conf, transcripts) -> dict[str, float]:
    """features -> pairs -> dedup, the pair ratios and the kernels on
    the workload's rows."""
    feats, n = layer_features(tr, conf, transcripts)
    matches, m = layer_pairs(tr, conf, feats, n)
    layer_dedup(tr, transcripts, matches)
    out = probe_pairs(conf, feats, n, m)
    out.update(probe_kernels(tr, feats))
    release(spark)
    return out


def probe_ingest(tr, spark, work: Path, df) -> dict[str, float]:
    """A warehouse append and one refresh of the workload's rows."""
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    wh = str(work / "probe-wh")
    src = WarehouseTable(wh, "transcripts")
    out = layer_warehouse(tr, src, df)
    out.update(layer_refresh(tr, spark, continuous_aggregate(wh, src))[1])
    shutil.rmtree(wh, ignore_errors=True)
    return out


def tiers_vs_scratch(spark, src, agg) -> Checks:
    """Every tier of ``agg`` must equal a from-scratch ``rollup_cascade``
    of all the rows appended to ``src``, cut to the tier's own
    retention horizon: how the rows arrived must not matter.  One check
    per tier, so a fault in one tier does not hide another's."""
    from pyspark.sql import functions as F

    from peakmatch_xcorr_spark.operators.rollup import rollup_cascade

    oracle = rollup_cascade(src.read(spark), KEYS, "ts", None, TIERS)
    checks = []
    for want, tn, horizon in zip(oracle.values(), TIER_NAMES, agg.retention_s):
        if horizon is not None:
            hi = want.agg(F.max("bucket_start")).first()[0]
            cutoff = hi - datetime.timedelta(seconds=horizon)
            want = want.filter(F.col("bucket_start") >= F.lit(cutoff))
        diff = difference(agg.tier_tables[tn].read(spark), want)
        checks.append((f"tiers_vs_scratch_{tn}", [diff] if diff else []))
    release(spark, *oracle.values())
    return checks


def feature_arrays(transcripts, conf, ids: set) -> dict[str, dict]:
    """The engine's features of the given conversations, as the numpy
    arrays the scalar reference kernels take."""
    from pyspark.sql import functions as F

    from peakmatch_xcorr_spark.operators.features import conversation_features

    rows = conversation_features(
        transcripts, conf.peakmatch, bucket=conf.rollup.activity_bucket,
        curve_len=conf.rollup.activity_curve_len,
    ).filter(F.col("conv_id").isin(sorted(ids))).select(
        "conv_id", "series", "max_peaks", "min_peaks", "above_idx"
    ).collect()
    return {
        r.conv_id: {
            "series": np.asarray(r.series, dtype=np.float64),
            **{c: np.asarray(r[c], dtype=np.int64)
               for c in ("max_peaks", "min_peaks", "above_idx")},
        }
        for r in rows
    }


def planted_pair_errors(conf, feats: dict, planted: set, found: set) -> list[str]:
    """Each planted pair must be found exactly when the scalar reference
    kernels accept it: peakmatch score above the candidate threshold
    and exact xcorr above the final threshold.  A pair whose score or
    xcorr lies within 1e-9 of its threshold is not judged, since
    summation order may move it across."""
    from peakmatch_xcorr_spark.kernels.xcorr import fft_xcorr_best, peakmatch_best

    bad = []
    for a, b in sorted(planted):
        fa, fb = feats[a], feats[b]
        score = peakmatch_best(
            conf.sampling_stride, fa["series"], fb["series"], fa["max_peaks"],
            fa["min_peaks"], fb["max_peaks"], fb["min_peaks"], fb["above_idx"],
        )
        xc = fft_xcorr_best(fa["series"], fb["series"])
        margins = (score - conf.candidate_threshold, xc - conf.final_threshold)
        if min(abs(x) for x in margins) < 1e-9:
            continue
        want = min(margins) > 0
        if want != ((a, b) in found):
            bad.append(
                f"planted {a}~{b} (score {score:.4f}, xcorr {xc:.4f}) "
                f"{'missed' if want else 'found but not accepted by the reference'}"
            )
    return bad


# ---------------------------------------------------------------- workloads


class Workload:
    """Subclasses set ``name`` and ``shape`` and implement ``stage``,
    ``run_op``, ``final_checks`` and ``probes``."""

    name = ""
    shape: Shape
    # untimed operations between the cold one and the measured ones, so
    # the measured ones start after the JVM's fastest warm-up
    warmup = 0

    def __init__(self, spark, input_dir: Path, meta: dict, work: Path, tr):
        self.spark = spark
        self.input_dir = input_dir
        self.meta = meta
        self.work = work
        self.tr = tr
        self.conf = engine_conf()
        # per-op samples of per-layer metrics, and per-run results
        # (bytes_per_turn, recall) that are not timings
        self.samples: dict[str, list[float]] = {}
        self.results: dict[str, float] = {}

    def read_input(self):
        return self.spark.read.parquet(str(self.input_dir / "base.parquet"))

    def staged_input(self):
        """The base input, read once and held in executor memory across
        passes (checkpoint blocks survive ``clearCache``)."""
        df = self.read_input().repartition(2 * SLOTS).localCheckpoint()
        df.count()
        return df


class DedupScan(Workload):
    """Short conversations with planted near-duplicate pairs through
    ``dedup_then_rollup``, then a 1h gap fill and pack."""

    name = "dedup_scan"
    shape = Shape(n_convs=700, curve_len=256, n_dup_pairs=60)
    warmup = 1

    def stage(self):
        self.df = self.staged_input()
        self.last: dict[str, Any] = {}

    def run_op(self, traced: bool) -> Op:
        from peakmatch_xcorr_spark.operators.pipeline import dedup_then_rollup
        from peakmatch_xcorr_spark.operators.rollup import pack_tier

        if self.last:
            release(self.spark, *self.last["tiers"].values())
        tr = self.tr
        t0 = time.perf_counter()
        if traced:
            feats, n = layer_features(tr, self.conf, self.df)
            matches, m = layer_pairs(tr, self.conf, feats, n)
            deduped, kept = layer_dedup(tr, self.df, matches)
            tiers, sums = layer_rollup(tr, deduped)
            filled = layer_gapfill(tr, tiers["1 hour"], "1 hour")
            packed, points, payload = layer_pack(tr, filled)
            self.features = (feats, n, m)
        else:
            deduped, tiers = dedup_then_rollup(self.df, self.conf)
            kept = deduped.count()
            sums = [tier_turns(t) for t in tiers.values()]
            filled = gapfilled(tiers["1 hour"], "1 hour")
            packed = pack_tier(filled, KEYS, value_col="turns")
            points, payload = pack_stats(packed)
        wall = time.perf_counter() - t0
        fails = [] if set(sums) == {kept} else [f"tier turn sums {sums} != kept turns {kept}"]
        if points <= 0:
            fails.append("pack emitted no points")
        self.last = {"tiers": tiers, "filled": filled, "packed": packed, "kept": kept}
        self.results["bytes_per_turn"] = payload / self.meta["turns"]
        return Op(wall, self.meta["turns"], fails)

    def final_checks(self) -> Checks:
        from peakmatch_xcorr_spark.kernels.xcorr import fft_xcorr_best
        from peakmatch_xcorr_spark.operators.pipeline import (
            find_duplicate_conversations,
        )

        conf = self.conf
        matches = find_duplicate_conversations(self.df, conf).collect()
        found = {tuple(sorted((r.id_a, r.id_b))) for r in matches}
        planted = {tuple(sorted(p)) for p in self.meta["dup_pairs"]}
        feats = feature_arrays(self.df, conf, {c for p in found | planted for c in p})
        series = {c: f["series"] for c, f in feats.items()}
        bad = []
        for r in matches:
            exact = fft_xcorr_best(series[r.id_a], series[r.id_b])
            if not np.isclose(r.xcorr, exact, rtol=1e-9, atol=1e-12):
                bad.append(f"{r.id_a}~{r.id_b}: xcorr {r.xcorr!r} != {exact!r}")
            if not r.xcorr >= conf.peakmatch.final_threshold:
                bad.append(f"{r.id_a}~{r.id_b}: xcorr {r.xcorr} below threshold")
        self.results["recall"] = len(planted & found) / len(planted)
        # survivors: every turn but those of the non-minimum members of
        # each match component
        drop = non_min_members([(r.id_a, r.id_b) for r in matches])
        want = self.meta["turns"] - sum(self.meta["conv_turns"][c] for c in drop)
        kept = self.last["kept"]
        return [
            ("xcorr_matches", bad),
            ("planted_pairs", planted_pair_errors(conf.peakmatch, feats, planted, found)),
            ("dedup_survivors", [] if kept == want else [f"kept {kept} turns, expected {want}"]),
            ("pack_roundtrip", pack_roundtrip(self.last["packed"], self.last["filled"])),
        ]

    def probes(self) -> dict[str, float]:
        feats, n, m = self.features
        out = probe_pairs(self.conf, feats, n, m)
        out.update(probe_kernels(self.tr, feats))
        out.update(probe_codecs(self.tr, self.last["filled"]))
        probe_arrow(self.tr, self.spark)
        out.update(probe_ingest(self.tr, self.spark, self.work, self.read_input()))
        return out


class RollupBulk(Workload):
    """Dense day-long conversations plus one 30x giant through the
    1m/1h/1d cascade, then a 1m gap fill and pack; no dedup."""

    name = "rollup_bulk"
    shape = Shape(n_convs=400, curve_len=1440, giant_conv=True, burst_count=6)
    warmup = 1

    def stage(self):
        self.df = self.staged_input()
        self.last: dict[str, Any] = {}

    def run_op(self, traced: bool) -> Op:
        from peakmatch_xcorr_spark.operators.rollup import pack_tier, rollup_cascade

        if self.last:
            release(self.spark, *self.last["tiers"].values())
        tr = self.tr
        t0 = time.perf_counter()
        if traced:
            tiers, sums = layer_rollup(tr, self.df)
            filled = layer_gapfill(tr, tiers["1 minute"], "1 minute")
            packed, points, payload = layer_pack(tr, filled)
        else:
            tiers = rollup_cascade(self.df, KEYS, "ts", None, TIERS)
            sums = [tier_turns(t) for t in tiers.values()]
            filled = gapfilled(tiers["1 minute"], "1 minute")
            packed = pack_tier(filled, KEYS, value_col="turns")
            points, payload = pack_stats(packed)
        wall = time.perf_counter() - t0
        turns = self.meta["turns"]
        fails = [] if set(sums) == {turns} else [f"tier turn sums {sums} != input turns {turns}"]
        if points <= 0:
            fails.append("pack emitted no points")
        self.last = {"tiers": tiers, "filled": filled, "packed": packed}
        self.results["bytes_per_turn"] = payload / turns
        return Op(wall, turns, fails)

    def final_checks(self) -> Checks:
        return [("pack_roundtrip", pack_roundtrip(self.last["packed"], self.last["filled"]))]

    def probes(self) -> dict[str, float]:
        out = probe_dedup_layers(self.tr, self.spark, self.conf, self.df)
        out.update(probe_codecs(self.tr, self.last["filled"]))
        probe_arrow(self.tr, self.spark)
        out.update(probe_ingest(self.tr, self.spark, self.work, self.read_input()))
        return out


class IngestRefresh(Workload):
    """A day-long base load, then 6-hour append->refresh cycles into a
    warehouse continuous aggregate with retention and a packed 1h tier.

    The cold operation loads the base; the warm-up cycles stream the
    first batches into the same warehouse.  Each steady cycle then
    appends the next batch to a fresh copy of the warehouse the warm-up
    left behind, so every measured cycle does the same work on the same
    state however many of them fit in the run."""

    name = "ingest_refresh"
    warmup = 2
    shape = Shape(n_convs=150, curve_len=1440, n_batches=warmup + 1, batch_len=360)

    def stage(self):
        self.schema = self.read_input().schema
        self.open(self.work / "wh")
        self.cycles = 0  # append->refresh cycles run, the base load included
        self.warm: Path | None = None  # the warehouse after the warm-up

    def open(self, wh: Path) -> None:
        from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

        self.wh = wh
        self.src = WarehouseTable(str(wh), "transcripts")
        self.agg = continuous_aggregate(str(wh), self.src)

    def run_op(self, traced: bool) -> Op:
        tr = self.tr if traced else UNTRACED
        k = self.cycles - 1  # -1: the base load
        if k >= self.warmup:
            if self.warm is None:
                self.warm = self.wh
            else:
                shutil.rmtree(self.wh)
            copy = self.work / f"wh-{self.cycles}"
            shutil.copytree(self.warm, copy)
            self.open(copy)
            k = self.warmup
        name, turns = (
            ("base.parquet", self.meta["turns"]) if k < 0
            else (f"batch{k:03d}.parquet", self.meta["batch_turns"][k])
        )
        df = self.spark.read.schema(self.schema).parquet(str(self.input_dir / name))
        release(self.spark)
        t0 = time.perf_counter()
        written = layer_warehouse(tr, self.src, df)
        status, phases = layer_refresh(tr, self.spark, self.agg)
        wall = time.perf_counter() - t0
        self.cycles += 1
        if traced:
            for key, v in {**written, **phases}.items():
                self.samples.setdefault(key, []).append(v)
        if k == self.warmup:
            appended = self.meta["turns"] + sum(self.meta["batch_turns"])
            self.results["bytes_per_turn"] = disk_bytes(
                [t.dir for t in self.agg.tier_tables.values()]
                + [t.dir for t in self.agg.packed_tables.values()]
            ) / appended
        fails = [] if status == "refreshed" else [f"refresh status {status!r}"]
        return Op(wall, turns, fails)

    def final_checks(self) -> Checks:
        spark = self.spark
        packed = self.agg.packed_tables["1h"].read(spark)
        return [
            *tiers_vs_scratch(spark, self.src, self.agg),
            ("pack_roundtrip", pack_roundtrip(packed, self.agg.tier_tables["1h"].read(spark))),
        ]

    def probes(self) -> dict[str, float]:
        rows = self.src.read(self.spark).repartition(2 * SLOTS).localCheckpoint()
        rows.count()
        out = probe_dedup_layers(self.tr, self.spark, self.conf, rows)
        tiers, _ = layer_rollup(self.tr, rows)
        layer_pack(self.tr, layer_gapfill(self.tr, tiers["1 hour"], "1 hour"))
        out.update(probe_codecs(self.tr, self.agg.tier_tables["1h"].read(self.spark)))
        probe_arrow(self.tr, self.spark)
        release(self.spark, *tiers.values())
        return out


WORKLOADS = {w.name: w for w in (DedupScan, RollupBulk, IngestRefresh)}
