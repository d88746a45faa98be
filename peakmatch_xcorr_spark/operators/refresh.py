"""Incremental continuous-aggregate refresh driven by snapshot diffs.

The engine's equivalent of the reference's resume-from-files phase
design (XCorrProcessor.java:36-40: each phase reads the previous
phase's file and appends its own; AnalyseProcessor.java:190-257:
xcorr.saved computes only missing pairs).  Here:

- the source table is a snapshot chain (sources/warehouse.py);
- tier 1m is refreshed by rolling up ONLY the files added since the
  last processed snapshot and merging decomposable stats
  (count/sum/min/max; avg re-derived) into the existing tier;
- coarser tiers recompute ONLY the coarse buckets touched by the
  source diff since each tier's OWN recorded source version
  (semi-join on affected buckets; untouched rows carried over with an
  anti-join) — the source's append-only snapshot chain is the one
  record of what a tier has yet to absorb;
- every tier commit writes a snapshot with metrics, and a job
  checkpoint manifest marks the phase done against the source
  version — a killed job restarted mid-cascade skips committed
  phases and produces identical output (tested).

At 100 TB this means a day's ingest refreshes the tiers touching only
that day's buckets, never rescanning history.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.operators.rollup import (
    _reaggregate,
    bucket_seconds,
    cascade_tier,
    ensure_vcount,
    tumbling_rollup,
)
from peakmatch_xcorr_spark.sources.warehouse import JobCheckpoint, WarehouseTable

_EPOCH = datetime.datetime(1970, 1, 1)

# sentinel: the source diff is readable but added no files (no-op)
_EMPTY_DELTA = object()


def _floor_bucket(dt: datetime.datetime, bucket: str) -> datetime.datetime:
    """Floor a (naive UTC) timestamp to the tumbling-bucket start,
    matching F.window alignment for '1 minute'/'1 hour'/'1 day'."""
    step = bucket_seconds(bucket)
    sec = int((dt - _EPOCH).total_seconds()) // step * step
    return _EPOCH + datetime.timedelta(seconds=sec)


def _parse_bound_ts(v) -> datetime.datetime | None:
    """Manifest bound → naive-UTC datetime.  TIMESTAMP (instant)
    columns serialize tz-aware; TIMESTAMP_NTZ serialize naive — the
    session TZ is pinned UTC, so both normalize to naive UTC."""
    if isinstance(v, str):
        try:
            dt = datetime.datetime.fromisoformat(v)
        except ValueError:
            return None
        if dt.tzinfo is not None:
            dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return dt
    return None


def merge_rollups(existing: DataFrame | None, delta: DataFrame, keys: list[str], has_values: bool) -> DataFrame:
    """Merge two rollups of the same tier: decomposable re-aggregation."""
    if existing is None:
        return delta
    cols = [*keys, "bucket_start", "turns"] + (
        ["vcount", "vsum", "vmin", "vmax", "vavg"] if has_values else []
    )
    if has_values:
        existing = ensure_vcount(existing)  # pre-vcount tier migration
        delta = ensure_vcount(delta)
    u = existing.select(*cols).unionByName(delta.select(*cols))
    return _reaggregate(u, keys, has_values)


def _split_tier_files(
    table: WarehouseTable,
    affected_vals: list[datetime.datetime],
    cutoff: datetime.datetime | None,
) -> tuple[list[str], list[str], list[str]] | None:
    """File-level copy-on-write pruning: partition the tier's
    current files into (carried, rewrite, dropped) using manifest
    bucket_start bounds.  A file is REWRITTEN only when its bucket
    range contains an affected bucket or straddles the retention
    cutoff; fully-expired files are DROPPED (metadata-only); the
    rest are carried verbatim — refresh cost ∝ delta, not tier.

    Returns None when any live file lacks bounds (legacy manifest)
    — the caller must fall back to a full read + overwrite."""
    import bisect

    files = table.snapshot(table.current_version()).files
    carried: list[str] = []
    rewrite: list[str] = []
    dropped: list[str] = []
    for f in files:
        if f.get("rows", 1) == 0:
            dropped.append(f["path"])
            continue
        b = f.get("bounds", {}).get("bucket_start")
        mn = _parse_bound_ts(b[0]) if b else None
        mx = _parse_bound_ts(b[1]) if b else None
        if mn is None or mx is None:
            return None
        if cutoff is not None and mx < cutoff:
            dropped.append(f["path"])
            continue
        i = bisect.bisect_left(affected_vals, mn)
        touches = i < len(affected_vals) and affected_vals[i] <= mx
        if touches or (cutoff is not None and mn < cutoff):
            rewrite.append(f["path"])
        else:
            carried.append(f["path"])
    return carried, rewrite, dropped


class ContinuousAggregate:
    """Rollup cascade materialized into warehouse tables with
    snapshot-diff incremental refresh and phase checkpoints."""

    def __init__(
        self,
        warehouse_root: str,
        source: WarehouseTable,
        keys: list[str],
        ts_col: str = "ts",
        value_col: str | None = None,
        tiers: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
        tier_names: tuple[str, ...] = ("1m", "1h", "1d"),
        name: str = "rollup",
        retention_s: tuple[int | None, ...] | None = None,
        pack_tiers: tuple[str, ...] = (),
        tier_write_partitions: int = 8,
    ):
        self.root = warehouse_root
        self.source = source
        self.keys = keys
        self.ts_col = ts_col
        self.value_col = value_col
        self.tiers = tiers
        self.tier_names = tier_names
        self.name = name
        self.retention_s = retention_s or (None,) * len(tier_names)
        self.pack_tiers = pack_tiers
        self.tier_write_partitions = tier_write_partitions
        self.tier_tables = {
            tn: WarehouseTable(warehouse_root, f"{name}_{tn}")
            for tn in tier_names
        }
        self.packed_tables = {
            tn: WarehouseTable(warehouse_root, f"{name}_{tn}_packed")
            for tn in pack_tiers
        }

    def _apply_retention(
        self, tier_df: DataFrame, idx: int,
        hi_hint: datetime.datetime | None = None,
    ) -> DataFrame:
        """Event-time retention: drop buckets older than the horizon
        behind the tier's max bucket (deterministic — no wall clock).

        ``hi_hint`` is the max bucket derived from manifest column
        bounds — when provided, retention costs zero Spark jobs; the
        collect is only the legacy-manifest fallback."""
        horizon = self.retention_s[idx]
        if horizon is None:
            return tier_df
        hi = hi_hint
        if hi is None:
            hi = tier_df.agg(F.max("bucket_start").alias("hi")).collect()[0]["hi"]
        if hi is None:
            return tier_df
        cutoff = hi - datetime.timedelta(seconds=horizon)
        return tier_df.filter(F.col("bucket_start") >= F.lit(cutoff))

    def _tier_manifest_hi(self, tn: str) -> datetime.datetime | None:
        """Max bucket_start of a committed tier, from manifest bounds."""
        t = self.tier_tables[tn]
        if t.current_version() is None:
            return None
        return _parse_bound_ts(t.manifest_column_max("bucket_start"))

    def _source_delta_hi(
        self, prev_v: int | None, src_v: int
    ) -> datetime.datetime | None:
        """Max fine bucket touched by the (prev_v, src_v] source delta,
        from the source manifest's per-file ts bounds.  None → caller
        falls back to a scan (legacy manifests without bounds)."""
        added = set(self.source.diff_files(prev_v, src_v))
        by_path = {f["path"]: f for f in self.source.snapshot(src_v).files}
        vals = []
        for p in added:
            f = by_path.get(p, {})
            if f.get("rows", 1) == 0:
                continue
            b = f.get("bounds", {}).get(self.ts_col)
            ts = _parse_bound_ts(b[1]) if b else None
            if ts is None:
                return None
            vals.append(ts)
        if not vals:
            return None
        return _floor_bucket(max(vals), self.tiers[0])

    def _affected_buckets(
        self, spark: SparkSession, tier_src_v: int | None, src_v: int,
        bucket: str,
    ):
        """Distinct (*keys, bucket_start) at ``bucket`` touched by the
        source rows a tier recorded at ``tier_src_v`` has yet to absorb:
        the source's own snapshot diff (tier_src_v, src_v], windowed
        straight to the tier's bucket (tumbling windows nest, so this
        equals windowing the finest tier's buckets up).

        Returns ``_EMPTY_DELTA`` when the diff adds no files, or None
        when no append-only chain of readable manifests reaches back to
        ``tier_src_v`` — callers must then recompute the tier in full."""
        if tier_src_v is None or not self.source.incremental_ok(tier_src_v, src_v):
            return None
        raw = self.source.read_diff(spark, tier_src_v, src_v)
        if raw is None:
            return _EMPTY_DELTA
        return raw.select(
            *self.keys,
            F.window(self.ts_col, bucket)["start"].alias("bucket_start"),
        ).distinct()

    # above this many distinct affected buckets, COW bookkeeping (a
    # driver collect + forced broadcast) costs more than it saves — the
    # delta is a backfill touching most of history, and the honest plan
    # is a full recompute/overwrite
    max_affected_buckets: int = 200_000

    def _collect_bucket_vals(self, df: DataFrame) -> list[datetime.datetime] | None:
        """Distinct affected bucket values, driver-side (small: the
        recent window touched by a delta), for manifest file pruning.
        Returns None when the set exceeds ``max_affected_buckets`` —
        callers must fall back to the full recompute/overwrite path
        (the limit bounds driver memory; a backfill-sized delta would
        rewrite every file regardless).

        Collected as epoch MICROS, not timestamps: PySpark converts
        TimestampType to naive OS-local datetimes on collect(), which
        silently disagrees with the naive-UTC manifest bounds on any
        non-UTC driver — files would be misclassified as carried and
        stale rows would duplicate recomputed buckets."""
        rows = (
            df.select(
                F.unix_micros(F.col("bucket_start").cast("timestamp")).alias("us")
            )
            .distinct()
            .limit(self.max_affected_buckets + 1)
            .collect()
        )
        if len(rows) > self.max_affected_buckets:
            return None
        return sorted(
            _EPOCH + datetime.timedelta(microseconds=r["us"]) for r in rows
        )

    def _cutoff(
        self, idx: int, hi: datetime.datetime | None
    ) -> tuple[datetime.datetime | None, bool]:
        """(cutoff, known): retention cutoff for tier idx from a
        manifest-derived max bucket.  known=False means a horizon is
        configured but the max is unavailable — COW can't be used."""
        horizon = self.retention_s[idx]
        if horizon is None:
            return None, True
        if hi is None:
            return None, False
        return hi - datetime.timedelta(seconds=horizon), True

    def _time_clustered(self, df: DataFrame | None) -> DataFrame | None:
        """Range-partition tier writes on bucket_start so data files
        carry NARROW time ranges in their manifest bounds — the
        precondition for file-level copy-on-write (hash-partitioned
        files would each span the full range and every delta would
        rewrite everything).  The TimescaleDB chunk layout, at file
        granularity."""
        if df is None:
            return None
        return df.repartitionByRange(self.tier_write_partitions, "bucket_start")

    def _maybe_pack(self, tn: str, tier_df: DataFrame, src_v: int) -> None:
        if tn not in self.pack_tiers:
            return
        from peakmatch_xcorr_spark.operators.rollup import pack_tier

        # pack on EVERY key: grouping on keys[0] alone would merge
        # rows of different composite keys into one payload run, whose
        # duplicate/non-monotonic timestamps corrupt the DoD stream
        packed = pack_tier(
            tier_df.select(
                *[F.col(k).cast("string").alias(k) for k in self.keys],
                *[c for c in tier_df.columns if c not in self.keys],
            ),
            list(self.keys),
            value_col="vavg" if self.value_col else "turns",
        )
        self.packed_tables[tn].overwrite(
            packed, job_id=f"{self.name}_pack",
            metrics={"source_version": src_v, "tier": tn},
        )

    def _ckpt(self, source_version: int) -> JobCheckpoint:
        return JobCheckpoint(self.root, f"{self.name}_refresh_v{source_version}")

    def last_processed_version(self) -> int | None:
        """Source version the finest tier has fully processed."""
        t0 = self.tier_tables[self.tier_names[0]]
        v = t0.current_version()
        if v is None:
            return None
        return t0.snapshot(v).metrics.get("source_version")

    def refresh(self, spark: SparkSession, fail_after_phase: str | None = None) -> dict:
        """Incrementally refresh all tiers to the source's current
        snapshot.  ``fail_after_phase`` injects a crash for the resume
        test.  Returns per-phase metrics."""
        src_v = self.source.current_version()
        if src_v is None:
            return {"status": "empty-source"}
        ckpt = self._ckpt(src_v)
        has_values = self.value_col is not None
        prev_v = self.last_processed_version()
        if prev_v == src_v and ckpt.phase_done(self.tier_names[-1], src_v):
            return {"status": "up-to-date", "source_version": src_v}

        metrics: dict = {"source_version": src_v}

        # --- finest tier: rollup of the snapshot diff, merged in ---
        tn0 = self.tier_names[0]
        t0 = self.tier_tables[tn0]
        # The file-level diff is only valid over an append-only chain of
        # readable manifests.  A compaction/overwrite rewrites old rows
        # into NEW paths (a path diff would double-count them into the
        # tier), and snapshot expiry can remove prev_v's manifest — both
        # fall back to a full tier rebuild from the current snapshot.
        full_rebuild = prev_v is not None and not self.source.incremental_ok(
            prev_v, src_v
        )
        if not ckpt.phase_done(tn0, src_v):
            if full_rebuild:
                delta_raw = (
                    self.source.read(spark)
                    if self.source.snapshot(src_v).files else None
                )
            else:
                delta_raw = self.source.read_diff(spark, prev_v, src_v)
            existing = (
                None if full_rebuild
                else t0.read(spark) if t0.current_version() is not None
                else None
            )
            if delta_raw is None:
                delta_rolled = None
            else:
                delta_rolled = tumbling_rollup(
                    delta_raw, self.keys, self.ts_col, self.value_col, self.tiers[0]
                )
                # cache only when the file-pruning value collect (COW
                # against an existing tier) reads it besides the merge
                if existing is not None:
                    delta_rolled = delta_rolled.cache()
            if delta_rolled is None:
                merged = existing
            else:
                merged = merge_rollups(existing, delta_rolled, self.keys, has_values)
            if merged is None:
                # no prior tier AND an empty diff: clean no-op phase
                ckpt.mark_done(tn0, src_v, {"tier_version": None, "noop": True})
                metrics[tn0] = {"rows": 0}
            else:
                # max bucket from manifest bounds: no driver-side jobs
                hi_existing = None if full_rebuild else self._tier_manifest_hi(tn0)
                if delta_rolled is None:
                    hi_delta = None
                elif full_rebuild:
                    ts_hi = _parse_bound_ts(
                        self.source.manifest_column_max(self.ts_col, src_v)
                    )
                    hi_delta = (
                        _floor_bucket(ts_hi, self.tiers[0]) if ts_hi else None
                    )
                else:
                    hi_delta = self._source_delta_hi(prev_v, src_v)
                hi_hint = None
                if delta_rolled is None:
                    hi_hint = hi_existing
                elif hi_delta is not None:
                    hi_hint = (
                        max(hi_existing, hi_delta)
                        if hi_existing is not None else hi_delta
                    )
                cutoff, cutoff_known = self._cutoff(0, hi_hint)
                # file-level copy-on-write: rewrite ONLY the tier files
                # whose bucket ranges the delta touches; carry the rest
                split = None
                if (
                    not full_rebuild
                    and existing is not None
                    and delta_rolled is not None
                    and cutoff_known
                    and not (has_values and "vcount" not in existing.columns)
                ):
                    vals = self._collect_bucket_vals(delta_rolled)
                    if vals is not None:  # else backfill-sized: overwrite
                        split = _split_tier_files(t0, vals, cutoff)
                if split is not None:
                    carried, rewrite, _ = split
                    merged_rw = merge_rollups(
                        t0.read_paths(spark, rewrite), delta_rolled,
                        self.keys, has_values,
                    )
                    if cutoff is not None:
                        merged_rw = merged_rw.filter(
                            F.col("bucket_start") >= F.lit(cutoff)
                        )
                    snap = t0.overwrite_with_carried(
                        self._time_clustered(merged_rw), carried,
                        job_id=f"{self.name}_refresh",
                        metrics={"source_version": src_v, "tier": tn0},
                    )
                else:
                    merged = self._apply_retention(merged, 0, hi_hint)
                    snap = t0.overwrite(
                        self._time_clustered(merged), job_id=f"{self.name}_refresh",
                        metrics={"source_version": src_v, "tier": tn0},
                    )
                self._maybe_pack(tn0, t0.read(spark), src_v)
                ckpt.mark_done(tn0, src_v, {"tier_version": snap.version})
                metrics[tn0] = {
                    "rows": snap.metrics.get("rows"),
                    "carried_files": snap.metrics.get("carried_files", 0),
                }
            if delta_rolled is not None:
                # both consumers (value collect, merge) have run; don't
                # leak cache across refreshes
                delta_rolled.unpersist()
            if fail_after_phase == tn0:
                raise RuntimeError(f"injected failure after phase {tn0}")

        # --- coarser tiers: recompute only affected coarse buckets.
        # Each tier reads the source diff since its OWN recorded
        # source_version (a crash between tiers can leave a coarse tier
        # several source versions behind the finest; the diff over the
        # whole range covers every version it missed).
        for i in range(1, len(self.tier_names)):
            tn = self.tier_names[i]
            if ckpt.phase_done(tn, src_v):
                continue
            finer_table = self.tier_tables[self.tier_names[i - 1]]
            if finer_table.current_version() is None:
                # finest tier no-op'd on an empty source: nothing to roll
                ckpt.mark_done(tn, src_v, {"tier_version": None, "noop": True})
                metrics[tn] = {"rows": 0}
                continue
            finer = finer_table.read(spark)
            tier_table = self.tier_tables[tn]
            bucket = self.tiers[i]
            tier_src_v = None
            if tier_table.current_version() is not None:
                tier_src_v = tier_table.snapshot(
                    tier_table.current_version()
                ).metrics.get("source_version")
            affected = self._affected_buckets(spark, tier_src_v, src_v, bucket)
            existing = (
                tier_table.read(spark)
                if tier_table.current_version() is not None
                else None
            )
            legacy_schema = (
                existing is not None and has_values
                and "vcount" not in existing.columns
            )
            if existing is not None and has_values:
                existing = ensure_vcount(existing)  # pre-vcount migration
            # coarse-tier max bucket = finer tier's max, floored — the
            # finer tier committed above, so its manifest bounds are fresh
            hi_finer = self._tier_manifest_hi(self.tier_names[i - 1])
            hi_hint = _floor_bucket(hi_finer, bucket) if hi_finer else None
            cutoff, cutoff_known = self._cutoff(i, hi_hint)

            affected_coarse = None
            recomputed = None
            aff_vals: list | None = None
            if affected not in (None, _EMPTY_DELTA) and existing is not None:
                affected_coarse = affected.cache()
                # bounded checks BEFORE planning the forced broadcast:
                # a backfill-sized delta demotes to a full recompute.
                # BOTH bounds matter — distinct bucket values bound the
                # driver collect for file pruning, and the ROW count
                # bounds the broadcast itself (one coarse bucket across
                # 10M keys is 2 distinct values but a 10M-row set)
                aff_vals = self._collect_bucket_vals(affected_coarse)
                if aff_vals is not None:
                    n_rows = affected_coarse.limit(
                        self.max_affected_buckets + 1
                    ).count()
                    if n_rows > self.max_affected_buckets:
                        aff_vals = None
                if aff_vals is None:
                    affected_coarse.unpersist()
                    affected_coarse = None
                    affected = None
                else:
                    # semi-join the finer tier down to rows inside
                    # affected coarse buckets (broadcast is safe: the
                    # set is at most max_affected_buckets)
                    finer_cb = finer.withColumn(
                        "cb", F.window("bucket_start", bucket)["start"]
                    )
                    recompute_src = finer_cb.join(
                        F.broadcast(
                            affected_coarse.withColumnRenamed("bucket_start", "cb")
                        ),
                        [*self.keys, "cb"],
                        "left_semi",
                    ).drop("cb")
                    recomputed = cascade_tier(
                        recompute_src, self.keys, bucket, has_values
                    )

            # file-level copy-on-write when the delta is known and the
            # manifest has bounds; else full recompute/overwrite
            split = None
            if (
                existing is not None
                and affected is not None
                and cutoff_known
                and not legacy_schema
            ):
                split = _split_tier_files(
                    tier_table,
                    [] if affected is _EMPTY_DELTA else aff_vals,
                    cutoff,
                )

            if split is not None:
                carried, rewrite, _ = split
                existing_rw = tier_table.read_paths(spark, rewrite)
                if existing_rw is not None and has_values:
                    existing_rw = ensure_vcount(existing_rw)
                parts = []
                if existing_rw is not None:
                    if affected_coarse is not None:
                        existing_rw = existing_rw.join(
                            affected_coarse, [*self.keys, "bucket_start"],
                            "left_anti",
                        )
                    parts.append(existing_rw)
                if recomputed is not None:
                    parts.append(recomputed)
                merged_rw = None
                if parts:
                    merged_rw = parts[0]
                    for p in parts[1:]:
                        merged_rw = merged_rw.unionByName(p)
                    if cutoff is not None:
                        merged_rw = merged_rw.filter(
                            F.col("bucket_start") >= F.lit(cutoff)
                        )
                snap = tier_table.overwrite_with_carried(
                    self._time_clustered(merged_rw), carried,
                    job_id=f"{self.name}_refresh",
                    metrics={"source_version": src_v, "tier": tn},
                )
            else:
                if affected is _EMPTY_DELTA and existing is not None:
                    merged = existing
                elif existing is None or affected is None:
                    merged = cascade_tier(finer, self.keys, bucket, has_values)
                else:
                    untouched = existing.join(
                        affected_coarse, [*self.keys, "bucket_start"], "left_anti"
                    )
                    merged = untouched.unionByName(recomputed)
                merged = self._apply_retention(merged, i, hi_hint)
                snap = tier_table.overwrite(
                    self._time_clustered(merged), job_id=f"{self.name}_refresh",
                    metrics={"source_version": src_v, "tier": tn},
                )
            self._maybe_pack(tn, tier_table.read(spark), src_v)
            ckpt.mark_done(tn, src_v, {"tier_version": snap.version})
            metrics[tn] = {
                "rows": snap.metrics.get("rows"),
                "carried_files": snap.metrics.get("carried_files", 0),
            }
            if affected_coarse is not None:
                affected_coarse.unpersist()
            if fail_after_phase == tn:
                raise RuntimeError(f"injected failure after phase {tn}")

        metrics["status"] = "refreshed"
        if full_rebuild:
            metrics["full_rebuild"] = True
        return metrics

    def real_time(self, spark: SparkSession, tier_name: str) -> DataFrame:
        """Real-time continuous aggregate: the materialized tier UNION
        an on-the-fly rollup of source rows the tier has not absorbed
        yet (the snapshot diff ``(last_processed, current]``), merged
        with the same decomposable re-aggregation ``refresh`` uses.

        Purely lazy — no tier commit, no checkpoint writes — so a
        dashboard reading this view always sees current data at the
        cost of rolling up only the unabsorbed tail (TimescaleDB's
        ``materialized_only = false`` semantics).  At 100 TB the tail
        is one refresh interval of raw data, so the view's marginal
        cost is the finest tier's incremental rollup, not a raw rescan:
        the file-level snapshot diff reads only manifests added after
        the tier's recorded ``source_version``.

        Correctness contract: equals ``tumbling_rollup`` recomputed
        from the full raw table (the DuckDB-oracle-checked
        ``realtime_rollup_1h`` query and tests/test_warehouse.py), with
        two documented edges: (a) after a non-incremental source
        rewrite (compaction/overwrite) the view falls back to a full
        on-the-fly rollup — correct, just not cheap until the next
        refresh; (b) a tier with event-time retention reflects the cut
        only on the materialized part, so fresh rows may transiently
        resurrect buckets behind the horizon until the next refresh
        re-trims them.
        """
        idx = self.tier_names.index(tier_name)
        bucket = self.tiers[idx]
        tier = self.tier_tables[tier_name]
        has_values = self.value_col is not None
        cols = [*self.keys, "bucket_start", "turns"] + (
            ["vcount", "vsum", "vmin", "vmax", "vavg"] if has_values else []
        )
        src_v = self.source.current_version()
        if src_v is None:
            if tier.current_version() is None:
                raise ValueError(
                    f"real_time({tier_name!r}): empty source and no tier"
                )
            return ensure_vcount(tier.read(spark)).select(*cols) if has_values \
                else tier.read(spark).select(*cols)
        # THIS tier's own recorded source version, not the finest
        # tier's: a crash mid-cascade leaves coarse tiers behind, and
        # the view must roll up everything the queried tier missed.
        tier_v = tier.current_version()
        prev_v = (
            tier.snapshot(tier_v).metrics.get("source_version")
            if tier_v is not None else None
        )
        materialized = tier.read(spark) if tier_v is not None else None
        if materialized is not None and has_values:
            materialized = ensure_vcount(materialized)
        if prev_v == src_v and materialized is not None:
            return materialized.select(*cols)
        # Tail rollup happens at THIS tier's own bucket width directly
        # from raw — tumbling windows nest exactly (epoch-modulo math),
        # so count-of-counts through the cascade and a direct coarse
        # count agree; tests/test_rollup.py proves the nesting.
        if prev_v is None or not self.source.incremental_ok(prev_v, src_v):
            fresh_raw = self.source.read(spark)
            materialized = None  # full recompute; never double-count
        else:
            fresh_raw = self.source.read_diff(spark, prev_v, src_v)
        if fresh_raw is None:
            if materialized is None:
                raise ValueError(
                    f"real_time({tier_name!r}): no tier and empty source diff"
                )
            return materialized.select(*cols)
        fresh = tumbling_rollup(
            fresh_raw, self.keys, self.ts_col, self.value_col, bucket
        )
        return merge_rollups(materialized, fresh, self.keys, has_values)


def archive_expired(
    spark: SparkSession,
    tier: WarehouseTable,
    sketch: WarehouseTable,
    keys: list[str],
    horizon_s: int,
    pixel_bucket: str = "1 day",
    value_col: str = "vavg",
) -> dict:
    """Downsample-on-expiry: before fine-tier buckets older than
    ``horizon_s`` (behind the tier's max bucket — event time, no wall
    clock) are dropped, append an M4 sketch of them to ``sketch`` so
    the expired range stays renderable at ``pixel_bucket`` resolution
    forever at ~4 rows per (key, pixel).  The TimescaleDB
    "retention policy + continuous aggregate" pairing, with the
    shape-preserving M4 tier as the aggregate.

    Idempotent and crash-resumable with ZERO extra state: the sketch
    table's own manifest max bucket marks what is already archived —
    a rerun after a crash between the sketch append and the expiry
    commit recomputes an empty slice and skips straight to expiry
    (the same no-clobber discipline as the refresh phase checkpoints).
    Expiry itself is the COW split: fully-expired files DROPPED
    metadata-only, straddling files rewritten, the rest carried.

    Backfill note: rows landing below the retention cutoff are dropped
    by the tier refresh's own retention filter before this job could
    see them, so archival never observes a partially-archived pixel
    bucket growing after the fact.
    """
    from peakmatch_xcorr_spark.operators.downsample import m4_downsample

    v = tier.current_version()
    if v is None:
        return {"status": "empty"}
    hi = _parse_bound_ts(tier.manifest_column_max("bucket_start"))
    if hi is None:  # legacy manifest without bounds: one scan
        hi_row = tier.read(spark).agg(F.max("bucket_start").alias("hi")).collect()[0]
        hi = hi_row["hi"]
        if hi is None:
            return {"status": "empty"}
    arch_hi = _floor_bucket(hi - datetime.timedelta(seconds=horizon_s), pixel_bucket)

    prev_end = None
    if sketch.current_version() is not None:
        prev_max = _parse_bound_ts(sketch.manifest_column_max("bucket_start"))
        if prev_max is not None:
            prev_end = prev_max + datetime.timedelta(
                seconds=bucket_seconds(pixel_bucket)
            )

    metrics: dict = {"archived_until": arch_hi.isoformat()}
    if prev_end is None or prev_end < arch_hi:
        expired = tier.read(spark).filter(F.col("bucket_start") < F.lit(arch_hi))
        if prev_end is not None:
            expired = expired.filter(F.col("bucket_start") >= F.lit(prev_end))
        sk = m4_downsample(expired, keys, "bucket_start", value_col, pixel_bucket)
        if sk.isEmpty():
            metrics["sketch_rows_appended"] = 0
        else:
            snap = sketch.append(
                sk, job_id=f"archive_{arch_hi:%Y%m%dT%H%M%S}"
            )
            metrics["sketch_rows_appended"] = snap.metrics.get("rows_appended")
    else:
        metrics["sketch_rows_appended"] = 0  # resume: append already done

    # expiry: COW split on manifest bounds (metadata-only drops)
    split = _split_tier_files(tier, [], arch_hi)
    if split is None:  # legacy manifest without bounds
        kept = tier.read(spark).filter(F.col("bucket_start") >= F.lit(arch_hi))
        tier.overwrite(kept, job_id="archive_expire")
        metrics.update(status="expired_full_rewrite")
        return metrics
    carried, rewrite, dropped = split
    if not dropped and not rewrite:
        metrics.update(status="up-to-date")
        return metrics
    kept_part = tier.read_paths(spark, rewrite)
    if kept_part is not None:
        kept_part = kept_part.filter(F.col("bucket_start") >= F.lit(arch_hi))
    snap = tier.overwrite_with_carried(
        kept_part, carried, job_id="archive_expire",
        metrics={"files_dropped": len(dropped)},
    )
    metrics.update(
        status="expired",
        files_dropped=len(dropped),
        files_rewritten=len(rewrite),
        files_carried=len(carried),
        tier_version=snap.version,
    )
    return metrics
