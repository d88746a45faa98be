"""Pair generation + peakmatch pruning + FFT verification.

The reference's J1 upper-triangular self cross-join
(PeakMatchRunner.java:23-48) fanned one thread per outer event; at
10^8+ conversations the N²/2 pair space must be BLOCKED: every event
is hashed into one of B blocks, each unordered block pair (bi ≤ bj)
becomes one cogroup task, and the peakmatch kernel (K1) runs inside
the task over that block pair's events.  Full coverage: every event
pair lands in exactly one block pair; no pairs are lost (tested
against the literal O(N²) loop).  Parallelism = B·(B+1)/2 tasks;
per-task memory = 2 blocks of features.  Skew of the triangular
workload (the reference's task i has N-i pairs) disappears because
hash blocks are uniform.

PEAKMATCH → candidates (score > candidate-threshold,
PeakMatchRunner.java:39); POSTPROCESS → equi-join candidates to the
persisted FFT table (S10/J2, PostProcessProcessor.java:45-94) and
batch-verify with one vectorized irfft over all pairs in an Arrow
batch (K3, Util.java:92-110); BRUTEFORCE → same join topology with
the exact kernel over all pairs (BruteForceProcessor.java:51-88).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.config import PeakmatchConf
from peakmatch_xcorr_spark.plans.keyed import complete_key_runs, key_runs

PAIR_SCORE_SCHEMA = "id_a string, id_b string, score double"


def _with_block(
    features: DataFrame, n_blocks: int, id_col: str = "conv_id"
) -> DataFrame:
    """Deterministic hash block per event — no global sort, no skew
    (vs. rank-based blocking which would need a total order)."""
    return features.withColumn(
        "block", F.pmod(F.xxhash64(id_col), F.lit(n_blocks)).cast("int")
    )


def _replicated_sides(
    features: DataFrame, n_blocks: int, id_col: str = "conv_id"
) -> tuple[DataFrame, DataFrame]:
    """Left side: event of block b participates in block pairs (b, bj)
    for all bj >= b.  Right side: (bi, b) for all bi <= b.  Every
    unordered block pair is covered exactly once."""
    fb = _with_block(features, n_blocks, id_col)
    blocks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    left = fb.withColumn(
        "bj", F.explode(F.filter(blocks, lambda x: x >= F.col("block")))
    ).withColumnRenamed("block", "bi")
    right = fb.withColumn(
        "bi", F.explode(F.filter(blocks, lambda x: x <= F.col("block")))
    ).withColumnRenamed("block", "bj")
    return left, right


def _empty_pairs(*value_cols: str):
    """Typed empty (id_a, id_b, *value_cols) frame — the zero-row
    return of every cogroup kernel.  Explicit dtypes: pandas types
    fresh empty columns float64/object arbitrarily, and pyarrow
    rejects mistyped empties at the Arrow boundary."""
    import pandas as pd

    d = {"id_a": pd.Series(dtype="object"), "id_b": pd.Series(dtype="object")}
    for c in value_cols:
        d[c] = pd.Series(dtype="float64")
    return pd.DataFrame(d)


def _guard_payload(same: bool, lpdf, rpdf) -> None:
    """Fail loudly if Spark 4.1's ColumnPruning ever strips the
    cogroup payload struct again (non-grouping child columns of a
    cogroup are pruned when downstream references don't name them; the
    single-struct payload survives — tested)."""
    if "p" not in lpdf.columns or (not same and "p" not in rpdf.columns):
        raise RuntimeError("cogroup payload pruned by optimizer")


def _unpack_payload(pdf):
    """Struct payload column -> (ids, series, max_peaks, min_peaks,
    above_idx) in STABLE id order (the kernels' canonical-orientation
    masks assume both sides sorted the same way)."""
    import numpy as np

    p = list(pdf["p"])
    ids = np.array([r["conv_id"] for r in p])
    order = np.argsort(ids, kind="stable")
    return (
        ids[order],
        np.stack([np.asarray(p[i]["series"], dtype=np.float64) for i in order]),
        np.stack([np.asarray(p[i]["max_peaks"], dtype=np.int64) for i in order]),
        np.stack([np.asarray(p[i]["min_peaks"], dtype=np.int64) for i in order]),
        [np.asarray(p[i]["above_idx"], dtype=np.int64) for i in order],
    )


def _grouped_payload(left: DataFrame, right: DataFrame):
    """Pack the feature columns into ONE struct per side and group by
    the block-pair cell (see _guard_payload for why a struct)."""
    cols = ["conv_id", "series", "max_peaks", "min_peaks", "above_idx"]
    payload = F.struct(*cols).alias("p")
    lg = left.select("bi", "bj", payload).groupBy("bi", "bj")
    rg = right.select("bi", "bj", payload).groupBy("bi", "bj")
    return lg, rg


def blocked_pair_keys(features: DataFrame, n_blocks: int) -> DataFrame:
    """The canonical (id_a < id_b) pair-key universe, enumerated as a
    BLOCKED equi-join on (bi, bj) hash-block pairs — one shuffled join,
    n_blocks·(n_blocks+1)/2 co-partitioned cells, each pair emitted
    exactly once.  Never a crossJoin: Spark plans an unconditioned
    id×id cross as BroadcastNestedLoopJoin, which is driver-bound and
    quadratic in one task at scale.  (Used by the xcorr.saved
    missing-list derivation, operators/analyse.py.)"""
    left, right = _replicated_sides(features.select("conv_id"), n_blocks)
    joined = left.select(F.col("conv_id").alias("id_a"), "bi", "bj").join(
        right.select(F.col("conv_id").alias("id_b"), "bi", "bj"),
        ["bi", "bj"],
    )
    # cross-block cells (bi < bj) hold each unordered pair exactly once
    # but in BLOCK orientation, not id orientation — canonicalize with
    # least/greatest.  Same-block cells (bi == bj) hold both
    # orientations — the id filter keeps one.
    return (
        joined.filter(
            (F.col("bi") < F.col("bj")) | (F.col("id_a") < F.col("id_b"))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )


def peakmatch_scores(
    features: DataFrame,
    conf: PeakmatchConf,
    n_blocks: int = 16,
    exact: bool = False,
) -> DataFrame:
    """All-pairs scores over the blocked self-join.

    ``exact=False``: K1 peakmatch approximation (the cheap prune).
    ``exact=True``: K3 FFT xcorr on every pair (BRUTEFORCE mode) —
    the in-plan oracle for ANALYSE-style FP/FN accounting.
    """
    left, right = _replicated_sides(features, n_blocks)
    stride = conf.sampling_stride

    def compute(key, lpdf, rpdf):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels.xcorr_batch import (
            fft_xcorr_block,
            peakmatch_block,
        )

        bi, bj = key
        same = bi == bj
        empty = _empty_pairs("score")
        # an absent cogroup side arrives as a zero-column frame
        if len(lpdf) == 0 or (not same and len(rpdf) == 0):
            return empty
        _guard_payload(same, lpdf, rpdf)
        l_ids, l_series, l_max, l_min, l_above = _unpack_payload(lpdf)

        def emit(mat, a_ids, b_ids, mask):
            ii, jj = np.nonzero(mask)
            return pd.DataFrame({
                "id_a": a_ids[ii], "id_b": b_ids[jj], "score": mat[ii, jj]
            })

        # canonical pair order by name (EventPair.java:13-22).  The
        # peakmatch kernel is asymmetric (a shifted over b's sparse
        # indexes); the reference scores in arbitrary directory order —
        # we fix the deterministic choice: lexicographic min is always
        # the 'a' side.  Exact FFT xcorr is lag-symmetric, so one
        # matrix suffices there.
        if same:
            n = len(l_ids)
            tri = np.triu(np.ones((n, n), dtype=bool), k=1)
            if exact:
                mat = fft_xcorr_block(l_series, l_series)
            else:
                mat = peakmatch_block(
                    l_series, l_max, l_min,
                    l_series, l_max, l_min, l_above, stride,
                    pair_mask=tri,
                )
            return emit(mat, l_ids, l_ids, tri)

        r_ids, r_series, r_max, r_min, r_above = _unpack_payload(rpdf)
        lt = l_ids[:, None] < r_ids[None, :]
        if exact:
            mat = fft_xcorr_block(l_series, r_series)
            return pd.concat([
                emit(mat, l_ids, r_ids, lt),
                emit(mat.T, r_ids, l_ids, ~lt.T),
            ], ignore_index=True)
        mat_lr = peakmatch_block(
            l_series, l_max, l_min, r_series, r_max, r_min, r_above, stride,
            pair_mask=lt,
        )
        mat_rl = peakmatch_block(
            r_series, r_max, r_min, l_series, l_max, l_min, l_above, stride,
            pair_mask=~lt.T,
        )
        return pd.concat([
            emit(mat_lr, l_ids, r_ids, lt),
            emit(mat_rl, r_ids, l_ids, ~lt.T),
        ], ignore_index=True)

    lg, rg = _grouped_payload(left, right)
    return lg.cogroup(rg).applyInPandas(compute, schema=PAIR_SCORE_SCHEMA)


def fused_prune_verify(
    features: DataFrame,
    conf: PeakmatchConf,
    n_blocks: int = 16,
) -> DataFrame:
    """PEAKMATCH + POSTPROCESS fused into the block task — the 100 TB
    path.  Per block pair: peakmatch score matrix; cells above
    candidate-threshold get exact FFT xcorr immediately (block-side
    rffts computed once, irfft only on candidate cells).  Emits
    verified matches (id_a, id_b, score, xcorr) above final-threshold.

    vs. the two-phase plan (peakmatch_candidates → postprocess_verify):
    identical results (tested), but NO candidate shuffle — the
    two-phase join ships ~33 KB of FFT arrays per candidate, which at
    10^8 candidates is hundreds of TB of shuffle; fused ships nothing.
    The two-phase operators remain for reference parity (separate
    phase tables) and for reusing a persisted event_fft across jobs.
    """
    left, right = _replicated_sides(features, n_blocks)
    stride = conf.sampling_stride
    cand_t = conf.candidate_threshold
    final_t = conf.final_threshold

    def compute(key, lpdf, rpdf):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels.xcorr_batch import (
            fft_xcorr_cells,
            peakmatch_block,
        )

        bi, bj = key
        same = bi == bj
        empty = _empty_pairs("score", "xcorr")
        if len(lpdf) == 0 or (not same and len(rpdf) == 0):
            return empty
        _guard_payload(same, lpdf, rpdf)
        l_ids, l_series, l_max, l_min, l_above = _unpack_payload(lpdf)

        def finish(mat, a_ids, a_series, b_ids, b_series, mask):
            cand = mask & (mat > cand_t)
            ii, jj = np.nonzero(cand)
            if len(ii) == 0:
                return empty
            xc = fft_xcorr_cells(a_series, b_series, ii, jj)
            keep = xc > final_t
            return pd.DataFrame({
                "id_a": a_ids[ii[keep]], "id_b": b_ids[jj[keep]],
                "score": mat[ii[keep], jj[keep]], "xcorr": xc[keep],
            })

        if same:
            n = len(l_ids)
            tri = np.triu(np.ones((n, n), dtype=bool), k=1)
            mat = peakmatch_block(
                l_series, l_max, l_min,
                l_series, l_max, l_min, l_above, stride,
                pair_mask=tri,
            )
            return finish(mat, l_ids, l_series, l_ids, l_series, tri)

        r_ids, r_series, r_max, r_min, r_above = _unpack_payload(rpdf)
        lt = l_ids[:, None] < r_ids[None, :]
        mat_lr = peakmatch_block(
            l_series, l_max, l_min, r_series, r_max, r_min, r_above, stride,
            pair_mask=lt,
        )
        mat_rl = peakmatch_block(
            r_series, r_max, r_min, l_series, l_max, l_min, l_above, stride,
            pair_mask=~lt.T,
        )
        out_lr = finish(mat_lr, l_ids, l_series, r_ids, r_series, lt)
        out_rl = finish(mat_rl, r_ids, r_series, l_ids, l_series, ~lt.T)
        return pd.concat([out_lr, out_rl], ignore_index=True)

    lg, rg = _grouped_payload(left, right)
    return lg.cogroup(rg).applyInPandas(
        compute, schema="id_a string, id_b string, score double, xcorr double"
    )


def _spectral_band_sigs(
    features: DataFrame,
    spec_bins: int,
    n_planes: int,
    bands: int,
    multiprobe: int = 0,
    with_probe: bool = False,
) -> DataFrame:
    """(conv_id, band, sig): SRP-LSH band signatures of the activity
    curve's per-vector-centered log-magnitude spectrum.

    The match metric (max-over-lags xcorr) is SHIFT-INVARIANT, so the
    signature must be too: SRP over the raw curve is lag-0 cosine and
    loses lag-shifted near-dups (measured recall 0.24 vs 0.97 spectral
    at a 20k corpus).  |rfft| is shift-invariant; log compression +
    per-vector centering remove the common smooth Poisson shape that
    would otherwise put most of the corpus in one bucket.

    The random projection runs INSIDE the same Arrow UDF as the
    spectrum — one (batch x spec_bins) @ (spec_bins x n_planes) numpy
    matmul, sign bits packed into one int64 per band — rather than as
    JVM column expressions.  The expression form (128 plane dots with
    8k folded literals through higher-order functions) cost ~20 s of
    SERIAL driver analysis/codegen per query and evaluated interpreted
    per element; that serial floor capped the LSH tier's measured
    scaling efficiency at 0.52 on the r3 sweep.  One linear batched
    pass, no shuffle.  Hyperplanes are the same per-plane PCG draws as
    similarity._hyperplane (independent planes; an LCG chain
    correlates them and silently costs recall).

    ``multiprobe`` > 0 is the recall dial (VERDICT r4 item 7): each
    conversation additionally joins, per band, the ``multiprobe``
    buckets reached by flipping its weakest projection bits — the
    bits whose |margin| is smallest are the likeliest to disagree
    between true near-duplicates, so probing those neighbor buckets
    recovers exactly the borderline pairs banding loses (measured
    bucket recall 1.0 at 2.9x candidates on the 18.5M-turn stress
    corpus, BENCH/STRESS.md).  Emits ``1 + multiprobe`` rows per
    (conversation, band); the default 0 keeps the one-row-per-band
    contract unchanged.  ``with_probe`` adds an int ``probe`` column
    (0 = base signature, 1.. = flip rank) so the bucketing layer can
    tell base fills from probe inflation; off by default so the
    persisted incremental-index schema (lsh_index.py) is untouched."""
    import numpy as np

    from peakmatch_xcorr_spark.operators.similarity import _hyperplane

    if n_planes % bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by bands ({bands}); "
            "trailing planes would be computed but silently unused"
        )
    rows_per_band = n_planes // bands
    if not 0 <= multiprobe < rows_per_band:
        raise ValueError(
            f"multiprobe ({multiprobe}) must be in [0, rows/band = "
            f"{rows_per_band})"
        )
    probes = 1 + multiprobe
    planes = np.stack(
        [np.asarray(_hyperplane(spec_bins, p)) for p in range(n_planes)]
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        weights = 1 << np.arange(rows_per_band, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            s = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["series"]])
            mag = np.abs(np.fft.rfft(s, axis=1))[:, 1 : spec_bins + 1]
            lg = np.log1p(mag)
            lg -= lg.mean(axis=1, keepdims=True)
            nrm = np.linalg.norm(lg, axis=1)
            nrm[nrm == 0] = 1.0
            lg /= nrm[:, None]
            if lg.shape[1] < spec_bins:
                # short series yield fewer bins than the hyperplane
                # dim; zero-pad AFTER the stats so every spec is
                # exactly spec_bins wide
                lg = np.pad(lg, ((0, 0), (0, spec_bins - lg.shape[1])))
            n = len(lg)
            proj = lg @ planes.T  # n x n_planes
            bits = proj > 0
            base = bits.reshape(n, bands, rows_per_band).astype(np.int64) @ weights
            if probes == 1:
                all_sigs = base[:, :, None]  # n x bands x 1
            else:
                # weakest-bit flips: per band, the multiprobe smallest
                # |margin| bits, flipped one at a time off the base sig
                margins = np.abs(proj).reshape(n, bands, rows_per_band)
                weakest = np.argsort(margins, axis=2)[:, :, :multiprobe]
                flips = base[:, :, None] ^ (
                    np.int64(1) << weakest.astype(np.int64)
                )
                all_sigs = np.concatenate([base[:, :, None], flips], axis=2)
            cols = {
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(), bands * probes),
                "band": np.tile(
                    np.repeat(np.arange(bands, dtype=np.int32), probes), n
                ),
                "sig": all_sigs.reshape(-1),
            }
            if with_probe:
                cols["probe"] = np.tile(
                    np.arange(probes, dtype=np.int32), n * bands
                )
            yield pd.DataFrame(cols)

    schema = "conv_id string, band int, sig long"
    if with_probe:
        schema += ", probe int"
    return features.select("conv_id", "series").mapInPandas(run, schema)


def _lsh_bucket_frames(
    features: DataFrame,
    n_planes: int,
    bands: int,
    max_bucket: int,
    spec_bins: int,
    multiprobe: int = 0,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared LSH bucketing front half: returns ``(bucketed, counts,
    all_counts, esigs)``.

    ``esigs`` is the per-conversation ELIGIBLE-signature vector: one
    ``array<long>`` of length ``bands`` whose slot *b* holds the
    conv's band-*b* signature when bucket ``(b, sig)`` is scorable
    (2 ≤ count ≤ ``max_bucket``) and -1 otherwise (singleton bucket —
    no pairs — or over-cap bucket, which the star branch handles).
    With ``multiprobe`` > 0 the vector is band-major with
    ``1 + multiprobe`` slots per band, over-cap is decided from the
    BASE fill (so the bucket partition matches multiprobe=0 and the
    dial can only ADD scorable pairs), and a base-in-cap bucket keeps
    its flip members only while total fill ≤ probes·max_bucket (see
    the inline rationale below).

    The vector is what makes cross-band score-once ownership a
    TASK-LOCAL decision: inside bucket ``(band, sig)`` a pair is
    scored iff ``band`` is the minimum band where the two vectors
    agree on a non-(-1) slot.  Since a conversation has exactly one
    signature per band, min agreeing band ≡ lexicographic-min
    ``(band, sig)`` — the same owner as a global assignment — but no
    pair-key frame is ever materialized or shuffled.  The r4.1 global
    variant (enumerate all in-bucket pairs id-only, then
    ``groupBy(id_a, id_b).min(struct(band, sig))``) shuffled
    Σ_buckets count²/2 rows — ~10^8 at the 101k-conversation stress
    corpus, quadratic in bucket fill and the reason the driver needed
    48g — where this vector is N small rows, linear in corpus size."""
    # bucket = (band, sig).  Buckets larger than ``max_bucket`` are
    # excluded here and handled by the star branch: an overfull bucket
    # means that band's bits carry ~no information for those members
    # (16 bits/band at the 128/8 default → 65536 keys, so even a 10^8
    # corpus averages ~1500 per bucket), and one mega-bucket would
    # otherwise enumerate an n² pair set in a single task.
    # (conv_id, band, sig) is n*bands small rows but is referenced by
    # several branches (counts/members/over_m/reps) — without
    # truncation every reference re-derives the spectral-FFT +
    # 128-plane subtree and plan analysis multiplies (measured: minutes
    # for a 30-row input).  Lazy localCheckpoint computes it once.
    # with multiprobe, a conversation holds 1 + multiprobe sigs per
    # band (base + weakest-bit flips); the esigs vector is band-major
    # with exactly that many slots per band, so every downstream
    # consumer (ownership scorer, star filter) slices per band instead
    # of assuming one slot
    sigs = _spectral_band_sigs(
        features, spec_bins, n_planes, bands, multiprobe,
        with_probe=multiprobe > 0,
    )
    bucketed = sigs.localCheckpoint(eager=False)
    if multiprobe == 0:
        all_counts = bucketed.groupBy("band", "sig").count()
        counts = all_counts.filter(
            (F.col("count") > 1) & (F.col("count") <= max_bucket)
        )
        flagged = bucketed.join(
            counts.select("band", "sig", F.lit(True).alias("in_cap")),
            ["band", "sig"],
            "left",
        )
    else:
        # Multiprobe cap semantics (r5 review fix): flip rows inflate
        # bucket fills, and deciding in-cap from the INFLATED count
        # would demote buckets that were scorable at multiprobe=0 to
        # the star path — the "recall dial" would LOSE base matches.
        # Instead:
        #   * over-cap (star branch) is decided from the BASE fill
        #     only — identical bucket set to multiprobe=0;
        #   * a base-in-cap bucket keeps its flip members only while
        #     the total stays under probes*max_bucket (the uniform
        #     inflation bound); past that the bucket keeps its BASE
        #     members only, so work stays bounded and every
        #     multiprobe=0 pair remains scorable — flips are strictly
        #     additive.
        probes_ = 1 + multiprobe
        cap_total = max_bucket * probes_
        stats = bucketed.groupBy("band", "sig").agg(
            F.count(F.lit(1)).alias("count"),
            F.sum((F.col("probe") == 0).cast("long")).alias("base_count"),
        ).withColumn(
            "eff_count",
            F.when(F.col("count") <= cap_total, F.col("count")).otherwise(
                F.col("base_count")
            ),
        )
        # star branch reads `count` as the over-cap criterion: base
        # fill, to match the multiprobe=0 bucket partition
        all_counts = stats.select(
            "band", "sig", F.col("base_count").alias("count")
        )
        counts = stats.filter(
            (F.col("base_count") <= max_bucket) & (F.col("eff_count") > 1)
        ).select("band", "sig", F.col("eff_count").alias("count"))
        flagged = bucketed.join(
            stats.select(
                "band", "sig", "base_count", "eff_count",
                F.col("count").alias("total_count"),
            ),
            ["band", "sig"],
            "left",
        ).withColumn(
            "in_cap",
            (F.col("base_count") <= max_bucket)
            & (F.col("eff_count") > 1)
            & ((F.col("probe") == 0) | (F.col("total_count") <= cap_total)),
        )
    esigs = (
        flagged.groupBy("conv_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("band"),
                            F.when(F.col("in_cap"), F.col("sig"))
                            .otherwise(F.lit(-1))
                            .alias("esig"),
                        )
                    )
                ),
                lambda s: s["esig"],
            ).alias("esigs")
        )
        # read by the scoring members join AND the star branch's
        # shared-band filter (both sides) — compute once
        .localCheckpoint(eager=False)
    )
    return bucketed, counts, all_counts, esigs


def lsh_candidate_pair_stats(
    features: DataFrame,
    n_planes: int = 128,
    bands: int = 8,
    max_bucket: int = 2048,
    spec_bins: int = 64,
) -> dict:
    """Measurement companion for BENCH: how much duplicate work the
    task-local cross-band ownership rule removes, and how much shuffle
    the design avoids.  ``pair_rows_all_bands`` is what the r3 tier
    scored — one kernel call per (bucket, colliding pair) —
    and ALSO exactly the pair-key rows the r4.1 global owner
    assignment shuffled through ``groupBy(id_a, id_b)``;
    ``distinct_pairs`` is what the ownership rule scores.  The
    enumeration self-join here exists only to measure; the scoring
    path never materializes pair keys."""
    bucketed, counts, _all_counts, _esigs = _lsh_bucket_frames(
        features, n_planes, bands, max_bucket, spec_bins
    )
    # closed-form from bucket fills: Σ c(c-1)/2 kernel calls, Σ c
    # membership rows (one series payload shipped per membership row)
    fills = counts.agg(
        F.sum((F.col("count") * (F.col("count") - 1) / 2).cast("long")).alias(
            "all_rows"
        ),
        F.sum("count").alias("member_rows"),
    ).collect()[0]
    all_rows = fills["all_rows"] or 0
    member_rows = fills["member_rows"] or 0
    members = bucketed.join(
        counts.select("band", "sig"), ["band", "sig"], "left_semi"
    )
    m_a = members.select("band", "sig", F.col("conv_id").alias("id_a"))
    m_b = members.select(
        F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
        F.col("conv_id").alias("id_b"),
    )
    pairs = m_a.join(
        m_b,
        (F.col("band") == F.col("band_b")) & (F.col("sig") == F.col("sig_b")),
    ).filter(F.col("id_a") < F.col("id_b"))
    distinct = pairs.select("id_a", "id_b").distinct().count()
    return {
        "pair_rows_all_bands": all_rows,
        "distinct_pairs": distinct,
        "duplication_factor": round(all_rows / distinct, 3) if distinct else None,
        "series_rows_shuffled": member_rows,
        "pair_key_rows_not_shuffled": all_rows,
    }


LSH_TILE_CHUNK = 448


def _tile_members(
    slim: DataFrame, counts: DataFrame, tile_chunk: int = LSH_TILE_CHUNK
) -> DataFrame:
    """Split each scorable bucket's pair square into triangle tiles so
    no single task owns a near-cap bucket's whole O(count²) kernel.

    Measured on the 18.5M-turn stress corpus the in-cap pair mass is
    heavily skewed: the top bucket alone holds ~1.9M of 54M pairs
    (~19 s of fused kernel in ONE task) and eleven buckets hold 10M —
    at local[32] the score phase's wall was pinned to those stragglers
    (8→32 speedup 1.33×).  Members of a bucket with ``count`` rows are
    hashed into ``k = ceil(count / tile_chunk)`` chunks and each row is
    replicated to the k tiles it participates in; tile ``(i, j)``
    scores exactly the pairs with one side in chunk i and the other in
    chunk j (both sides in i when i == j), so every pair keeps exactly
    one owning task and task cost is bounded by ``tile_chunk²`` kernel
    calls (~2 s) regardless of bucket fill.  Replication is linear —
    k extra payload rows per member, 1 for every small bucket — where
    the straggler it removes was quadratic.

    ``slim`` must carry (band, sig) scorable-membership rows WITHOUT
    the series payload (tile columns are derived pre-join so the
    payload is never shuffled twice); ``counts`` is the scorable
    (band, sig, count) frame — inner-joining it is lossless because
    slim rows exist exactly for scorable buckets."""
    k = F.greatest(
        F.lit(1), F.ceil(F.col("count") / F.lit(tile_chunk))
    ).cast("int")
    return (
        slim.join(counts.select("band", "sig", "count"), ["band", "sig"])
        .withColumn("tile_k", k)
        .withColumn(
            "chunk", F.pmod(F.xxhash64("conv_id"), F.col("tile_k")).cast("int")
        )
        .withColumn(
            "tile_other", F.explode(F.sequence(F.lit(0), F.col("tile_k") - 1))
        )
        .withColumn("ti", F.least("chunk", "tile_other"))
        .withColumn("tj", F.greatest("chunk", "tile_other"))
        .drop("count", "tile_k", "tile_other")
    )


def _make_bucket_scorer(
    n_bands: int,
    stride: int,
    cand_t: float,
    final_t: float,
    prune_pair_knee: int,
    new_only: bool = False,
    probes: int = 1,
):
    """Build the per-bucket Arrow UDF that scores the bucket's OWNED
    candidate pairs (see ``lsh_scoped_matches`` for the ownership
    rule).  ``new_only=True`` is the incremental-index variant: rows
    carry an ``is_new`` flag and only pairs with at least one new
    member are scored (old×old verdicts are already persisted).
    ``probes`` > 1 (multiprobe) means the esigs vector holds that many
    slots per band and a pair may share SEVERAL scorable sigs within
    one band, so ownership tie-breaks on the minimum (band, sig) of
    the full intersection, not just the minimum agreeing band."""

    def compute(key, pdf):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels.xcorr_batch import (
            fft_xcorr_cells,
            peakmatch_block,
        )

        empty = _empty_pairs("score", "xcorr")
        if "series" not in pdf.columns:
            # loud, not silent: a pruned payload column means zero
            # matches forever (see the cogroup ColumnPruning quirk)
            raise RuntimeError(
                "bucket scorer: payload columns were pruned from "
                f"the bucket task; got {list(pdf.columns)}"
            )
        if len(pdf) < 2:
            return empty
        band = key[0]
        tile_i, tile_j = key[2], key[3]
        ids = pdf["conv_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        chunk = pdf["chunk"].to_numpy()[order]
        # column-wise ndarray extraction, then one fancy-index + stack:
        # per-row .iloc here measured 12x slower (16.6 -> 1.4 ms per
        # 448-member tile), and this prep runs once per bucket tile —
        # including the tens of thousands of small buckets where it,
        # not the kernel, was the task's cost
        series = np.stack(pdf["series"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        mx = np.stack(pdf["max_peaks"].to_numpy()[order])
        mn = np.stack(pdf["min_peaks"].to_numpy()[order])
        ab = list(pdf["above_idx"].to_numpy()[order])
        S = np.stack(pdf["esigs"].to_numpy()[order]).astype(
            np.int64, copy=False
        )
        n = len(ids)
        if probes == 1:
            # task-local ownership: min band whose scorable (-1 = not)
            # slots agree.  Every pair here agrees at `band` (same
            # bucket, in-cap), so own <= band everywhere on the upper
            # triangle; a pair is this task's iff no LOWER band already
            # claims it.  (One sig per band, so the agreeing sig at the
            # min band is necessarily THIS bucket's sig — no tie-break.)
            own = np.full((n, n), n_bands, dtype=np.int32)
            for b in range(n_bands - 1, -1, -1):
                col = S[:, b]
                eq = (col[:, None] == col[None, :]) & (col[:, None] != -1)
                own[eq] = b
            mask = own == band
        else:
            # multiprobe ownership: a pair may share several scorable
            # sigs in one band (a's flip == b's base AND vice versa),
            # so the owner is the lexicographic-min (band, sig) over
            # the intersection of the two conversations' per-band
            # probe-sig sets — still decided task-locally from the
            # vectors, still exactly one owner per pair.
            sig = key[1]
            Sb = S.reshape(n, n_bands, probes)
            INF = np.iinfo(np.int64).max
            best_band = np.full((n, n), n_bands, dtype=np.int32)
            best_sig = np.full((n, n), INF, dtype=np.int64)
            for b in range(n_bands - 1, -1, -1):
                m_ = np.full((n, n), INF, dtype=np.int64)
                for p in range(probes):
                    a = Sb[:, b, p][:, None]
                    for q in range(probes):
                        c = Sb[:, b, q][None, :]
                        eq = (a == c) & (a != -1)
                        np.minimum(m_, np.where(eq, a, INF), out=m_)
                has = m_ < INF
                best_band[has] = b
                best_sig[has] = m_[has]
            mask = (best_band == band) & (best_sig == sig)
        # ids sorted ascending and mask upper-triangular, so ii < jj —
        # the canonical orientation (lexicographic min is the shifted
        # 'a' side, matching the fused blocked path)
        mask &= np.triu(np.ones((n, n), dtype=bool), 1)
        # tile ownership within the bucket: one side in chunk tile_i,
        # the other in tile_j (an off-diagonal tile's task holds both
        # chunks' rows but intra-chunk pairs belong to the diagonal
        # tiles, see _tile_members)
        mask &= (
            (chunk[:, None] == tile_i) & (chunk[None, :] == tile_j)
        ) | ((chunk[:, None] == tile_j) & (chunk[None, :] == tile_i))
        if new_only:
            nw = pdf["is_new"].to_numpy()[order].astype(bool)
            mask &= nw[:, None] | nw[None, :]
        ii, jj = np.nonzero(mask)
        if len(ii) == 0:
            return empty
        mat = peakmatch_block(series, mx, mn, series, mx, mn, ab, stride,
                              pair_mask=mask)
        if len(ii) > prune_pair_knee:
            # knee-gated prune: only when a single task would otherwise
            # run an unreasonable number of exact kernels (~2s of FFT
            # at the default knee) does the approximate prune pay for
            # its false negatives
            keep0 = mat[ii, jj] > cand_t
            ii, jj = ii[keep0], jj[keep0]
            if len(ii) == 0:
                return empty
        xc = fft_xcorr_cells(series, series, ii, jj)
        keep = xc > final_t
        return pd.DataFrame({
            "id_a": ids[ii[keep]], "id_b": ids[jj[keep]],
            "score": mat[ii[keep], jj[keep]], "xcorr": xc[keep],
        })

    return compute


# the key of one LSH bucket tile: the scorer's exchange and sort key
_TILE_KEY = ("band", "sig", "ti", "tj")


def _make_partition_scorer(
    n_bands: int,
    stride: int,
    cand_t: float,
    final_t: float,
    prune_pair_knee: int,
    new_only: bool = False,
    probes: int = 1,
):
    """Partition-level wrapper around ``_make_bucket_scorer`` for
    ``mapInPandas`` over rows sorted by (band, sig, ti, tj) within each
    partition: iterate bucket tiles via key-run splits of complete
    chunks (``plans.keyed``).  applyInPandas pays a Python round-trip
    + Arrow flush PER GROUP — at ~10^5 small LSH buckets that overhead
    dominates the actual kernel work — where this path pays per Arrow
    CHUNK."""
    compute = _make_bucket_scorer(
        n_bands, stride, cand_t, final_t, prune_pair_knee, new_only, probes
    )

    def run(batches):
        for pdf in complete_key_runs(batches, _TILE_KEY):
            cols = [pdf[k].to_numpy() for k in _TILE_KEY]
            starts, ends = key_runs(cols)
            for s, e in zip(starts, ends):
                out = compute(tuple(c[s] for c in cols), pdf.iloc[s:e])
                if len(out):
                    yield out

    return run


def _score_buckets(
    members: DataFrame,
    n_bands: int,
    stride: int,
    cand_t: float,
    final_t: float,
    prune_pair_knee: int,
    new_only: bool = False,
    probes: int = 1,
) -> DataFrame:
    """Score the owned pairs of every (band, sig, ti, tj) bucket TILE
    in ``members`` (rows carry conv_id, esigs, chunk/ti/tj from
    ``_tile_members``, the feature payload and — when ``new_only`` —
    is_new).  One hash exchange on the tile key — so a skewed bucket's
    tiles land on different cores — then partition-local group
    iteration."""
    run = _make_partition_scorer(
        n_bands, stride, cand_t, final_t, prune_pair_knee, new_only, probes
    )
    return (
        members.repartition(*_TILE_KEY)
        .sortWithinPartitions(*_TILE_KEY)
        .mapInPandas(
            run, schema="id_a string, id_b string, score double, xcorr double"
        )
    )


def lsh_scoped_matches(
    features: DataFrame,
    conf: PeakmatchConf,
    n_planes: int = 128,
    bands: int = 8,
    max_bucket: int = 2048,
    spec_bins: int = 64,
    prune_pair_knee: int = 250_000,
    tile_chunk: int = LSH_TILE_CHUNK,
    multiprobe: int = 0,
) -> DataFrame:
    """The 10^9-conversation tier above blocking (DESIGN.md §3):
    bound the pair universe FIRST with signed-random-projection LSH
    over the curves' magnitude spectra (shift-invariant, see
    ``_spectral_band_sigs``), then run the exact FFT-xcorr kernel only
    on the distinct candidate pairs those buckets produce.

    Near-duplicate curves agree on most projection signs, so they
    collide in at least one band with high probability (banding =
    multiple chances); random pairs don't, so the quadratic kernel
    never sees them.  Trades bounded recall (<1, like the reference's
    documented FN tradeoff, README.md:22) for a pair universe that is
    linear-ish in N instead of N²/2.

    Two r4 design decisions (VERDICT r3 items 1-2):

    * **Every in-cap candidate pair is exact-FFT-verified; the
      peakmatch prune is only applied above ``prune_pair_knee`` pairs
      per bucket.**  The reference prunes before FFT because its pair
      universe is all N²/2 (README.md:12-22); inside an LSH bucket the
      universe is already bounded (≤ max_bucket²/2), so the prune's
      ~0.88 pass rate was costing 11.6 points of end-to-end recall to
      skip a kernel LSH had already made affordable.  The peakmatch
      score is still computed (1.6 µs/pair vs 8.8 µs for the FFT) and
      reported for parity with the fused path's output.  End-to-end
      recall ≈ bucket recall (~0.97 measured on the 18.5M-turn stress
      corpus vs 0.86 with the unconditional prune).

    * **Each pair is scored exactly once, decided task-locally** —
      every in-cap bucket member carries its conversation's
      eligible-signature vector (``_lsh_bucket_frames``), and a bucket
      task scores pair (a, b) iff its band is the MINIMUM band where
      the two vectors agree on a scorable slot.  No pair-key frame
      exists: the r4.1 global owner assignment shuffled
      Σ_buckets count²/2 id-pair rows (~10^8 at the 101k-conv stress
      corpus — quadratic in bucket fill), where the vector adds one
      ``bands``-long array to each membership row, linear in N.
      No post-hoc ``row_number`` dedup, no k× kernel calls for
      k-band collisions.

    * **Skewed buckets are triangle-tiled** (``_tile_members``): pair
      mass concentrates — on the stress corpus the top bucket holds
      ~1.9M of 54M in-cap pairs, one ~19 s task pinning the score
      phase's wall at high parallelism.  Buckets over ``tile_chunk``
      members are split into hash chunks and scored as independent
      (chunk_i, chunk_j) tile tasks of ≤ tile_chunk² kernels each;
      every pair keeps exactly one owner (min-band rule within the
      bucket, chunk-tile rule within the band).  A side effect is
      that the ``prune_pair_knee`` gate no longer fires for in-cap
      buckets at the default tile size — tiles sit below the knee, so
      every in-cap pair is exact-FFT-verified, which is the r4 recall
      decision taken to its conclusion.

    ``multiprobe`` (r5, VERDICT r4 item 7) is the recall dial for
    recall-critical dedup: each conversation additionally joins, per
    band, the ``multiprobe`` buckets reached by flipping its weakest
    projection bits (smallest |margin| — the bits likeliest to differ
    between true near-dups).  Measured on the 18.5M-turn stress corpus:
    bucket recall 1.0 at 2.9× the candidate pairs (BENCH/STRESS.md).
    Score-once ownership is preserved — with several scorable sigs per
    band the owner is the lexicographic-min (band, sig) of the two
    conversations' probe-set intersection, still decided task-locally.
    Default 0 = exact r4 behavior.
    """
    # spec vectors are padded to exactly spec_bins inside the UDF, so
    # the hyperplane dim never depends on the (possibly differing)
    # conf.expected_len vs actual curve length
    probes = 1 + multiprobe
    bucketed, counts, all_counts, esigs = _lsh_bucket_frames(
        features, n_planes, bands, max_bucket, spec_bins, multiprobe
    )
    cand_t = conf.candidate_threshold
    final_t = conf.final_threshold
    stride = conf.sampling_stride

    # one series payload per (in-cap multi-member bucket, member):
    # linear in membership, the same movement the r3 tier paid —
    # bought back by zero pair-key shuffle and 1x kernel calls.
    # Membership is DERIVED from the vectors (slot != -1 ⇔ in-cap
    # multi-member bucket), so no bucketed-side semi-join shuffle:
    # posexplode the vector, drop -1 slots, tile skewed buckets while
    # the rows are still payload-free, THEN join the payload once.
    slim = (
        esigs.select(
            "conv_id", "esigs", F.posexplode("esigs").alias("pos", "sig")
        )
        .filter(F.col("sig") != -1)
        # band-major vector: slot pos = band * probes + probe_rank
        .withColumn("band", (F.col("pos") / probes).cast("int"))
        .drop("pos")
    )
    members = _tile_members(slim, counts, tile_chunk).join(features, "conv_id")

    out = _score_buckets(
        members, bands, stride, cand_t, final_t, prune_pair_knee,
        probes=probes,
    )

    # Overfull buckets are NOT simply dropped: a uniform duplicate
    # cluster (bot traffic — identical curves, identical signatures)
    # lands over-cap in EVERY band, so skipping those buckets would
    # silently lose the cluster entirely.  Instead each overfull
    # bucket is STAR-scored — every member against the bucket's
    # minimum-id representative, exact FFT xcorr via the persisted-fft
    # pair path — which is O(n) per bucket and still chains the whole
    # cluster into one dedup component.  (Member pairs that resemble
    # each other but not the representative are precisely the pairs
    # with discriminative bits, which meet in a tighter band.)
    over = all_counts.filter(F.col("count") > max_bucket).select("band", "sig")
    # Adaptive empty-branch skip: when NO bucket is over-cap the star
    # union is vacuously empty, but its subtree (two esigs joins, an
    # fft_precache and an exact-scores Python stage) still schedules
    # ~6 jobs of fixed per-task cost — and AQE's empty-relation
    # propagation cannot fire here because the plan is rooted at a
    # cached feature table.  One bounded probe job (limit-1 over the
    # checkpointed bucket counts) decides; corpora that DO have
    # over-cap buckets (every 10^8+ run) pay only the probe.
    if over.limit(1).count() == 0:
        return out
    over_m = bucketed.join(over, ["band", "sig"], "left_semi")
    reps = over_m.groupBy("band", "sig").agg(F.min("conv_id").alias("rep"))
    star = (
        over_m.join(reps, ["band", "sig"])
        .filter(F.col("conv_id") != F.col("rep"))
        .select(
            F.least("rep", "conv_id").alias("id_a"),
            F.greatest("rep", "conv_id").alias("id_b"),
        )
        .distinct()
        # a star pair may ALSO collide in some in-cap band, where the
        # ownership path already scores it — keep the score-once
        # invariant by dropping pairs whose eligible-sig vectors share
        # a scorable slot (the same rule the bucket tasks apply)
        .join(
            esigs.select(F.col("conv_id").alias("id_a"), F.col("esigs").alias("ea")),
            "id_a",
        )
        .join(
            esigs.select(F.col("conv_id").alias("id_b"), F.col("esigs").alias("eb")),
            "id_b",
        )
        # "shares a scorable sig in some band": with multiprobe the
        # matching sigs may sit at different slots within the band
        # (a's flip == b's base), so compare per-band SLICES by
        # intersection rather than slot-aligned equality
        .filter(
            ~F.exists(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.size(
                    F.array_intersect(
                        F.array_remove(
                            F.slice("ea", b * probes + 1, probes), -1
                        ),
                        F.array_remove(
                            F.slice("eb", b * probes + 1, probes), -1
                        ),
                    )
                )
                > 0,
            )
        )
        .select("id_a", "id_b")
    )
    from peakmatch_xcorr_spark.operators.features import fft_precache

    star_ids = star.select(F.col("id_a").alias("conv_id")).union(
        star.select("id_b")
    ).distinct()
    needed = features.join(star_ids, "conv_id", "left_semi")
    star_scored = (
        exact_pair_scores(star, fft_precache(needed))
        .filter(F.col("xcorr") > final_t)
        # the peakmatch prune score is not computed on the star path
        .withColumn("score", F.lit(None).cast("double"))
        .select("id_a", "id_b", "score", "xcorr")
    )
    # bucket-scored pairs and star pairs are disjoint (shared-band
    # filter above), and each appears exactly once — no post-hoc dedup
    return out.unionByName(star_scored)


def peakmatch_candidates(
    features: DataFrame, conf: PeakmatchConf, n_blocks: int = 16
) -> DataFrame:
    """PEAKMATCH phase: candidate pairs above candidate-threshold."""
    scores = peakmatch_scores(features, conf, n_blocks)
    return scores.filter(F.col("score") > conf.candidate_threshold)


def exact_pair_scores(
    pairs: DataFrame,
    ffts: DataFrame,
    broadcast_ffts: bool = False,
) -> DataFrame:
    """Exact FFT xcorr for an EXPLICIT pair set (id_a, id_b) — the
    delta path: when only a known subset of pairs needs scoring
    (xcorr.saved refresh, AnalyseProcessor.java:190-257 skip-cached),
    join the pair list to the persisted event_fft table and run one
    batched irfft per Arrow batch.  Cost scales with |pairs|, not
    N²/2.  Returns (id_a, id_b, xcorr) UNfiltered."""
    f = F.broadcast(ffts) if broadcast_ffts else ffts
    a = f.select(
        F.col("conv_id").alias("id_a"),
        F.col("fwd_re").alias("a_re"),
        F.col("fwd_im").alias("a_im"),
    )
    b = f.select(
        F.col("conv_id").alias("id_b"),
        F.col("rev_re").alias("b_re"),
        F.col("rev_im").alias("b_im"),
        "padded_len",
    )
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")

    def verify(batches):
        import numpy as np
        import pandas as pd

        from peakmatch_xcorr_spark.kernels.xcorr import JAVA_DOUBLE_MIN_VALUE

        # tile the Arrow batch (r5 cache-blocking, kernels/xcorr_batch
        # rationale): a full 10k-row batch stacks ~160 MB of complex
        # temporaries and streams them through DRAM once per step; 32
        # pairs keep every temporary inside one core's L2 with the
        # allocations heap-reused
        chunk = 32
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = int(pdf["padded_len"].iloc[0])
            best = np.empty(len(pdf))
            a_re, a_im = pdf["a_re"].to_numpy(), pdf["a_im"].to_numpy()
            b_re, b_im = pdf["b_re"].to_numpy(), pdf["b_im"].to_numpy()
            for k0 in range(0, len(pdf), chunk):
                k1 = min(len(pdf), k0 + chunk)
                fa = np.stack(a_re[k0:k1]) + 1j * np.stack(a_im[k0:k1])
                fb = np.stack(b_re[k0:k1]) + 1j * np.stack(b_im[k0:k1])
                xc = np.fft.irfft(fa * fb, n, axis=1)
                best[k0:k1] = xc.max(axis=1)
            yield pd.DataFrame({
                "id_a": pdf["id_a"], "id_b": pdf["id_b"],
                "xcorr": np.maximum(best, JAVA_DOUBLE_MIN_VALUE),
            })

    return joined.mapInPandas(
        verify, schema="id_a string, id_b string, xcorr double"
    )


def postprocess_verify(
    candidates: DataFrame,
    ffts: DataFrame,
    conf: PeakmatchConf,
    broadcast_ffts: bool = False,
) -> DataFrame:
    """POSTPROCESS phase: exact FFT xcorr on candidate pairs only.

    Two equi-joins against the persisted event_fft table (the S9/S10
    precompute-once pattern), then ONE batched irfft per Arrow batch —
    all pairs in the batch verified with a single vectorized FFT call
    (exact_pair_scores).  Returns (id_a, id_b, xcorr) above
    final-threshold."""
    verified = exact_pair_scores(candidates, ffts, broadcast_ffts)
    return verified.filter(F.col("xcorr") > conf.final_threshold)


def analyse_fp_fn(
    candidates: DataFrame, truth: DataFrame
) -> dict[str, DataFrame]:
    """ANALYSE accuracy pass (AnalyseProcessor.java:66-87): set
    differences between the approximation's candidates and exact
    truth.  FPs are discarded later and cheap; FNs are permanent loss."""
    key = ["id_a", "id_b"]
    return {
        "false_positives": candidates.join(truth, key, "left_anti"),
        "false_negatives": truth.join(candidates, key, "left_anti"),
        "true_positives": candidates.join(truth, key, "left_semi"),
    }
