from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from peakmatch_xcorr_spark.config import EngineConf, PeakmatchConf, RollupConf
from peakmatch_xcorr_spark.kernels.signal import featurize
from peakmatch_xcorr_spark.kernels.xcorr import fft_xcorr_best, peakmatch_best
from peakmatch_xcorr_spark.operators.dedup import (
    connected_components,
    dedup_transcripts,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from peakmatch_xcorr_spark.operators.features import (
    activity_curves,
    conversation_features,
    fft_precache,
)
from peakmatch_xcorr_spark.operators.pairs import (
    analyse_fp_fn,
    peakmatch_candidates,
    peakmatch_scores,
    postprocess_verify,
)
from peakmatch_xcorr_spark.operators.pipeline import (
    dedup_then_rollup,
    find_duplicate_conversations,
)
from peakmatch_xcorr_spark.synth import SynthConf, generate_transcripts

CONF = EngineConf(
    peakmatch=PeakmatchConf(expected_len=256),
    rollup=RollupConf(activity_curve_len=256),
)


@pytest.fixture(scope="module")
def synth():
    return generate_transcripts(SynthConf(n_convs=16, n_dup_pairs=3))


@pytest.fixture(scope="module")
def tdf(spark, synth):
    df = spark.createDataFrame(synth.transcripts)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def feats(spark, tdf):
    f = conversation_features(tdf, CONF.peakmatch, "1 minute", 256)
    f.cache().count()
    return f


def test_activity_curves_match_synth_ground_truth(spark, tdf, synth):
    curves = activity_curves(tdf, "1 minute", 256).toPandas()
    got = {r.conv_id: np.asarray(r.curve) for r in curves.itertuples()}
    for conv, true_curve in synth.curves.items():
        if conv not in got:
            continue
        # synth curves start at the global epoch; activity_curves are
        # relative to the conv's first active bucket
        nz = np.nonzero(true_curve)[0]
        expect = true_curve[nz[0]:][:256].astype(float)
        g = got[conv][: len(expect)]
        np.testing.assert_array_equal(g, expect)


def test_features_match_kernel_directly(spark, feats, synth):
    fpdf = feats.toPandas().set_index("conv_id")
    checked = 0
    for conv, curve in synth.curves.items():
        if conv not in fpdf.index:
            continue
        nz = np.nonzero(curve)[0]
        rel = curve[nz[0]:]
        dense = np.zeros(256)
        n = min(256, len(rel))
        dense[:n] = rel[:n]
        exp = featurize(dense, CONF.peakmatch)
        row = fpdf.loc[conv]
        np.testing.assert_allclose(np.asarray(row.series), exp.series, rtol=1e-12)
        np.testing.assert_array_equal(np.asarray(row.max_peaks), exp.max_peaks)
        np.testing.assert_array_equal(np.asarray(row.above_idx), exp.above_idx)
        checked += 1
    assert checked >= 10


def test_blocked_pairs_cover_all_pairs_exactly_once(spark, feats):
    """The blocked self-join must enumerate every unordered pair
    exactly once, for several block counts (including B > N edge)."""
    n = feats.count()
    for nb in (1, 3, 8, 64):
        scores = peakmatch_scores(feats, CONF.peakmatch, n_blocks=nb).toPandas()
        assert len(scores) == n * (n - 1) // 2, f"n_blocks={nb}"
        keys = set(zip(scores.id_a, scores.id_b))
        assert len(keys) == len(scores)
        assert all(a < b for a, b in keys)


def test_blocked_scores_match_local_kernel(spark, feats):
    """Spark-side blocked scores == driver-side loop over the same
    features (the distributed plan changes nothing numerically)."""
    fpdf = feats.toPandas().sort_values("conv_id").reset_index(drop=True)
    local = {}
    for i in range(len(fpdf)):
        for j in range(i + 1, len(fpdf)):
            a, b = fpdf.iloc[i], fpdf.iloc[j]
            s = peakmatch_best(
                CONF.peakmatch.sampling_stride,
                np.asarray(a.series), np.asarray(b.series),
                np.asarray(a.max_peaks), np.asarray(a.min_peaks),
                np.asarray(b.max_peaks), np.asarray(b.min_peaks),
                np.asarray(b.above_idx),
            )
            local[(a.conv_id, b.conv_id)] = s
    got = peakmatch_scores(feats, CONF.peakmatch, n_blocks=4).toPandas()
    assert len(got) == len(local)
    for r in got.itertuples():
        assert local[(r.id_a, r.id_b)] == pytest.approx(r.score, rel=1e-12)


def test_postprocess_matches_exact_kernel(spark, feats):
    cands = peakmatch_candidates(feats, CONF.peakmatch, n_blocks=4)
    ffts = fft_precache(feats)
    verified = postprocess_verify(cands, ffts, CONF.peakmatch).toPandas()
    fpdf = feats.toPandas().set_index("conv_id")
    for r in verified.itertuples():
        exact = fft_xcorr_best(
            np.asarray(fpdf.loc[r.id_a].series),
            np.asarray(fpdf.loc[r.id_b].series),
        )
        assert r.xcorr == pytest.approx(exact, abs=1e-9)
        assert r.xcorr > CONF.peakmatch.final_threshold


def test_planted_dups_survive_pipeline(spark, tdf, synth):
    """ANALYSE-style end-to-end: every planted near-duplicate pair must
    be found (FN rate 0 on planted pairs at reference thresholds)."""
    matches = find_duplicate_conversations(tdf, CONF, n_blocks=4).toPandas()
    found = set(zip(matches.id_a, matches.id_b))
    for pair in synth.dup_pairs:
        assert pair in found, f"planted pair {pair} lost"


def test_analyse_fp_fn_sets(spark, feats):
    cands = peakmatch_candidates(feats, CONF.peakmatch, n_blocks=4)
    truth = (
        peakmatch_scores(feats, CONF.peakmatch, n_blocks=4, exact=True)
        .filter(f"score > {CONF.peakmatch.final_threshold}")
        .select("id_a", "id_b")
    )
    r = analyse_fp_fn(cands.select("id_a", "id_b"), truth)
    fn = r["false_negatives"].count()
    tp = r["true_positives"].count()
    assert fn == 0  # FNs are permanent loss (README.md:22)
    assert tp == truth.count()


def test_connected_components(spark):
    edges = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": ["a", "b", "x", "y", "p"],
                "id_b": ["b", "c", "y", "z", "q"],
            }
        )
    )
    comps = connected_components(edges).toPandas().set_index("id")["component"]
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == comps["z"] == "x"
    assert comps["p"] == comps["q"] == "p"
    # the distributed loop (forced) must agree with the driver fast path
    loop = (
        connected_components(edges, driver_max_edges=0)
        .toPandas().set_index("id")["component"]
    )
    assert loop.sort_index().equals(comps.sort_index())


def test_connected_components_null_endpoints_dropped(spark):
    """Edges with a null endpoint are not edges: both paths ignore
    them (pd.factorize would otherwise encode None as -1 and corrupt
    the driver union-find)."""
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": ["a", "a", None], "id_b": ["b", None, "c"]})
    )
    for dme in (1_000_000, 0):
        comps = (
            connected_components(edges, driver_max_edges=dme)
            .toPandas().set_index("id")["component"]
        )
        assert dict(comps) == {"a": "a", "b": "a"}


def test_connected_components_paths_agree_random(spark):
    """Driver union-find fast path ≡ forced distributed min-label loop
    on a seeded random graph (chains, cliques, isolated edges, and
    numeric ids exercising non-lexicographic min).  The second input
    adds self-loops and reversed duplicate edges under a
    ``driver_max_edges`` that admits every input edge but not the
    symmetrized list: the driver path takes it unsymmetrized."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.integers(0, 400, size=600)
    b = rng.integers(0, 400, size=600)
    pdf = pd.DataFrame({"id_a": a, "id_b": b})
    pdf = pdf[pdf.id_a != pdf.id_b]
    loops = pd.DataFrame({"id_a": a[:20], "id_b": a[:20]})
    reversed_dups = pdf.iloc[:30].rename(columns={"id_a": "id_b", "id_b": "id_a"})
    messy = pd.concat([pdf, loops, reversed_dups], ignore_index=True)
    n_sym = len(
        set(zip(messy.id_a, messy.id_b)) | set(zip(messy.id_b, messy.id_a))
    )
    assert len(messy) < n_sym
    for edges_pdf, dme in ((pdf, 1_000_000), (messy, len(messy))):
        edges = spark.createDataFrame(edges_pdf)
        fast = (
            connected_components(edges, driver_max_edges=dme)
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        loop = (
            connected_components(edges, driver_max_edges=0)
            .toPandas().sort_values("id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(fast, loop, check_dtype=False)
        # every edge internally consistent: endpoints share a component
        comp = fast.set_index("id")["component"]
        for ea, eb in edges_pdf.itertuples(index=False):
            assert comp[ea] == comp[eb]


def test_dedup_preserves_survivor_rows_exactly(spark, tdf, synth):
    """Per-row invariant (BASELINE.json input_hint): per-turn text
    equality under stable (conv_id, turn_idx) ordering for all
    surviving conversations."""
    deduped, tiers = dedup_then_rollup(tdf, CONF, n_blocks=4)
    ded = deduped.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    src = tdf.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    survivors = set(ded.conv_id)
    src_kept = src[src.conv_id.isin(survivors)].reset_index(drop=True)
    pd.testing.assert_frame_equal(ded, src_kept)
    # all planted duplicate partners reduced to one survivor each
    for a, b in synth.dup_pairs:
        assert (a in survivors) != (b in survivors) or a not in survivors
    # tiers exist and roll the deduped rows
    assert tiers["1 minute"].count() > 0


def test_exact_dedup_spark(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "text": ["aa", "bb", "aa", "aa"]}
        )
    )
    out = exact_dedup(docs).toPandas().sort_values("keep_id").reset_index(drop=True)
    assert list(out.keep_id) == [1, 2]
    assert list(out.dup_count) == [3, 1]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


def test_ngram_jaccard_and_minhash_agree(spark, docs):
    """MinHash-LSH candidates must cover the high-Jaccard truth pairs
    (recall at these banding parameters)."""
    truth = ngram_jaccard_pairs(docs, threshold=0.8).toPandas()
    cand = minhash_lsh_candidates(docs, num_hashes=32, bands=16).toPandas()
    cand_set = set(zip(cand.id_a, cand.id_b))
    missed = [
        (r.id_a, r.id_b) for r in truth.itertuples()
        if (r.id_a, r.id_b) not in cand_set
    ]
    assert not missed, f"LSH missed high-sim pairs: {missed[:5]}"


def test_simhash_duplicates_same_bucket(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "the quick brown fox jumps over the lazy dog",
                    "completely different content about spark engines",
                ],
            }
        )
    )
    out = simhash_buckets(docs).toPandas().set_index("id")
    assert out.loc[1].simhash == out.loc[2].simhash
    assert out.loc[1].bucket == out.loc[2].bucket
    assert out.loc[1].simhash != out.loc[3].simhash


def test_fused_equals_two_phase(spark, feats):
    """The fused prune+verify operator (scale path, zero candidate
    shuffle) must produce exactly the two-phase plan's matches."""
    from peakmatch_xcorr_spark.operators.features import fft_precache
    from peakmatch_xcorr_spark.operators.pairs import fused_prune_verify

    fused = fused_prune_verify(feats, CONF.peakmatch, n_blocks=4).toPandas()
    cands = peakmatch_candidates(feats, CONF.peakmatch, n_blocks=4)
    two_phase = postprocess_verify(
        cands, fft_precache(feats), CONF.peakmatch
    ).toPandas()
    f = fused.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    t = two_phase.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    assert len(f) == len(t)
    assert (f.id_a.to_numpy() == t.id_a.to_numpy()).all()
    assert (f.id_b.to_numpy() == t.id_b.to_numpy()).all()
    np.testing.assert_allclose(f.xcorr.to_numpy(), t.xcorr.to_numpy(), rtol=1e-12)


def test_lsh_scoped_matches_recover_planted_dups(spark, feats, synth):
    """The LSH-scoped tier (pair universe bounded before the kernel)
    must recover the planted near-duplicates, score each pair at most
    once, and agree with the exact brute-force xcorr on every reported
    match.  Since r4 the in-bucket peakmatch prune is knee-gated off
    (VERDICT r3 item 1), so the truth set is the EXACT xcorr matches —
    the scoped result may legitimately contain pairs the peakmatch
    prune would have dropped, but never a pair the exact kernel
    wouldn't pass."""
    from peakmatch_xcorr_spark.operators.pairs import (
        fused_prune_verify,
        lsh_scoped_matches,
        peakmatch_scores,
    )

    scoped = lsh_scoped_matches(feats, CONF.peakmatch, n_planes=16, bands=8).toPandas()
    exact = (
        peakmatch_scores(feats, CONF.peakmatch, n_blocks=4, exact=True)
        .filter(F.col("score") > CONF.peakmatch.final_threshold)
        .toPandas()
    )
    exact_map = {(r.id_a, r.id_b): r.score for r in exact.itertuples()}
    assert len(scoped) > 0
    # score-once invariant: no duplicate pair rows survive the union
    keys = list(zip(scoped.id_a, scoped.id_b))
    assert len(keys) == len(set(keys))
    for r in scoped.itertuples():
        assert (r.id_a, r.id_b) in exact_map  # subset of exact matches
        assert r.xcorr == pytest.approx(exact_map[(r.id_a, r.id_b)], rel=1e-12)
    found = set(keys)
    for pair in synth.dup_pairs:
        assert pair in found, f"planted pair {pair} missed by LSH scoping"
    # with the prune knee-gated off, LSH recall on pairs that DO
    # collide must not be degraded below the fused path's match set
    # restricted to LSH coverage — the planted pairs above are the
    # recall floor; additionally every fused match found by LSH agrees
    fused = fused_prune_verify(feats, CONF.peakmatch, n_blocks=4).toPandas()
    fused_keys = set(zip(fused.id_a, fused.id_b))
    assert found & fused_keys  # overlap is non-degenerate


def test_lsh_tiled_buckets_match_untiled_exactly(spark, feats):
    """Triangle-tiling skewed buckets (_tile_members) is a physical
    re-plan only: forcing every bucket to split into many hash-chunk
    tiles must reproduce the untiled tier's match set and xcorr values
    bit-for-bit — each pair scored by exactly one tile task."""
    from peakmatch_xcorr_spark.operators.pairs import lsh_scoped_matches

    kw = dict(n_planes=16, bands=8)
    untiled = lsh_scoped_matches(
        feats, CONF.peakmatch, tile_chunk=10_000, **kw
    ).toPandas()
    tiled = lsh_scoped_matches(
        feats, CONF.peakmatch, tile_chunk=3, **kw
    ).toPandas()
    assert len(tiled) == len(untiled) > 0
    keys = list(zip(tiled.id_a, tiled.id_b))
    assert len(keys) == len(set(keys))  # score-once across tiles
    u = untiled.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    t = tiled.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    assert (u.id_a.to_numpy() == t.id_a.to_numpy()).all()
    assert (u.id_b.to_numpy() == t.id_b.to_numpy()).all()
    np.testing.assert_allclose(u.xcorr.to_numpy(), t.xcorr.to_numpy(), rtol=1e-12)
    np.testing.assert_allclose(
        u.score.to_numpy(), t.score.to_numpy(), rtol=1e-12
    )


def test_lsh_overfull_bucket_cluster_star_scored(spark, feats):
    """A duplicate cluster larger than max_bucket lands over-cap in
    EVERY band (identical curves → identical signatures); it must be
    star-scored against a representative, not silently dropped."""
    from pyspark.sql import functions as F

    from peakmatch_xcorr_spark.operators.dedup import connected_components
    from peakmatch_xcorr_spark.operators.pairs import lsh_scoped_matches

    one = feats.orderBy("conv_id").limit(1)
    clones = None
    for i in range(10):
        c = one.withColumn("conv_id", F.concat(F.lit(f"clone{i:02d}-"), "conv_id"))
        clones = c if clones is None else clones.unionByName(c)
    aug = feats.unionByName(clones).cache()
    matches = lsh_scoped_matches(
        aug, CONF.peakmatch, n_planes=16, bands=4, max_bucket=4
    )
    comps = (
        connected_components(matches).toPandas().set_index("id")["component"]
    )
    clone_ids = [r["conv_id"] for r in clones.select("conv_id").collect()]
    assert all(cid in comps.index for cid in clone_ids)
    assert len({comps[cid] for cid in clone_ids}) == 1  # one cluster
    # star rows carry no prune score but a real xcorr
    star_rows = matches.filter(F.col("score").isNull())
    assert star_rows.count() > 0
    assert star_rows.filter(F.col("xcorr") <= 0.9).count() == 0


def test_empty_and_degenerate_inputs(spark):
    """Empty transcripts and single-turn conversations flow through the
    whole pipeline without errors (continue-on-error policy)."""
    import pandas as pd

    from peakmatch_xcorr_spark.operators.dedup import connected_components

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    empty = spark.createDataFrame([], schema=schema)
    matches = find_duplicate_conversations(empty, CONF, n_blocks=2)
    assert matches.count() == 0
    deduped, tiers = dedup_then_rollup(empty, CONF, n_blocks=2)
    assert deduped.count() == 0
    assert tiers["1 minute"].count() == 0

    # single-turn conversations: curve has <K peaks → filtered as not-ok
    single = spark.createDataFrame(
        pd.DataFrame({
            "conv_id": ["solo1", "solo2"],
            "turn_idx": [0, 0],
            "role": ["user", "user"],
            "text": ["a", "b"],
            "tool": [None, None],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 01:00:00"]).astype("datetime64[us]"),
        })
    )
    m2 = find_duplicate_conversations(single, CONF, n_blocks=2)
    assert m2.count() == 0

    # connected components on an empty edge list
    e = spark.createDataFrame([], schema="id_a string, id_b string")
    assert connected_components(e).count() == 0


def test_ngram_jaccard_stop_shingle_cap(spark):
    """A shingle shared by every document makes the inverted-index
    bucket quadratic; max_shingle_df drops it while keeping the
    high-Jaccard near-dup pair (VERDICT r1 #7)."""
    import random

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    stop = "the common header everyone shares "

    def rand_text(n=60):
        return "".join(rng.choice(alphabet) for _ in range(n))

    n_docs = 30
    texts = [stop + rand_text() for _ in range(n_docs)]
    texts.append(texts[0] + "x")  # near-dup of doc 0
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )

    # candidate universe (threshold=0 → every pair sharing >=1 indexed
    # shingle).  Uncapped: the stop shingles connect ALL pairs.
    uncapped = ngram_jaccard_pairs(docs, threshold=0.0).count()
    assert uncapped == (n_docs + 1) * n_docs // 2  # fully quadratic

    capped_pairs = ngram_jaccard_pairs(
        docs, threshold=0.0, max_shingle_df=5
    ).toPandas()
    # bounded: random bodies share essentially nothing informative
    assert len(capped_pairs) < uncapped / 10

    # recall: the planted near-dup survives with high Jaccard
    hits = capped_pairs[
        (capped_pairs.id_a == 0) & (capped_pairs.id_b == n_docs)
    ]
    assert len(hits) == 1 and hits.jaccard.iloc[0] > 0.9


def test_similarity_zero_norm_embedding_is_ansi_safe(spark):
    """Spark 4 ANSI mode aborts on x/0: a zero embedding (missing-value
    placeholder) must score cosine 0 everywhere, not crash the job."""
    from peakmatch_xcorr_spark.operators.similarity import (
        cosine_topk,
        embedding_near_dups,
    )

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [[1.0, 0.0], [1.0, 0.0], [0.0, 0.0]],
            }
        )
    )
    top = cosine_topk(emb, emb, k=2).toPandas()
    z = top[top.query_id == 2]
    assert (z.cosine == 0.0).all()  # zero vector matches nothing
    dups = embedding_near_dups(emb, dim=2, threshold=0.9, n_planes=8, bands=4)
    got = {(r.id_a, r.id_b) for r in dups.collect()}
    assert (0, 1) in got and all(2 not in p for p in got)


def test_lsh_band_divisibility_validated(spark):
    from peakmatch_xcorr_spark.operators.similarity import lsh_signatures

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[1.0, 0.0]]})
    )
    with pytest.raises(ValueError, match="divisible"):
        lsh_signatures(emb, dim=2, n_planes=16, bands=5)
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(
            spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]})),
            num_hashes=32, bands=5,
        )


def test_simhash_handles_non_ascii_text(spark):
    """ASCII-only \\w would blank CJK/Cyrillic text entirely and the
    doc would silently get NO fingerprint (code-review r2)."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "機器學習模型訓練數據 質量很重要",
                    "機器學習模型訓練數據 質量很重要",
                    "модель обучения данные качество",
                ],
            }
        )
    )
    out = simhash_buckets(docs).toPandas().set_index("id")
    assert len(out) == 3  # every doc fingerprinted
    assert out.loc[1].simhash == out.loc[2].simhash
    assert out.loc[3].simhash != out.loc[1].simhash


def test_lsh_multiprobe_superset_and_score_once(spark, feats, synth):
    """multiprobe=k (weakest-bit-flip neighbor buckets, VERDICT r4
    item 7) may only ADD candidate coverage: the match set is a
    superset of multiprobe=0's, planted pairs stay recovered, every
    xcorr still agrees with the exact kernel, and the score-once
    invariant holds even though a pair can now collide at several
    sigs within one band."""
    from peakmatch_xcorr_spark.operators.pairs import (
        lsh_scoped_matches,
        peakmatch_scores,
    )

    base = lsh_scoped_matches(
        feats, CONF.peakmatch, n_planes=16, bands=8
    ).toPandas()
    probed = lsh_scoped_matches(
        feats, CONF.peakmatch, n_planes=16, bands=8, multiprobe=1
    ).toPandas()
    keys_b = set(zip(base.id_a, base.id_b))
    keys_p = list(zip(probed.id_a, probed.id_b))
    assert len(keys_p) == len(set(keys_p)), "multiprobe broke score-once"
    assert keys_b <= set(keys_p), "multiprobe lost a base match"
    for pair in synth.dup_pairs:
        assert pair in set(keys_p)
    exact = (
        peakmatch_scores(feats, CONF.peakmatch, n_blocks=4, exact=True)
        .filter(F.col("score") > CONF.peakmatch.final_threshold)
        .toPandas()
    )
    exact_map = {(r.id_a, r.id_b): r.score for r in exact.itertuples()}
    for r in probed.itertuples():
        assert (r.id_a, r.id_b) in exact_map
        assert r.xcorr == pytest.approx(exact_map[(r.id_a, r.id_b)], rel=1e-12)


def test_lsh_multiprobe_signatures_flip_weakest_bits(spark, feats):
    """Each probe signature differs from the base by exactly one bit,
    probes are distinct within a band, and every (conv, band) emits
    exactly 1 + multiprobe rows."""
    from peakmatch_xcorr_spark.operators.pairs import _spectral_band_sigs

    m = 2
    sigs = _spectral_band_sigs(
        feats, spec_bins=16, n_planes=16, bands=4, multiprobe=m
    ).toPandas()
    grp = sigs.groupby(["conv_id", "band"])["sig"].apply(list)
    for (conv, band), vals in grp.items():
        assert len(vals) == 1 + m, f"{conv}/{band}: {vals}"
        assert len(set(vals)) == 1 + m
        base = vals[0]
        for probe in vals[1:]:
            diff = int(base) ^ int(probe)
            assert diff != 0 and (diff & (diff - 1)) == 0, (
                f"probe {probe:x} differs from base {base:x} by "
                f"{bin(diff)} (not one bit)"
            )


def test_lsh_multiprobe_validates_range(spark, feats):
    from peakmatch_xcorr_spark.operators.pairs import _spectral_band_sigs

    with pytest.raises(ValueError, match="multiprobe"):
        # rows_per_band = 16/8 = 2, so multiprobe=2 is out of range
        _spectral_band_sigs(
            feats, spec_bins=16, n_planes=16, bands=8, multiprobe=2
        )


def test_lsh_multiprobe_cap_demotion_guard(spark, feats, synth):
    """Flip rows inflate bucket fills, and deciding in-cap from the
    INFLATED count demotes buckets that were scorable at multiprobe=0
    to the star path — the recall dial would LOSE base matches (r5
    review).  Over-cap must be decided from the BASE fill: with a cap
    small enough that probe inflation crosses it, (a) every base
    membership of a base-in-cap bucket stays scorable in the esigs
    vector, and (b) the end-to-end match set is still a superset of
    multiprobe=0's with score-once intact."""
    from peakmatch_xcorr_spark.operators.pairs import (
        _lsh_bucket_frames,
        lsh_scoped_matches,
    )

    # 2-bit band sigs over 16 convs: base fills sit right at a cap of
    # 4, so multiprobe doubling the memberships crosses it — exactly
    # the regime where inflated-count capping demoted base buckets
    for cap in (3, 4):
        base = lsh_scoped_matches(
            feats, CONF.peakmatch, n_planes=16, bands=8, max_bucket=cap
        ).toPandas()
        probed = lsh_scoped_matches(
            feats, CONF.peakmatch, n_planes=16, bands=8, max_bucket=cap,
            multiprobe=1,
        ).toPandas()
        keys_b = set(zip(base.id_a, base.id_b))
        keys_p = list(zip(probed.id_a, probed.id_b))
        assert len(keys_p) == len(set(keys_p)), "multiprobe broke score-once"
        assert keys_b <= set(keys_p), f"cap={cap}: multiprobe lost a base match"

    # internal invariant, checked directly: a bucket whose BASE fill
    # is in [2, cap] keeps every base membership scorable no matter
    # how many flips land on it
    cap, probes = 4, 2
    bucketed, counts, all_counts, esigs = _lsh_bucket_frames(
        feats, 16, 8, cap, 64, multiprobe=1
    )
    b = bucketed.toPandas()
    evec = esigs.toPandas().set_index("conv_id")["esigs"]
    base_rows = b[b.probe == 0]
    base_fill = base_rows.groupby(["band", "sig"]).size()
    checked = 0
    for (band, sig), fill in base_fill.items():
        if not 2 <= fill <= cap:
            continue
        members = base_rows[(base_rows.band == band) & (base_rows.sig == sig)]
        total = len(b[(b.band == band) & (b.sig == sig)])
        for conv in members.conv_id:
            band_slice = list(evec[conv][band * probes:(band + 1) * probes])
            assert sig in band_slice, (
                f"bucket ({band}, {sig}): base fill {fill} <= cap {cap} "
                f"(total {total}) but conv {conv}'s base slot was demoted"
            )
            checked += 1
    assert checked > 0, "fixture produced no base-in-cap buckets to check"
