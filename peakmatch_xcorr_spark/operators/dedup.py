"""Deduplication operators.

- ``connected_components``: deterministic min-label propagation over a
  DataFrame edge list (the reference's jgrapht ConnectivityInspector,
  ClusteringProcessor.java:256-258, without GraphFrames) — the
  dedup-group former for near-duplicate conversations.
- ``dedup_transcripts``: xcorr-match edges → components → keep the
  lexicographically-smallest conv per component; survivors' rows are
  untouched (per-row text-equality invariant, BASELINE.json).
- Training-data text dedup family over ``documents``:
  exact (hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash — each
  returning keep/duplicate decisions; embedding cosine near-dup lives
  in operators/similarity.py.

Scale notes: label propagation is iterative joins on the edge list —
each round is one shuffle of (edges ⋈ labels); rounds ≈ graph
diameter (match components are near-cliques, so 2-4 rounds).  MinHash
banding turns all-pairs O(N²) into per-bucket candidate joins; band
buckets are salted by construction (hash prefixes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from peakmatch_xcorr_spark.plans import drop_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """Deterministic connected components: every vertex converges to
    the minimum vertex id reachable from it.  Returns (id, component).

    Implementation: large-star/small-star-style min-label propagation
    with plain DataFrame joins; caches each round and checks
    convergence via a changed-labels count (bounded by ``max_iter``,
    raises if not converged — determinism over silent wrong answers).

    Small graphs (≤ ``driver_max_edges`` input edges with non-null
    endpoints, i.e. what you'd happily broadcast) skip the loop
    entirely: one bounded collect both sizes the graph and feeds
    union-find on the driver, which needs no symmetrized copy.  Each
    distributed round costs ~3 scheduled jobs regardless of data size,
    so a 500-edge match graph otherwise pays seconds of pure latency;
    the distributed path remains the anchor for graphs that don't fit
    one machine, and both paths are tested equal.  Set
    ``driver_max_edges=0`` to force the loop.
    """
    # localCheckpoint (not cache) on every iteration state: iterative
    # DataFrame loops otherwise re-analyze an ever-growing logical plan
    # each round (lineage explosion — analysis cost, not compute, was
    # the bottleneck on plans rooted at cogroup/UDF stages)
    # the iteration state is small relative to the edge-generation
    # stages upstream — run the loop at modest parallelism so the
    # per-iteration fixed cost (tasks × rounds) stays low; at true
    # scale pass a larger ``loop_partitions``
    spark = edges.sparkSession
    loop_parts = max(4, spark.sparkContext.defaultParallelism // 4)
    # a null endpoint is not a vertex: drop such edges up front so both
    # paths agree (null join keys never match in the loop; pd.factorize
    # would encode None as -1 and corrupt the union-find)
    non_null = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    fwd = non_null.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    both = fwd.union(non_null.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    if driver_max_edges:
        # bounded collect: limit reads at most the threshold, not the
        # whole (possibly billion-edge) list
        pdf = fwd.limit(driver_max_edges + 1).toPandas()
        if len(pdf) <= driver_max_edges:
            # ids keep the union's (widened) type, as on the loop path
            return _driver_union_find(spark, pdf, both.schema["u"].dataType)
    sym = both.distinct().repartition(loop_parts, "u").localCheckpoint()
    # init with min(id, min neighbour): star components converge at
    # init, saving one full propagate round (≈3 jobs) on the loop path
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("id"), F.least("u", "mv").alias("component"))
        .localCheckpoint()
    )
    # a mid-loop failure (or the no-fixpoint raise below) must still
    # drop the live checkpoint states (sym + current labels), or they
    # leak for the session lifetime — same class as the kmeans_fit /
    # pagerank fix (r4 advice); if an iteration threw before the
    # `labels = new_labels` swap, `labels` still names the prior
    # (undropped) state, so the except arm's drops are exact
    try:
        for _ in range(max_iter):
            # candidate label per vertex: min over neighbours' labels …
            neigh = (
                sym.join(labels, sym.v == labels.id)
                .select(F.col("u").alias("id"), F.col("component"))
            )
            # … plus pointer jumping (component-of-component), which
            # collapses long chains in O(log diameter) rounds instead
            # of O(diameter)
            jump = (
                labels.alias("a")
                .join(
                    labels.select(
                        F.col("id").alias("component"),
                        F.col("component").alias("cc"),
                    ).alias("b"),
                    "component",
                )
                .select(F.col("id"), F.col("cc").alias("component"))
            )
            new_labels = (
                labels.select("id", "component")
                .union(neigh)
                .union(jump)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
                .localCheckpoint()
            )
            try:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "id")
                    .filter(F.col("n.component") != F.col("o.component"))
                    .count()
                )
            except BaseException:
                drop_checkpoint(new_labels)
                raise
            # the changed-count was the old labels' last reader; drop
            # its checkpoint blocks so storage stays O(1) in rounds
            # (the pagerank lesson, ADVICE r4) — checkpoints here are
            # eager, so new_labels' blocks never depend on the old ones
            drop_checkpoint(labels)
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_iter} iters"
            )
    except BaseException:
        drop_checkpoint(labels)
        drop_checkpoint(sym)
        raise
    drop_checkpoint(sym)
    return labels


def _driver_union_find(spark, pdf, id_type) -> DataFrame:
    """Union-find over a small edge list (pandas ``u``, ``v``), on the
    driver.

    Same contract as the distributed loop: (id, component) where
    component is the MINIMUM original vertex value in the component
    (min w.r.t. the column's own ordering — string ids compare
    lexicographically, exactly like ``F.min``).  Union-find treats
    every edge as undirected, so the list needs no reversed copies.
    The bounded collect is the same trust level as a broadcast join's
    build side.
    """
    import numpy as np
    import pandas as pd

    out_schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    if pdf.empty:
        return spark.createDataFrame([], out_schema)
    codes, uniques = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True), sort=False
    )
    n = len(uniques)
    uc, vc = codes[: len(pdf)], codes[len(pdf):]
    parent = np.arange(n, dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(uc.tolist(), vc.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(n)])
    lab = pd.DataFrame({"id": uniques, "root": roots})
    lab["component"] = lab.groupby("root")["id"].transform("min")
    return spark.createDataFrame(lab[["id", "component"]], out_schema)


def dedup_keepers(matches: DataFrame) -> DataFrame:
    """From verified match pairs, compute the set of conv_ids to DROP
    (everything in a component except its minimum id)."""
    comps = connected_components(matches)
    return comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("drop_id")
    )


def dedup_transcripts(transcripts: DataFrame, matches: DataFrame) -> DataFrame:
    """Remove near-duplicate conversations, keeping the canonical
    (minimum) conv_id per match component.  Anti-join leaves surviving
    rows byte-identical (per-row invariant tested).

    No forced broadcast hint: the drop set is unbounded (a
    high-duplication corpus can drop most conv_ids), and an explicit
    hint bypasses the autoBroadcast size check — AQE broadcasts the
    anti-join side at runtime when it IS small, and falls back to a
    shuffled join when it isn't, instead of OOMing the driver."""
    drops = dedup_keepers(matches)
    return transcripts.join(
        drops,
        transcripts.conv_id == drops.drop_id,
        "left_anti",
    )


# ------------------------------------------------------------------ text dedup

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash groupBy: one row per distinct text with the
    minimum id kept and the duplicate count."""
    return (
        docs.withColumn("h", F.md5(F.col(text_col)))
        .groupBy("h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _shingle_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    distinct: bool = True,
) -> DataFrame:
    """Character k-shingle rows ``(id, g)`` (lowercased,
    whitespace-collapsed), whole-stage codegen end to end: normalize
    once per row, explode start positions, substr.  The
    higher-order-function form (``transform`` + lambda) evaluates the
    lambda interpreted per array element — measured ~5x slower than
    this generator shape, which stays inside codegen.

    Inputs narrower than the session's core count (one small parquet
    file → one partition) are respread so the shingle scan
    parallelizes; at scale the input already has >= cores partitions
    and the guard is a no-op."""
    spread = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    target = docs.sparkSession.sparkContext.defaultParallelism
    if spread.rdd.getNumPartitions() < target:
        spread = spread.repartition(target)
    normed = spread.select(
        "id", F.lower(F.regexp_replace(F.col("txt"), r"\s+", " ")).alias("nrm")
    )
    n = F.greatest(F.length("nrm") - F.lit(k - 1), F.lit(1))
    rows = normed.select(
        "id", "nrm", F.explode(F.sequence(F.lit(1), n)).alias("i")
    ).select("id", F.col("nrm").substr(F.col("i"), F.lit(k)).alias("g"))
    return rows.distinct() if distinct else rows


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity on candidate pairs that share at
    least one shingle (inverted-index join), filtered to >= threshold.
    Quadratic only within shingle buckets — the relational form of the
    reference's 'prune then verify' design.

    ``max_shingle_df`` drops stop-shingles whose document frequency
    exceeds the cap from BOTH the index and the per-doc shingle counts
    (Jaccard over the informative-shingle universe).  Without it, one
    shingle shared by millions of documents makes its bucket quadratic
    — at 100 TB the cap is mandatory; high-Jaccard recall is unchanged
    because near-dup pairs share many informative shingles (tested
    with a planted stop-shingle)."""
    # one shuffle for dedup + per-doc count: collect_set inside the
    # groupBy dedups shingles and sizes the set in the same exchange
    # (distinct + window would shuffle the exploded table twice more)
    sets = (
        _shingle_rows(docs, id_col, text_col, k, distinct=False)
        .groupBy("id")
        .agg(F.collect_set("g").alias("sh"))
    )
    inv = sets.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("g")
    )
    if max_shingle_df is not None:
        keep = (
            inv.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("g")
        )
        kept = inv.join(keep, "g", "left_semi")
        n_kept = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        inv = kept.drop("n_sh").join(n_kept, "id")
    # the self-join references inv twice and each alias would
    # re-derive the whole shingle-explode subtree (plus the cap's two
    # extra joins) — compute it once (the multi-reference rule from
    # _lsh_bucket_frames; measured 27 exchanges -> fewer on the capped
    # contract query)
    inv = inv.localCheckpoint(eager=False)
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH banding: shingle → num_hashes minhashes (xxhash64
    with per-hash seeds, all JVM-side) → band signatures → bucket join.
    Returns candidate pairs (id_a, id_b) — verify with
    ``ngram_jaccard_pairs`` semantics or accept at banding precision."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); trailing hashes would be computed but unused"
        )
    rows_per_band = num_hashes // bands
    # duplicate shingles can't change a min, so skip the distinct shuffle
    sh = _shingle_rows(docs, id_col, text_col, k, distinct=False)
    # minhash_i = min over shingles of xxhash64(shingle, seed=i)
    mh = sh.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("g"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.hash(*cols).alias("sig"))
        )
    buckets = mh.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )
    return (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "sig"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    prefix_bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint per document + a prefix bucket for blocked
    near-dup search.  Token-weighted bit votes, all JVM-side:
    tokens → xxhash64 → per-bit +1/-1 votes → sign.

    Returns (id, simhash, bucket).  Pairs within a bucket are
    Hamming-near candidates (prefix LSH)."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            # Unicode classes, not \w: ASCII-only \w blanks CJK /
            # Cyrillic / accented text entirely, so such documents
            # would get NO fingerprint and silently vanish
            F.split(
                F.lower(F.regexp_replace(F.col(text_col), r"[^\p{L}\p{N}_\s]", " ")),
                r"\s+",
            )
        ).alias("t"),
    ).filter(F.length("t") > 0)
    h = toks.withColumn("hv", F.xxhash64("t"))
    votes = h.select(
        "id",
        *[
            F.when(F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"b{i}")
            for i in range(bits)
        ],
    ).groupBy("id").agg(*[F.sum(f"b{i}").alias(f"b{i}") for i in range(bits)])
    sim = votes.select(
        "id",
        sum(
            (F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long") * F.lit(2 ** i if i < 63 else -(2 ** 63)))
            for i in range(bits)
        ).alias("simhash"),
    )
    return sim.withColumn(
        "bucket", F.shiftrightunsigned(F.col("simhash"), bits - prefix_bits)
    )
