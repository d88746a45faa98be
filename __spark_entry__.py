"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship rollup+gap-fill pipeline at
sf0.001.  ``queries()`` / ``oracle_sql()`` expose every SQL-expressible
operator from SURVEY.md §2 for the DuckDB cross-check at sf0.01.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL.  Float aggregates are rounded on
BOTH sides (2 dp for large-magnitude sums, 6 dp for unit-scale
averages) so accumulation-order differences can't flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tumbling rollup cascade + LOCF gap-fill on the events
    stream at sf0.001 (the engine's primary timeseries path)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import (
        gap_fill_locf,
        rollup_cascade,
    )

    events = _t(spark, "/root/testdata/sf0.001", "events")
    tiers = rollup_cascade(events, ["user_id"], "ts", "value")
    return gap_fill_locf(tiers["1 hour"], ["user_id"], "1 hour")


# ---------------------------------------------------------------- queries

def _q_rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    rolled = tumbling_rollup(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 minute")
    return rolled.select(
        "user_id", "bucket_start", "turns",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        "vmin", "vmax",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_ROLLUP_1M = """
SELECT user_id, date_trunc('minute', ts) AS bucket_start,
       count(*) AS turns,
       round(sum(value) + 1e-9, 2) AS vsum,
       min(value) AS vmin, max(value) AS vmax,
       round(avg(value) + 1e-9, 6) AS vavg
FROM events GROUP BY 1, 2
"""


def _q_rollup_1h_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h tier computed FROM the 1m tier (continuous-aggregate step);
    oracle recomputes directly from raw — parity is the point."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import rollup_cascade

    tiers = rollup_cascade(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value",
                           ("1 minute", "1 hour"))
    t = tiers["1 hour"]
    return t.select(
        "user_id", "bucket_start", "turns",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        "vmin", "vmax",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_ROLLUP_1H = _SQL_ROLLUP_1M.replace("'minute'", "'hour'")


def _q_rollup_1d_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import rollup_cascade

    tiers = rollup_cascade(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value")
    return tiers["1 day"].select(
        "user_id", "bucket_start", "turns",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        "vmin", "vmax",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_ROLLUP_1D = _SQL_ROLLUP_1M.replace("'minute'", "'day'")


def _q_rollup_15m_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-width tier: 15m cascaded FROM the 1m tier, proving the
    cascade is not hardwired to the 1m/1h/1d trio (bucket_seconds
    accepts any fixed-width interval in F.window's grammar).  Oracle
    recomputes from raw at epoch//900; bucket emitted as epoch seconds
    BIGINT on both sides to sidestep timestamp-type parity."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import rollup_cascade

    tiers = rollup_cascade(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value",
                           ("1 minute", "15 minutes"))
    t = tiers["15 minutes"]
    return t.select(
        "user_id",
        F.col("bucket_start").cast("timestamp").cast("long").alias("bucket_sec"),
        "turns",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        "vmin", "vmax",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_ROLLUP_15M = """
SELECT user_id, (epoch_us(ts) // 900000000) * 900 AS bucket_sec,
       count(*) AS turns,
       round(sum(value) + 1e-9, 2) AS vsum,
       min(value) AS vmin, max(value) AS vmax,
       round(avg(value) + 1e-9, 6) AS vavg
FROM events GROUP BY 1, 2
"""


def _q_activity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-shaped activity rollup: turns per (conv, 1m bucket),
    count-only (the curve that feeds the xcorr dedup kernels)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    events = _t(spark, sf_dir, "events")
    transcripts = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts"),
    )
    return tumbling_rollup(transcripts, ["conv_id"], "ts", None, "1 minute")


_SQL_ACTIVITY = """
SELECT cast(user_id AS varchar) AS conv_id,
       date_trunc('minute', ts) AS bucket_start,
       count(*) AS turns
FROM events GROUP BY 1, 2
"""


def _q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import gap_fill_locf, tumbling_rollup

    rolled = tumbling_rollup(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour")
    filled = gap_fill_locf(rolled, ["user_id"], "1 hour")
    return filled.select(
        "user_id", "bucket_start", "turns", "filled",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_GAPFILL_LOCF = """
WITH rolled AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         count(*) AS turns, avg(value) AS vavg
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT user_id,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_start
  FROM (SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
        FROM rolled GROUP BY 1)
), j AS (
  SELECT s.user_id, s.bucket_start, r.turns, r.vavg
  FROM spine s LEFT JOIN rolled r USING (user_id, bucket_start)
)
SELECT user_id, bucket_start,
       coalesce(turns, 0) AS turns,
       (turns IS NULL) AS filled,
       round(last_value(vavg IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6) AS vavg
FROM j
"""


def _q_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import gap_fill_linear, tumbling_rollup

    rolled = tumbling_rollup(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour")
    filled = gap_fill_linear(rolled, ["user_id"], "1 hour", "vavg")
    return filled.select(
        "user_id", "bucket_start", "turns", "filled",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_GAPFILL_LINEAR = """
WITH rolled AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         count(*) AS turns, avg(value) AS vavg
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT user_id,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_start
  FROM (SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
        FROM rolled GROUP BY 1)
), j AS (
  SELECT s.user_id, s.bucket_start, r.turns, r.vavg,
         epoch(s.bucket_start) AS tsec
  FROM spine s LEFT JOIN rolled r USING (user_id, bucket_start)
), br AS (
  SELECT *,
    last_value(vavg IGNORE NULLS) OVER w_prev AS prev_v,
    last_value(CASE WHEN vavg IS NOT NULL THEN tsec END IGNORE NULLS) OVER w_prev AS prev_t,
    first_value(vavg IGNORE NULLS) OVER w_next AS next_v,
    first_value(CASE WHEN vavg IS NOT NULL THEN tsec END IGNORE NULLS) OVER w_next AS next_t
  FROM j
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY bucket_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id ORDER BY bucket_start
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket_start,
       coalesce(turns, 0) AS turns,
       (turns IS NULL) AS filled,
       round(CASE
         WHEN vavg IS NOT NULL THEN vavg
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v) * (tsec - prev_t) / (next_t - prev_t)
       END + 1e-9, 6) AS vavg
FROM br
"""


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped agg (threshold filters + grouped aggregation —
    P8/A5/A6 analogue on the driver star schema)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity") + 1e-9, 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice") + 1e-9, 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9, 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity") + 1e-9, 6).alias("avg_qty"),
            F.round(F.avg("l_discount") + 1e-9, 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity) + 1e-9, 2) AS sum_qty,
       round(sum(l_extendedprice) + 1e-9, 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS sum_disc_price,
       round(avg(l_quantity) + 1e-9, 6) AS avg_qty,
       round(avg(l_discount) + 1e-9, 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window top-k (W2/W4 analogue): top 3 events by value per
    event_type, ties broken by event_id."""
    _utc(spark)
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "value", "rn")
    )


_SQL_TOPK = """
SELECT event_type, event_id, value, rn FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user session ids from >30-minute gaps
    (lag + cumulative sum over the ts window)."""
    _utc(spark)
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # FRACTIONAL epoch seconds (unix_micros/1e6, the time_weighted_avg
    # pattern): DuckDB's epoch() keeps the sub-second part, and every
    # testdata ts has one — a whole-second cast truncates gaps and can
    # split sessions differently from the oracle right at the 1800 s
    # boundary (gap 1800.8 s truncates to 1800, not > 1800)
    tsec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    gap = tsec - F.lag(tsec).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        events.withColumn("session_id", sess.cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


_SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS bigint) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_id
"""


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: md5 hash-groupBy keeping the lowest doc_id per
    text (training-data pipeline primitive)."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("h", F.md5(F.col("text")))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def _q_join_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join (J2 analogue): orders × customer dim."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice") + 1e-9, 2).alias("revenue"),
        )
    )


_SQL_JOIN_OC = """
SELECT c_nationkey, count(*) AS n_orders,
       round(sum(o_totalprice) + 1e-9, 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-difference anti-join (J3 / AnalyseProcessor FP-FN analogue):
    customers with no orders."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_SQL_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""
# NOT EXISTS, not NOT IN: a NULL o_custkey makes NOT IN return zero
# rows while left_anti returns every unmatched customer


# ------------------------------------------------- wider operator coverage

def _q_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine-similarity pairs >= 0.8 (brute-force exactness
    baseline for ANN; operators/similarity.py)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.similarity import _dot, with_unit_vectors

    emb = _t(spark, sf_dir, "embeddings")
    u = with_unit_vectors(emb).select(
        F.col("vec_id").alias("id"), F.col("unit")
    )
    a, b = u.alias("a"), u.alias("b")
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", F.round(_dot(F.col("a.unit"), F.col("b.unit")) + 1e-9, 6))
        .filter(F.col("cosine") >= 0.8)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )
    return pairs


_SQL_COSINE_PAIRS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) + 1e-9, 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) + 1e-9, 6) >= 0.8
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard pairs >= 0.5 (operators/dedup.py)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, threshold=0.5, k=5)
    return out.select(
        "id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard")
    )


_SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 5)
                        for i in range(1, greatest(length(t)-4, 1)+1)]) AS gs
  FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        FROM documents)
), inv AS (
  SELECT doc_id, len(gs) AS n_sh, unnest(gs) AS g FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(inter::DOUBLE / (na + nb - inter) + 1e-9, 6) AS jaccard
FROM pairs
WHERE inter::DOUBLE / (na + nb - inter) >= 0.5
"""


def _q_doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over high-Jaccard edges (the dedup-group
    former, operators/dedup.connected_components) vs a recursive-CTE
    transitive-closure oracle."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5, k=5).select("id_a", "id_b")
    return connected_components(edges).select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"),
    )


_SQL_DOC_COMPONENTS = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 5)
                        for i in range(1, greatest(length(t)-4, 1)+1)]) AS gs
  FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        FROM documents)
), inv AS (
  SELECT doc_id, len(gs) AS n_sh, unnest(gs) AS g FROM sh
), e AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, a.n_sh, b.n_sh
  HAVING count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)) >= 0.5
), sym AS (
  SELECT u, v FROM e UNION SELECT v, u FROM e
), reach(id, comp) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, r.comp FROM sym s JOIN reach r ON s.v = r.id
)
SELECT id, min(comp) AS component FROM reach GROUP BY id
"""


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import token_counts

    docs = _t(spark, sf_dir, "documents")
    return token_counts(docs).select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("approx_gpt_tokens").cast("long").alias("approx_gpt_tokens"),
    )


_SQL_TOKEN_COUNTS = """
SELECT doc_id,
       len(list_filter(
         regexp_split_to_array(
           lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')), '\\s+'),
         x -> length(x) > 0))::BIGINT AS ws_tokens,
       ceil(length(text) / 4.0)::BIGINT AS approx_gpt_tokens
FROM documents
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint groups (md5 variant so the
    oracle hash matches; the engine operator also provides xxhash64)."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (
        docs.withColumn("fp", F.md5(norm))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n"))
    )


_SQL_FINGERPRINT = """
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_doc_id, count(*) AS n
FROM documents GROUP BY 1
"""


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs).select(
        "doc_id", "lang_pred", F.round(F.col("lang_score") + 1e-9, 6).alias("lang_score")
    )


_SQL_LANG_ID = """
WITH toks AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(
             lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')), '\\s+'),
           x -> length(x) > 0) AS ts
  FROM documents
), scored AS (
  SELECT doc_id,
    greatest(len(ts), 1) AS n,
    len(list_filter(ts, x -> x IN ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / greatest(len(ts),1) AS s_en,
    len(list_filter(ts, x -> x IN ('der','die','und','das','ist','nicht','von','mit','den','ein')))::DOUBLE / greatest(len(ts),1) AS s_de,
    len(list_filter(ts, x -> x IN ('le','la','les','et','des','est','dans','que','une','pour')))::DOUBLE / greatest(len(ts),1) AS s_fr,
    len(list_filter(ts, x -> x IN ('el','la','los','de','que','y','en','un','por','con')))::DOUBLE / greatest(len(ts),1) AS s_es
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_en,s_de,s_fr,s_es) < 0.05 THEN 'und'
       WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
       WHEN s_es = greatest(s_en,s_de,s_fr,s_es) THEN 'es'
       WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
       ELSE 'de' END AS lang_pred,
  round(greatest(s_en,s_de,s_fr,s_es) + 1e-9, 6) AS lang_score
FROM scored
"""


def _q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (free from Catalyst; SURVEY §2.5 note)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity") + 1e-9, 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_CUBE_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity) + 1e-9, 2) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
    )


_SQL_PIVOT = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY user_id
"""


def _q_retention_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import (
        retention_expire,
        tumbling_rollup,
    )

    rolled = tumbling_rollup(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour")
    kept = retention_expire(rolled, "2024-01-03 00:00:00")
    return kept.select(
        "user_id", "bucket_start", "turns",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_RETENTION_1H = """
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       count(*) AS turns, round(avg(value) + 1e-9, 6) AS vavg
FROM events GROUP BY 1, 2
HAVING date_trunc('hour', ts) >= TIMESTAMP '2024-01-03 00:00:00'
"""


# -------------------------------------------- rows-only (non-SQL) queries

def _q_dedup_xcorr_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full peakmatch→FFT near-dup pipeline on transcript-shaped data
    derived from events (non-SQL: FFT kernels)."""
    _utc(spark)
    from peakmatch_xcorr_spark.config import EngineConf, PeakmatchConf, RollupConf
    from peakmatch_xcorr_spark.operators.pipeline import find_duplicate_conversations

    events = _t(spark, sf_dir, "events")
    transcripts = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"), "ts"
    )
    conf = EngineConf(
        peakmatch=PeakmatchConf(expected_len=256),
        rollup=RollupConf(activity_curve_len=256),
    )
    return find_duplicate_conversations(transcripts, conf, n_blocks=4)


def _q_pack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla/delta-of-delta codec ROUND-TRIP, oracle-checked: the 1h
    tier is packed (even user_ids with the columnar codec, odd with the
    stream codec, so the union exercises the per-row codec dispatch on
    the read path), then unpacked back to rows and hash-compared
    against DuckDB's direct 1h rollup.  Codec losslessness becomes a
    value-level green row instead of a rows-only self-check."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import (
        pack_tier,
        tumbling_rollup,
        unpack_tier,
    )

    rolled = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    ).withColumn("user_id", F.col("user_id").cast("string"))
    even = rolled.filter(F.col("user_id").cast("int") % 2 == 0)
    odd = rolled.filter(F.col("user_id").cast("int") % 2 == 1)
    packed = pack_tier(even, ["user_id"], codec="columnar").unionByName(
        pack_tier(odd, ["user_id"], codec="stream")
    )
    out = unpack_tier(packed, ["user_id"])
    return out.select(
        F.col("user_id").cast("int").alias("user_id"),
        "bucket_start",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_PACK_ROUNDTRIP = """
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       round(avg(value) + 1e-9, 6) AS vavg
FROM events GROUP BY 1, 2
"""


# Planted dedup copies: explicit user_ids, all verified PEAK-ELIGIBLE
# at sf0.01 (featurize emits >=2 peaks, so the kernel never drops
# them; curve-equal partners of an eligible user are automatically
# eligible because eligibility is a function of the curve).  Includes
# both halves of the curve-equal class {48, 77} and one half of
# {88, 94}; excludes the natural SHIFT-equal pair (128, 68), whose
# xcorr is 1.0 without curve equality and would break SQL
# derivability.
_PLANTED_DEDUP_USERS = (0, 3, 15, 43, 48, 66, 77, 87, 94, 132)


def _planted_conv_inputs(spark: SparkSession, sf_dir: str):
    """Shared setup for the planted-copy dedup queries: returns
    ``(base, copies, conf)`` where ``base`` is every events-derived
    conversation as turn rows ('u<id>', ts), ``copies`` duplicates the
    ``_PLANTED_DEDUP_USERS`` conversations as 'd<id>', and ``conf`` is
    the 256-bucket curve config at final_threshold=0.999 (only
    exact-equal curves match).  The three planted queries
    (dedup_components / lsh_incremental / lsh_multiprobe) share one
    SQL truth (curve-equality classes), so their inputs must be built
    in exactly one place or they silently diverge from it."""
    from peakmatch_xcorr_spark.config import EngineConf, PeakmatchConf, RollupConf

    events = _t(spark, sf_dir, "events")
    base = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        "ts",
    )
    copies = events.filter(
        F.col("user_id").isin(*_PLANTED_DEDUP_USERS)
    ).select(
        F.concat(F.lit("d"), F.col("user_id").cast("string")).alias("conv_id"),
        "ts",
    )
    conf = EngineConf(
        peakmatch=PeakmatchConf(expected_len=256, final_threshold=0.999),
        rollup=RollupConf(activity_curve_len=256),
    )
    return base, copies, conf


def _planted_conv_features(spark: SparkSession, turns, conf):
    """Activity-curve features for a planted-corpus turn frame under
    the shared planted conf (curve geometry in ONE place)."""
    from peakmatch_xcorr_spark.operators.features import conversation_features

    return conversation_features(
        turns, conf.peakmatch,
        bucket=conf.rollup.activity_bucket,
        curve_len=conf.rollup.activity_curve_len,
    )


def _q_dedup_components_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL peakmatch->FFT-verify->connected-components dedup path
    as a HASH-CHECKED row: transcripts are the events-derived convs
    plus planted exact copies (conv 'd<id>' duplicating 'u<id>' for
    each id in _PLANTED_DEDUP_USERS), final_threshold=0.999 so only
    exact-equal (xcorr 1.0) curves match, and the output is the
    (conv_id, keeper) table of components that contain a planted copy.

    Why this is SQL-derivable: at threshold 0.999 the match relation
    on THIS data is curve equality plus one natural shift-equal pair
    (u128~u68, neither planted nor curve-equal to a planted user), so
    the planted-component filter reduces the answer to curve-equality
    classes containing a planted user — computable in DuckDB with a
    group-by on the per-user (bucket_idx, turns) curve list.  The FFT
    kernels stay in the pipeline; only the expected answer is
    equality-join-derivable."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import connected_components
    from peakmatch_xcorr_spark.operators.pipeline import (
        find_duplicate_conversations,
    )

    base, copies, conf = _planted_conv_inputs(spark, sf_dir)
    matches = find_duplicate_conversations(
        base.unionByName(copies), conf, n_blocks=4
    )
    comps = connected_components(matches)  # (id, component=min reachable)
    planted_roots = (
        comps.filter(F.col("id").startswith("d")).select("component").distinct()
    )
    return (
        comps.join(planted_roots, "component", "left_semi")
        .select(F.col("id").alias("conv_id"), F.col("component").alias("keeper"))
    )


_SQL_DEDUP_COMPONENTS_PLANTED = """
WITH r AS (
  SELECT user_id, date_trunc('minute', ts) AS bs, count(*) AS turns
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT user_id,
         CAST((epoch(bs) - min(epoch(bs)) OVER (PARTITION BY user_id)) / 60
              AS BIGINT) AS i,
         turns
  FROM r
), curves AS (
  SELECT user_id, list(struct_pack(i := i, t := turns) ORDER BY i) AS curve
  FROM idx WHERE i < 256 GROUP BY user_id
), classes AS (
  SELECT user_id, min(user_id) OVER (PARTITION BY curve) AS class_root
  FROM curves
), planted_classes AS (
  SELECT DISTINCT class_root FROM classes
  WHERE user_id IN (0, 3, 15, 43, 48, 66, 77, 87, 94, 132)
), members AS (
  SELECT 'u' || CAST(c.user_id AS VARCHAR) AS conv_id, c.class_root
  FROM classes c JOIN planted_classes p USING (class_root)
  UNION ALL
  SELECT 'd' || CAST(c.user_id AS VARCHAR) AS conv_id, c.class_root
  FROM classes c JOIN planted_classes p USING (class_root)
  WHERE c.user_id IN (0, 3, 15, 43, 48, 66, 77, 87, 94, 132)
)
SELECT conv_id, min(conv_id) OVER (PARTITION BY class_root) AS keeper
FROM members
"""


def _q_lsh_incremental_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index refresh (operators/lsh_index.py) as a
    HASH-CHECKED row: cold-index the events-derived conversations,
    then refresh with planted exact copies ('d<id>' of 'u<id>' for
    _PLANTED_DEDUP_USERS) as the new batch; return the match pairs
    that involve a planted copy.

    SQL-derivable for the same reason as dedup_components_planted: at
    final_threshold=0.999 the match relation on this data is curve
    equality (the one natural shift-equal pair u128~u68 involves no
    planted side), and exact copies have identical spectra hence
    identical band signatures — they collide deterministically, so
    LSH recall on the planted pairs is exactly 1.  The expected answer
    is all curve-equality-class pairs with >= 1 planted side."""
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.lsh_index import lsh_index_refresh
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    base, copies, conf = _planted_conv_inputs(spark, sf_dir)
    f_base = _planted_conv_features(spark, base, conf)
    f_all = _planted_conv_features(spark, base.unionByName(copies), conf)
    wh = tempfile.mkdtemp(prefix="pxs_lsh_idx_")
    index = WarehouseTable(wh, "lsh_index")
    saved = WarehouseTable(wh, "lsh_matches")
    lsh_index_refresh(
        spark, f_base, index, saved, conf.peakmatch, n_planes=32, bands=8
    )
    final = lsh_index_refresh(
        spark, f_all, index, saved, conf.peakmatch, n_planes=32, bands=8
    )
    return final.filter(
        F.col("id_a").startswith("d") | F.col("id_b").startswith("d")
    ).select("id_a", "id_b")


_SQL_LSH_INCREMENTAL_PLANTED = """
WITH r AS (
  SELECT user_id, date_trunc('minute', ts) AS bs, count(*) AS turns
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT user_id,
         CAST((epoch(bs) - min(epoch(bs)) OVER (PARTITION BY user_id)) / 60
              AS BIGINT) AS i,
         turns
  FROM r
), curves AS (
  SELECT user_id, list(struct_pack(i := i, t := turns) ORDER BY i) AS curve
  FROM idx WHERE i < 256 GROUP BY user_id
), classes AS (
  SELECT user_id, min(user_id) OVER (PARTITION BY curve) AS class_root
  FROM curves
), members AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS cid, class_root, FALSE AS planted
  FROM classes
  UNION ALL
  SELECT 'd' || CAST(user_id AS VARCHAR) AS cid, class_root, TRUE AS planted
  FROM classes
  WHERE user_id IN (0, 3, 15, 43, 48, 66, 77, 87, 94, 132)
)
SELECT least(a.cid, b.cid) AS id_a, greatest(a.cid, b.cid) AS id_b
FROM members a JOIN members b
  ON a.class_root = b.class_root AND a.cid < b.cid
WHERE a.planted OR b.planted
"""


def _q_lsh_multiprobe_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-scoped dedup tier with the multiprobe recall dial ON
    (weakest-bit-flip neighbor buckets, operators/pairs.py
    lsh_scoped_matches(multiprobe=1)) as a HASH-CHECKED row: planted
    exact copies ('d<id>' of 'u<id>') at final_threshold=0.999, output
    = match pairs with a planted side.

    SQL-derivable for the same reason as lsh_incremental_planted: at
    0.999 the match relation on this data is curve equality (the one
    natural shift-equal pair u128~u68 involves no planted side), exact
    copies collide deterministically in every band (identical spectra
    => identical signatures, and multiprobe only ADDS buckets), so the
    expected answer is all curve-equality-class pairs with >= 1
    planted side — independent of the probe count.  What the query
    checks on top of the base tier: probe-set score-once ownership
    (min (band, sig) of the intersection) emits each pair exactly once
    even though planted pairs now collide in 2x the buckets."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.pairs import lsh_scoped_matches

    base, copies, conf = _planted_conv_inputs(spark, sf_dir)
    feats = _planted_conv_features(spark, base.unionByName(copies), conf)
    matches = lsh_scoped_matches(
        feats, conf.peakmatch, n_planes=32, bands=8, multiprobe=1
    )
    return matches.filter(
        F.col("id_a").startswith("d") | F.col("id_b").startswith("d")
    ).select("id_a", "id_b")


_SQL_LSH_MULTIPROBE_PLANTED = _SQL_LSH_INCREMENTAL_PLANTED


def _q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding candidates (hash-algorithm-specific; the
    Jaccard truth it approximates is oracle-checked separately)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import simhash_buckets

    return simhash_buckets(_t(spark, sf_dir, "documents"))


_PLANT_OFFSET = 100_000  # past max doc_id at every sf (sf0.1 tops at 4999)


def _planted_doc_copies(spark: SparkSession, sf_dir: str):
    """Base documents UNION exact copies (doc_id + _PLANT_OFFSET, text
    verbatim) of every doc_id % 10 == 0.  Shared by the minhash/simhash
    planted-recall promotions; asserts the no-id-collision precondition
    instead of assuming it (the lsh_near_dups lesson)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    # ValueError, not assert: a correctness precondition must survive
    # python -O (a stripped assert would silently re-enable the very
    # id-collision bug this guards against)
    if max_id >= _PLANT_OFFSET:
        raise ValueError(
            f"planted-copy id offset {_PLANT_OFFSET} collides with natural "
            f"doc_id {max_id}; raise the offset"
        )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def _q_minhash_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash+LSH recall on planted EXACT copies, promoted
    to a hash-checked row: identical text → identical shingle set →
    identical minhash in every band → the (src, copy) pair is a
    candidate DETERMINISTICALLY (recall 1.0 by hash determinism, not
    probabilistically), so DuckDB can state the answer without
    computing xxhash64.  The output filters candidates to the planted
    (i, i+offset) keys — recall is what banding guarantees for
    identical inputs; precision stays covered by the rows-only
    minhash_candidates + the oracle-green ngram_jaccard verify."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import minhash_lsh_candidates

    cands = minhash_lsh_candidates(_planted_doc_copies(spark, sf_dir))
    return cands.filter(
        F.col("id_b") == F.col("id_a") + _PLANT_OFFSET
    ).select("id_a", "id_b")


_SQL_MINHASH_PLANTED = f"""
SELECT doc_id AS id_a, doc_id + {_PLANT_OFFSET} AS id_b
FROM documents WHERE doc_id % 10 = 0
"""


def _q_simhash_planted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SimHash blocking recall on planted exact copies:
    identical text → identical token multiset → identical bit votes →
    equal fingerprints in the SAME prefix bucket, Hamming distance 0 —
    deterministic, so the planted pair list IS the answer.  Exercises
    the full tokenize → xxhash64 → bit-vote → prefix-bucket → in-bucket
    pair path with a value-checked oracle."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import simhash_buckets

    planted = _planted_doc_copies(spark, sf_dir)
    # Oracle-parity precondition, asserted rather than assumed: a
    # token-LESS planted source (null/empty/punctuation-only text)
    # gets no fingerprint at all (simhash_buckets drops it), while the
    # SQL oracle emits its pair unconditionally — the hash check would
    # fail with no hint why.  Current testdata has none; verify that
    # instead of trusting it.  (The minhash twin is immune: its
    # shingle generator always emits >= 1 row.)
    tokenless = (
        planted.filter(F.col("doc_id") % 10 == 0)
        .filter(
            F.col("text").isNull()
            | (
                F.length(
                    F.trim(F.regexp_replace("text", r"[^\p{L}\p{N}_\s]", " "))
                )
                == 0
            )
        )
        .count()
    )
    if tokenless:
        raise ValueError(
            f"{tokenless} planted source docs tokenize to nothing; the "
            "unconditional SQL oracle would diverge — exclude them from "
            "the plant"
        )
    sim = simhash_buckets(planted)
    a, b = sim.alias("a"), sim.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("b.id") == F.col("a.id") + _PLANT_OFFSET),
    ).filter(F.col("a.simhash") == F.col("b.simhash"))
    return pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )


_SQL_SIMHASH_PLANTED = _SQL_MINHASH_PLANTED


def _q_dominant_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FFTDOMINANTFREQ over conversation activity curves (non-SQL:
    FFT).  Exploded to scalar rows — one row per (event, freq rank) —
    so the result is hashable/sortable by the harness; the per-event
    scalars (peak_amp, stddev) ride along on every rank row, exactly
    like the reference's one-TSV-line-per-event output
    (DominantFreqProcessor.java:142-159) flattened."""
    _utc(spark)
    from peakmatch_xcorr_spark.config import PeakmatchConf, SpectralConf
    from peakmatch_xcorr_spark.operators.features import conversation_features
    from peakmatch_xcorr_spark.operators.spectral_ops import dominant_freq_table

    events = _t(spark, sf_dir, "events")
    transcripts = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"), "ts"
    )
    feats = conversation_features(
        transcripts, PeakmatchConf(expected_len=256), "1 minute", 256
    )
    dom = dominant_freq_table(feats, SpectralConf(sample_rate=100))
    return dom.select(
        "id",
        F.posexplode("top_freqs").alias("rank", "freq"),
        F.round(F.col("peak_amp") + 1e-9, 6).alias("peak_amp"),
        F.round(F.col("stddev") + 1e-9, 6).alias("stddev"),
    ).select(
        "id", "rank", F.round(F.col("freq") + 1e-9, 6).alias("freq"),
        "peak_amp", "stddev",
    )


def _emb_as_features(spark: SparkSession, sf_dir: str, unit: bool) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    if unit:
        # the library helper, not a bespoke divide: it guards the
        # zero-norm case (ANSI DIVIDE_BY_ZERO aborts the job) and
        # materializes the norm once instead of per element
        from peakmatch_xcorr_spark.operators.similarity import (
            with_unit_vectors,
        )

        emb = with_unit_vectors(emb, vec_col="vec", out_col="vec_u").select(
            "id", F.col("vec_u").alias("vec")
        )
    return emb


def _q_cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for exact all-pairs cosine: blocked cogroup
    self-join (operators/clustering.pair_distances) — no
    BroadcastNestedLoopJoin anywhere in the plan, per-task work is one
    block pair.  Same oracle as the theta-join exactness baseline."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.clustering import pair_distances

    feats = _emb_as_features(spark, sf_dir, unit=True)
    d = pair_distances(feats, metric="cosine", n_blocks=8)
    return (
        d.withColumn("cosine", F.round(F.lit(1.0) - F.col("dist") + 1e-9, 6))
        .filter(F.col("cosine") >= 0.8)
        # recanonicalize numerically (string order '10' < '2' differs)
        .select(
            F.least(F.col("id_a").cast("int"), F.col("id_b").cast("int")).alias("id_a"),
            F.greatest(F.col("id_a").cast("int"), F.col("id_b").cast("int")).alias("id_b"),
            "cosine",
        )
    )


def _q_knn_edges_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN-under-eta edges through the blocked pair_distances +
    ranking-window path (W3/W4) — the no-BNLJ variant of
    knn_edges_embeddings, same oracle."""
    _utc(spark)
    from peakmatch_xcorr_spark.config import ClusterConf
    from peakmatch_xcorr_spark.operators.clustering import (
        knn_edges,
        pair_distances,
    )

    feats = _emb_as_features(spark, sf_dir, unit=False)
    d = pair_distances(feats, metric="euclidean", n_blocks=8).withColumn(
        "dist", F.round(F.col("dist") + 1e-9, 6)
    )
    # pair_distances canonicalizes by STRING id ('10' < '2'); the
    # oracle is numeric — recanonicalize after the int cast (distance
    # is symmetric, flipping a pair is exact)
    ia = F.col("id_a").cast("int")
    ib = F.col("id_b").cast("int")
    d = d.select(
        F.least(ia, ib).alias("id_a"),
        F.greatest(ia, ib).alias("id_b"),
        "dist",
    )
    return knn_edges(d, ClusterConf(k=5, eta=8.0))


def _q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB Jaccard path: stop-shingles (document frequency >
    cap) dropped from index and denominators — bounded bucket sizes,
    same high-Jaccard pairs.  Oracle replicates the DF filter in SQL."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, threshold=0.5, k=5, max_shingle_df=50)
    return out.select(
        "id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard")
    )


_SQL_NGRAM_JACCARD_CAPPED = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([substring(t, i, 5)
                        for i in range(1, greatest(length(t)-4, 1)+1)]) AS gs
  FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        FROM documents)
), inv0 AS (
  SELECT doc_id, unnest(gs) AS g FROM sh
), keep AS (
  SELECT g FROM inv0 GROUP BY g HAVING count(*) <= 50
), inv1 AS (
  SELECT doc_id, g FROM inv0 WHERE g IN (SELECT g FROM keep)
), inv AS (
  SELECT doc_id, g, count(*) OVER (PARTITION BY doc_id) AS n_sh FROM inv1
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(inter::DOUBLE / (na + nb - inter) + 1e-9, 6) AS jaccard
FROM pairs
WHERE inter::DOUBLE / (na + nb - inter) >= 0.5
"""


def _q_band_mean_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded band-mean spectrum rows (A1/A4 surface of the
    FFTDOMINANTFREQ output, DominantFreqProcessor.java:114-140) —
    rows-only (DuckDB has no FFT).  Uses the reference-default bands
    [1-5] [5-8.5] [8.5-10] (xcorr.conf:58, now the SpectralConf
    default), so every event emits 3 band rows."""
    _utc(spark)
    from peakmatch_xcorr_spark.config import PeakmatchConf, SpectralConf
    from peakmatch_xcorr_spark.operators.features import conversation_features
    from peakmatch_xcorr_spark.operators.spectral_ops import dominant_freq_table

    events = _t(spark, sf_dir, "events")
    transcripts = events.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"), "ts"
    )
    feats = conversation_features(
        transcripts, PeakmatchConf(expected_len=256), "1 minute", 256
    )
    dom = dominant_freq_table(feats, SpectralConf(sample_rate=100))
    return dom.select(
        "id", F.posexplode("band_mean_amps").alias("band_idx", "amp")
    ).select("id", "band_idx", F.round(F.col("amp") + 1e-9, 6).alias("amp"))


# ------------------------------------------------- round-1 late additions

def _q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted rollup (skew path) — must equal the plain
    rollup oracle exactly (operators/partitioning.py)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.partitioning import salted_two_phase_rollup

    events = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"), "ts", "value"
    )
    out = salted_two_phase_rollup(events, "1 hour", 16, value_col="value")
    return out.select(
        "conv_id", "bucket_start", "turns",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        "vmin", "vmax",
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_SALTED_ROLLUP = """
SELECT cast(user_id AS varchar) AS conv_id,
       date_trunc('hour', ts) AS bucket_start,
       count(*) AS turns,
       round(sum(value) + 1e-9, 2) AS vsum,
       min(value) AS vmin, max(value) AS vmax,
       round(avg(value) + 1e-9, 6) AS vavg
FROM events GROUP BY 1, 2
"""


def _q_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN-under-eta edges over embeddings (W3/W4 ranking-window
    semantics from the reference's clusterer, on the embedding table).
    Rank key is (rounded distance, id_a, id_b) so float last-ulp
    differences cannot flip ranks between engines."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.similarity import _dot, _norm

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = emb.alias("a"), emb.alias("b")
    sq_a = _dot(F.col("a.v"), F.col("a.v"))
    sq_b = _dot(F.col("b.v"), F.col("b.v"))
    dot = _dot(F.col("a.v"), F.col("b.v"))
    dist = F.round(F.sqrt(F.greatest(sq_a + sq_b - 2 * dot, F.lit(0.0))) + 1e-9, 6)
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            dist.alias("dist"),
        )
    )
    both = pairs.select(F.col("id_a").alias("node"), "id_a", "id_b", "dist").union(
        pairs.select(F.col("id_b").alias("node"), "id_a", "id_b", "dist")
    )
    w = Window.partitionBy("node").orderBy("dist", "id_a", "id_b")
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 5) & (F.col("dist") < 8.0))
        .select("id_a", "id_b", "dist")
        .dropDuplicates(["id_a", "id_b"])
    )


_SQL_KNN_EDGES = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(sqrt(greatest(
           list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])
           + list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])
           - 2 * list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),
           0.0)) + 1e-9, 6) AS dist
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
), nodes2 AS (
  SELECT id_a AS node, id_a, id_b, dist FROM pairs
  UNION ALL
  SELECT id_b AS node, id_a, id_b, dist FROM pairs
), ranked AS (
  SELECT id_a, id_b, dist,
         row_number() OVER (PARTITION BY node ORDER BY dist, id_a, id_b) AS rn
  FROM nodes2
)
SELECT DISTINCT id_a, id_b, dist FROM ranked WHERE rn <= 5 AND dist < 8.0
"""


_LATE_QUERIES = {
    "salted_rollup_1h": (_q_salted_rollup, _SQL_SALTED_ROLLUP),
    "knn_edges_embeddings": (_q_knn_edges, _SQL_KNN_EDGES),
    # scale-safe headline variants: blocked cogroup pair generation,
    # no BroadcastNestedLoopJoin (plan-asserted in tests/test_plans.py)
    "cosine_pairs_blocked": (_q_cosine_pairs_blocked, _SQL_COSINE_PAIRS),
    "knn_edges_blocked": (_q_knn_edges_blocked, _SQL_KNN_EDGES),
}


# ------------------------------------------------- final round-1 queries

def _q_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the star schema (A6/Catalyst-free)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice") + 1e-9, 2).alias("sum_price"),
    )


_SQL_ROLLUP_GS = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_extendedprice) + 1e-9, 2) AS sum_price
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_except_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (J3 / AnalyseProcessor.java:66-87 analogue):
    users seen in clicks but never in purchases."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.subtract(buys)  # EXCEPT (set semantics)


_SQL_EXCEPT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


def _q_centre_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centre mode (J4, ClusteringProcessor.java:85-107) over the
    embedding table: every vector scored against 3 named centres,
    kept under a distance threshold."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.similarity import _dot

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    centres = emb.filter(F.col("id").isin([0, 1, 2])).select(
        F.col("id").alias("centre_id"), F.col("v").alias("cv")
    )
    j = emb.join(F.broadcast(centres), F.col("id") != F.col("centre_id"))
    d2 = (
        _dot(F.col("v"), F.col("v"))
        + _dot(F.col("cv"), F.col("cv"))
        - 2 * _dot(F.col("v"), F.col("cv"))
    )
    dist = F.round(F.sqrt(F.greatest(d2, F.lit(0.0))) + 1e-9, 6)
    return (
        j.withColumn("dist", dist)
        .filter(F.col("dist") <= 7.0)
        .select("centre_id", "id", "dist")
    )


_SQL_CENTRE = """
SELECT c.vec_id AS centre_id, e.vec_id AS id,
       round(sqrt(greatest(
         list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         + list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])
         - 2 * list_dot_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]),
         0.0)) + 1e-9, 6) AS dist
FROM embeddings e
JOIN embeddings c ON c.vec_id IN (0, 1, 2) AND e.vec_id != c.vec_id
WHERE round(sqrt(greatest(
         list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         + list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])
         - 2 * list_dot_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]),
         0.0)) + 1e-9, 6) <= 7.0
"""


_FINAL_QUERIES = {
    "rollup_grouping_sets": (_q_rollup_grouping_sets, _SQL_ROLLUP_GS),
    "except_clicks_no_purchase": (_q_except_setop, _SQL_EXCEPT),
    "centre_distances": (_q_centre_distances, _SQL_CENTRE),
}


def _q_quality_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring feature ratios (operators/textstats.py) with
    ASCII-explicit character classes so both engines agree."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, "[^.,;:!?]", ""))
    return docs.select(
        "doc_id",
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)) + 1e-9, 6).alias("alpha_ratio"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)) + 1e-9, 6).alias("punct_ratio"),
        n_chars.alias("n_chars_obs"),
    )


_SQL_QUALITY_RATIOS = """
SELECT doc_id,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
             / greatest(length(text), 1) + 1e-9, 6) AS alpha_ratio,
       round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
             / greatest(length(text), 1) + 1e-9, 6) AS punct_ratio,
       length(text) AS n_chars_obs
FROM documents
"""


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbours (k-means coarse quantizer +
    n-probe exact re-rank) — approximate by construction, rows-only."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.similarity import ivf_topk, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    cents = kmeans_fit(emb, k=8, dim=dim, max_iter=4)
    # deterministic query set: a bare limit() takes whatever rows the
    # scan yields first, so a parquet re-layout would silently change
    # the result hash the driver records
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(emb, queries_df, cents, k=5, n_probe=2)


def _q_ivf_topk_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with ``n_probe == k_lists`` — every inverted list is
    probed, so the result is by construction the EXACT brute-force
    cosine top-5 and DuckDB can derive it with a plain window query.
    This is the correctness anchor for the rows-only ``ivf_topk``
    (same code path, partial probing): the approximate variant differs
    from this one ONLY in how many lists each query visits.

    Rank parity: cosine is rounded (repo-standard +1e-9 nudge, 6 dp)
    BEFORE the ranking window on both engines, so last-ulp summation
    differences cannot flip ranks (same trick as knn_edges)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.similarity import ivf_topk, kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    cents = kmeans_fit(emb, k=8, dim=dim, max_iter=4)
    queries_df = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        emb, queries_df, cents, k=5, n_probe=len(cents), round_dp=6
    ).select(
        "query_id", "item_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


_SQL_IVF_TOPK_EXHAUSTIVE = """
WITH scored AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id,
         round(list_dot_product(q.embedding::DOUBLE[], i.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[])))
               + 1e-9, 6) AS cosine
  FROM embeddings q
  JOIN embeddings i ON i.vec_id <> q.vec_id
  WHERE q.vec_id < 20
), ranked AS (
  SELECT query_id, item_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, item_id) AS rank
  FROM scored
)
SELECT query_id, item_id, cosine, rank::INT AS rank
FROM ranked WHERE rank <= 5
"""


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): the 6-table join with a
    non-key equality CYCLE (c_nationkey = s_nationkey) closing the
    customer and supplier branches — the one join topology none of the
    other TPC-H shapes exercises.  Scale shape: region/nation/supplier/
    customer are dimension-sized (broadcast), so the only shuffle is
    lineitem x orders on orderkey; the cycle predicate is applied as a
    post-broadcast filter, never a shuffle key."""
    _utc(spark)
    lo, hi = "1996-01-01", "1997-01-01"
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9, 2
        ).alias("revenue")
    )


_SQL_TPCH_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def _q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): fact-fact join under
    a returnflag filter, wide group-by over customer attributes plus a
    broadcast dim, global top-20.  Exercises the many-grouping-columns
    aggregate (5 keys) the narrow shapes don't.  Tiebreak on the
    unique c_custkey makes the LIMIT set deterministic."""
    _utc(spark)
    lo, hi = "1996-10-01", "1997-01-01"
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9,
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def _q_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH-blocked embedding near-duplicates with exact re-rank,
    over the base table UNION planted scaled copies (vec_id+100000,
    embedding doubled) of every vec_id % 10 == 0.  The offset sits
    far past any base vec_id at every sf (sf0.1 reaches 1999), so
    planted ids can never collide with real rows — a +1000 offset
    would alias (0's copy) with real vec 1000 at sf0.1 and make the
    pair set ambiguous.

    Planting makes the check non-vacuous AND fully oracle-able: SRP
    bits are exactly scale-invariant (sign(w·2v) == sign(w·v) — float
    doubling is an exponent bump, every partial sum doubles exactly),
    so a scaled copy lands in the SAME bucket in EVERY band and LSH
    recall on the planted pairs is deterministically 1.0, not
    probabilistic.  The sf0.01 natural cosine max is 0.513, far below
    the 0.9 threshold, so the result set == the exact-cosine set and
    DuckDB can derive it (see the oracle SQL)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.similarity import (
        embedding_near_dups,
        with_unit_vectors,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    # Oracle-parity precondition, asserted rather than assumed: if any
    # NATURAL pair reached the 0.9 threshold, the DuckDB oracle would
    # include it while the LSH blocking could probabilistically miss
    # it, turning a recall property into a spurious red row.  The
    # shipped testdata is small enough (<=2000 vectors) to verify
    # exactly; a larger corpus fails loudly instead of silently
    # betting on the property.
    n_vecs = emb.count()
    if n_vecs > 4000:
        raise ValueError(
            f"lsh_near_dups oracle parity requires verifying that no "
            f"natural pair reaches cosine 0.9, which is quadratic; "
            f"corpus has {n_vecs} vectors (> 4000). Run this query only "
            "on the shipped small-sf testdata, or use "
            "embedding_near_dups directly (recall < 1 by design)."
        )
    u = with_unit_vectors(emb).select("vec_id", "unit")
    ua = u.select(F.col("vec_id").alias("ia"), F.col("unit").alias("va"))
    ub = u.select(F.col("vec_id").alias("ib"), F.col("unit").alias("vb"))
    nat_max = (
        ua.join(ub, F.col("ia") < F.col("ib"))
        .select(
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("cos")
        )
        .agg(F.max("cos"))
        .first()[0]
    )
    if nat_max is not None and nat_max >= 0.9:
        raise ValueError(
            f"natural max cosine {nat_max:.4f} >= 0.9: the planted-pair "
            "oracle is no longer exhaustive for this corpus"
        )
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    out = embedding_near_dups(
        emb.unionByName(planted), dim=dim, threshold=0.9, n_planes=16, bands=8
    )
    return out.select(
        "id_a", "id_b", F.round(F.col("cosine") + 1e-9, 6).alias("cosine")
    )


_SQL_LSH_NEAR_DUPS = """
WITH planted AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(embedding::DOUBLE[], x -> x * 2) AS v
  FROM embeddings WHERE vec_id % 10 = 0
), alls AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL SELECT vec_id, v FROM planted
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v) + 1e-9, 6) AS cosine
FROM alls a JOIN alls b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.9
"""


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features over the deterministic media table — REAL PNG
    payloads decoded strictly through the pure-stdlib codec (zlib +
    numpy scanline unfiltering; kernels/media_codecs.py), no fake
    fallback permitted."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.multimodal import (
        image_features,
        synth_media,
    )

    feats = image_features(synth_media(spark, n=24), strict=True)
    # Explode the feature vector to scalar rows: the harness
    # canonicalizer sorts/hashes cell values, so no array cells.
    return feats.select(
        "media_id", "width", "height",
        F.round(F.col("mean_intensity") + 1e-9, 6).alias("mean_intensity"),
        F.posexplode("feature").alias("feat_idx", "feat_val"),
    ).select(
        "media_id", "width", "height", "mean_intensity", "feat_idx",
        F.round(F.col("feat_val").cast("double") + 1e-9, 6).alias("feat_val"),
    )


def _q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMS + dominant frequency over the deterministic media table —
    REAL 16-bit-PCM WAV payloads decoded strictly through the stdlib
    ``wave`` codec; the dominant-frequency path reuses the engine's
    FFTDOMINANTFREQ kernel on the decoded samples."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.multimodal import (
        audio_features,
        synth_media,
    )

    feats = audio_features(synth_media(spark, n=24), strict=True)
    return feats.select(
        "media_id", "sample_rate",
        F.round(F.col("duration_s") + 1e-9, 6).alias("duration_s"),
        F.round(F.col("rms") + 1e-9, 6).alias("rms"),
        F.round(F.col("dominant_hz") + 1e-9, 6).alias("dominant_hz"),
    )


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: every Nth frame's byte slice as
    a row; emits frame lengths (binary payloads aren't canon-sortable)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.multimodal import (
        sample_frames,
        synth_media,
    )

    frames = sample_frames(synth_media(spark, n=24), every_n=10)
    return frames.select(
        "media_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


def _q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch (the 100 TB path for percentiles —
    exact sorts don't scale; accuracy vs exact is pytest-gated in
    tests/test_wide_operators.py).  Rows-only: the KLL/GK sketch is
    algorithm-specific."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("p")
    ).select(
        "event_type",
        F.round(F.col("p")[0] + 1e-9, 4).alias("p50"),
        F.round(F.col("p")[1] + 1e-9, 4).alias("p95"),
        F.round(F.col("p")[2] + 1e-9, 4).alias("p99"),
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): each click event gets
    the latest hourly vavg at-or-before it; DuckDB's native ASOF JOIN
    is the oracle."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import asof_join
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    hourly = tumbling_rollup(events, ["user_id"], "ts", "value", "1 hour").select(
        "user_id", F.col("bucket_start").alias("ts"), "vavg"
    )
    out = asof_join(clicks, hourly, ["user_id"], value_cols=["vavg"])
    return out.select(
        "user_id", "event_id",
        F.round(F.col("right_vavg") + 1e-9, 6).alias("asof_vavg"),
    )


_SQL_ASOF = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS ts, avg(value) AS vavg
  FROM events GROUP BY 1, 2
), clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.event_id,
       round(h.vavg + 1e-9, 6) AS asof_vavg
FROM clicks c ASOF LEFT JOIN hourly h
  ON c.user_id = h.user_id AND c.ts >= h.ts
"""


def _q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/asof.py asof_join
    direction='forward'): each click gets the EARLIEST hourly vavg
    at-or-after it; DuckDB's ASOF JOIN with the inequality flipped is
    the oracle.  Same one-exchange union+window plan as backward —
    first(ignorenulls) over a leading frame."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import asof_join
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    hourly = tumbling_rollup(
        events, ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", F.col("bucket_start").alias("ts"), "vavg")
    out = asof_join(
        clicks, hourly, ["user_id"], value_cols=["vavg"],
        direction="forward",
    )
    return out.select(
        "user_id", "event_id",
        F.round(F.col("right_vavg") + 1e-9, 6).alias("asof_vavg"),
    )


_SQL_ASOF_FORWARD = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS ts, avg(value) AS vavg
  FROM events GROUP BY 1, 2
), clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.event_id,
       round(h.vavg + 1e-9, 6) AS asof_vavg
FROM clicks c ASOF LEFT JOIN hourly h
  ON c.user_id = h.user_id AND c.ts <= h.ts
"""


def _q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (direction='nearest'): each click gets the
    hourly vavg whose bucket start is closest in absolute time, exact
    tie preferring the backward match (pandas merge_asof convention).
    Gap comparison is exact int64 microseconds on both engines."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import asof_join
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    hourly = tumbling_rollup(
        events, ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", F.col("bucket_start").alias("ts"), "vavg")
    out = asof_join(
        clicks, hourly, ["user_id"], value_cols=["vavg"],
        direction="nearest",
    )
    return out.select(
        "user_id", "event_id",
        F.round(F.col("right_vavg") + 1e-9, 6).alias("asof_vavg"),
    )


_SQL_ASOF_NEAREST = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS ts, avg(value) AS vavg
  FROM events GROUP BY 1, 2
), clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), b AS (
  SELECT c.user_id, c.event_id, c.ts, h.ts AS bts, h.vavg AS bv
  FROM clicks c ASOF LEFT JOIN hourly h
    ON c.user_id = h.user_id AND c.ts >= h.ts
), f AS (
  SELECT c.user_id, c.event_id, c.ts, h.ts AS fts, h.vavg AS fv
  FROM clicks c ASOF LEFT JOIN hourly h
    ON c.user_id = h.user_id AND c.ts <= h.ts
)
SELECT b.user_id, b.event_id,
       round(CASE WHEN b.bts IS NULL THEN f.fv
                  WHEN f.fts IS NULL THEN b.bv
                  WHEN abs(epoch_us(f.ts) - epoch_us(f.fts))
                       < abs(epoch_us(b.ts) - epoch_us(b.bts))
                  THEN f.fv ELSE b.bv END + 1e-9, 6) AS asof_vavg
FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id
"""


def _q_interval_join_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed event-time interval join (operators/asof.py
    interval_join): purchases within 1 hour after each click, per
    user — funnel attribution.  The plan is a plain equi-join on
    (user_id, time-bucket) with each click exploding to exactly two
    adjacent buckets; the oracle is the literal theta join.  Lag is
    emitted in integer microseconds so both engines hash identical
    values."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import interval_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    out = interval_join(
        clicks, purchases, ["user_id"], 0.0, 3600.0,
        right_cols=["purchase_id"],
    )
    return out.select(
        "user_id", "click_id",
        F.col("right_purchase_id").alias("purchase_id"),
        (
            F.unix_micros(F.col("right_ts"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("lag_us"),
    )


_SQL_INTERVAL_JOIN = """
SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) >= epoch_us(a.ts)
 AND epoch_us(b.ts) <  epoch_us(a.ts) + 3600000000
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


def _q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import time_weighted_avg

    events = _t(spark, sf_dir, "events")
    out = time_weighted_avg(events, ["user_id"], "1 hour")
    return out.select(
        "user_id", "bucket_start",
        F.round(F.col("twa") + 1e-9, 6).alias("twa"),
        F.round(F.col("covered_s") + 1e-9, 3).alias("covered_s"),
    )


_SQL_TWA = """
WITH obs AS (
  SELECT user_id, value,
         epoch(ts) AS s,
         coalesce(lead(epoch(ts)) OVER w,
                  (floor(epoch(ts) / 3600) + 1) * 3600) AS e
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts))
), seg AS (
  SELECT user_id, value, s, e,
         unnest(generate_series(
           floor(s / 3600)::BIGINT,
           greatest(floor((e - 1e-9) / 3600)::BIGINT, floor(s / 3600)::BIGINT)
         )) AS bi
  FROM obs
), weighted AS (
  SELECT user_id, make_timestamp((bi * 3600)::BIGINT * 1000000) AS bucket_start,
         value,
         greatest(least(e, (bi + 1) * 3600.0) - greatest(s, bi * 3600.0), 0) AS wt
  FROM seg
)
SELECT user_id, bucket_start,
       round(sum(value * wt) / sum(wt) + 1e-9, 6) AS twa,
       round(sum(wt) + 1e-9, 3) AS covered_s
FROM weighted GROUP BY 1, 2
HAVING sum(wt) > 0
"""


def _q_duration_in_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed state occupancy (operators/stateagg.py
    duration_in_buckets): per (user, day, event_type-as-state), LOCF
    dwell seconds with segments split exactly at day boundaries —
    TimescaleDB's interpolated duration_in rolled into buckets.  One
    window exchange; the (key, bucket, state) aggregate reuses the
    key distribution."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stateagg import duration_in_buckets

    ev = _t(spark, sf_dir, "events")
    return duration_in_buckets(
        ev, "user_id", "event_type", "1 day", "ts",
        tiebreak_cols=("event_id",),
    )


_SQL_DURATION_IN_1D = """
WITH obs AS (
  SELECT user_id, event_type AS state,
         epoch(ts) AS s,
         coalesce(lead(epoch(ts)) OVER w,
                  (floor(epoch(ts) / 86400) + 1) * 86400) AS e
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_id)
), seg AS (
  SELECT user_id, state, s, e,
         unnest(generate_series(
           floor(s / 86400)::BIGINT,
           greatest(floor((e - 1e-9) / 86400)::BIGINT,
                    floor(s / 86400)::BIGINT)
         )) AS bi
  FROM obs
), weighted AS (
  SELECT user_id, state,
         make_timestamp((bi * 86400)::BIGINT * 1000000) AS bucket_start,
         greatest(least(e, (bi + 1) * 86400.0)
                  - greatest(s, bi * 86400.0), 0) AS wt
  FROM seg
)
SELECT user_id, bucket_start, state,
       round(sum(wt) + 1e-9, 3) AS seconds
FROM weighted GROUP BY 1, 2, 3
HAVING round(sum(wt) + 1e-9, 3) > 0
"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum reproducible sample
    (trainprep.stratified_sample): 5 documents per source ranked by
    the md5-keyed draw, ties by id — balanced eval-set construction.
    One window exchange; membership is a pure function of
    (seed, doc_id, k) within each stratum."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, ["source"], k=5)


_SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY ('0x' || substr(md5('sample-v1:' || CAST(doc_id AS VARCHAR)),
                           1, 8))::BIGINT ASC,
           doc_id ASC
) <= 5
"""


def _q_overlap_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/asof.py overlap_join): per
    user, daily click-activity spans [first click, last click + 1µs)
    overlapping daily view-activity spans — "was the user clicking
    and viewing at the same moments?".  The plan is a plain equi-join
    on (user, time-bucket) with each span exploding to the buckets it
    covers and exactly ONE bucket owning each pair (the bucket of the
    later start — both sides cover it whenever they overlap), so no
    distinct() pass; the oracle is the literal theta join."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import overlap_join

    ev = _t(spark, sf_dir, "events")

    def spans(et: str, tag: str):
        return (
            ev.filter(F.col("event_type") == et)
            .groupBy(
                "user_id",
                F.window("ts", "1 day").start.alias(f"{tag}_day"),
            )
            .agg(
                F.min("ts").alias("start"),
                # interval add keeps the NTZ type (unix_micros would
                # demand a tz-aware cast round-trip)
                (F.max("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias(
                    "end"
                ),
            )
        )

    out = overlap_join(
        spans("click", "click"), spans("view", "view"), ["user_id"],
        span_s=86400.0, right_cols=["view_day"],
    )
    return out.select(
        "user_id", "click_day",
        F.col("right_view_day").alias("view_day"), "overlap_us",
    )


_SQL_OVERLAP_ACTIVITY = """
WITH c AS (
  SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS click_day,
         min(ts) AS s, max(ts) + INTERVAL 1 MICROSECOND AS e
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), v AS (
  SELECT user_id, date_trunc('day', ts)::TIMESTAMP AS view_day,
         min(ts) AS s, max(ts) + INTERVAL 1 MICROSECOND AS e
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.user_id, c.click_day, v.view_day,
       epoch_us(least(c.e, v.e)) - epoch_us(greatest(c.s, v.s))
         AS overlap_us
FROM c JOIN v
  ON c.user_id = v.user_id AND c.s < v.e AND v.s < c.e
"""


def _q_time_weighted_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear time-weighted average (operators/asof.py
    time_weighted_avg(method='linear')): the signal interpolates
    linearly between consecutive samples and each bucket averages the
    exact trapezoid integral of its intersection with every segment —
    TimescaleDB time_weight('Linear').  The last sample closes no
    segment, so tail coverage stops at the data."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.asof import time_weighted_avg

    events = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = time_weighted_avg(events, ["user_id"], "1 hour", method="linear")
    return out.select(
        "user_id", "bucket_start",
        F.round(F.col("twa") + 1e-9, 6).alias("twa"),
        F.round(F.col("covered_s") + 1e-9, 3).alias("covered_s"),
    )


_SQL_TWA_LINEAR = """
WITH obs AS (
  SELECT user_id, value AS v,
         epoch(ts) AS s,
         lead(epoch(ts)) OVER w AS e,
         lead(value) OVER w AS nv
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts))
), seg AS (
  SELECT user_id, v, nv, s, e,
         unnest(generate_series(
           floor(s / 3600)::BIGINT,
           greatest(floor((e - 1e-9) / 3600)::BIGINT,
                    floor(s / 3600)::BIGINT)
         )) AS bi
  FROM obs WHERE e IS NOT NULL AND e > s
), cut AS (
  SELECT user_id, v, nv, s, e, bi,
         greatest(s, bi * 3600.0) AS a,
         least(e, (bi + 1) * 3600.0) AS b
  FROM seg
), weighted AS (
  SELECT user_id,
         make_timestamp((bi * 3600)::BIGINT * 1000000) AS bucket_start,
         greatest(b - a, 0) AS wt,
         greatest(b - a, 0)
           * ((v + (nv - v) / (e - s) * (a - s))
            + (v + (nv - v) / (e - s) * (b - s))) / 2 AS contrib
  FROM cut
)
SELECT user_id, bucket_start,
       round(sum(contrib) / sum(wt) + 1e-9, 6) AS twa,
       round(sum(wt) + 1e-9, 3) AS covered_s
FROM weighted GROUP BY 1, 2
HAVING sum(wt) > 0
"""


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (A5-adjacent)."""
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)") + 1e-9, 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)") + 1e-9, 6).alias("p90"),
    )


_SQL_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5) + 1e-9, 6) AS p50,
       round(quantile_cont(value, 0.9) + 1e-9, 6) AS p90
FROM events GROUP BY event_type
"""


def _q_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (A4's relational form,
    DominantFreqProcessor.java:114-140: mean amplitude per configured
    band): event values joined to value bands, mean per band."""
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 50.0, "mid"), (50.0, 1e9, "high")],
        "lo double, hi double, band string",
    )
    j = events.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value") + 1e-9, 6).alias("mean_value"),
    )


_SQL_BAND_JOIN = """
WITH bands(lo, hi, band) AS (
  VALUES (0.0, 10.0, 'low'), (10.0, 50.0, 'mid'), (50.0, 1e9, 'high')
)
SELECT band, count(*) AS n, round(avg(value) + 1e-9, 6) AS mean_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def _q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + approximate distinct aggregation (A6 + Spark-free
    approx_count_distinct; the approx column is engine-specific so the
    oracle checks only the exact one... both kept exact here)."""
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SQL_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
"""


def _q_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h moving aggregates over the 1h tier
    (rollup.sliding_window_agg): true point-weighted moving average
    (sum-of-vsum / sum-of-vcount) + moving max + moving turn count per
    user at every 1h bucket.  One window shuffle, range frame over
    epoch seconds — DuckDB's RANGE BETWEEN window is the oracle."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import (
        sliding_window_agg,
        tumbling_rollup,
    )

    tier = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    )
    out = sliding_window_agg(tier, ["user_id"], "1 day", "1 hour")
    return out.select(
        "user_id", "bucket_start", "mturns",
        F.round(F.col("mavg") + 1e-9, 6).alias("mavg"),
        F.round(F.col("mmax") + 1e-9, 6).alias("mmax"),
    )


_SQL_ROLLING_24H = """
WITH t AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         count(*) AS turns, count(value) AS vcount, sum(value) AS vsum,
         max(value) AS vmax
  FROM events GROUP BY 1, 2
)
SELECT user_id, bucket_start,
       CAST(sum(turns) OVER w AS BIGINT) AS mturns,
       round(sum(vsum) OVER w / sum(vcount) OVER w + 1e-9, 6) AS mavg,
       round(max(vmax) OVER w + 1e-9, 6) AS mmax
FROM t
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(bucket_start)
             RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW)
"""

def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): segment-filtered customers
    x orders x lineitem, revenue per order, top 10.  Exercises the
    multi-way broadcast-then-shuffle join + agg + global top-k path;
    the tiebreak on the unique l_orderkey makes the LIMIT set
    deterministic on both engines."""
    _utc(spark)
    cutoff = "1998-06-15"
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                + 1e-9, 2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15'
  AND l_shipdate > TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def _q_dominant_freq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked oracle for the FFT dominant-frequency kernel
    (kernels/spectral.py topk_dominant_freqs, A3/K5): 50 planted
    two-tone curves whose top-2 dominant bins are ANALYTIC, so DuckDB
    needs no FFT to know the answer.

    Curve i is cos(2*pi*k*t/256) + 0.8*cos(2*pi*m*t/256) with
    k = 3+(i%10), m = k+12, t = 0..255.  The engine zero-pads to
    nextPowerOfTwo(2*256) = 512, so an integer-bin tone of the
    length-256 DFT peaks exactly at bin 2k of the padded FFT
    (the Dirichlet kernel |sin(pi*n*x)/sin(pi*x)| is maximal at x=0),
    giving freq = 2k*sample_rate/512 = k*100/256.  Magnitude order is
    provable: tone peaks are A*n/2 = 128 and 102.4; the largest
    zero-padding side lobe is 0.5/sin(pi/512) = 81.5 of tone 1 at
    bin 2k+-1, which the 0.5 Hz spacing dedup would drop anyway
    (0.195 Hz away) — so top-2 = [k, m] tones for every curve, and
    both bins sit inside the [1,10] Hz filter window (indices 5..50
    at base 512//100 = 5).  Verified bit-exact against the kernel for
    all 50 curves before registration.

    Same promotion trick as dedup_components_planted: a planted input
    with an analytically-derivable answer turns a rows-only FFT check
    into a green hash-matched row."""
    _utc(spark)
    import math

    from peakmatch_xcorr_spark.config import SpectralConf
    from peakmatch_xcorr_spark.operators.spectral_ops import dominant_freq_table

    two_pi = 2.0 * math.pi
    k = F.col("id") % 10 + 3
    m = k + 12
    curves = (
        spark.range(50)
        .select(
            F.col("id").cast("string").alias("conv_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(255)),
                lambda t: (
                    F.cos(F.lit(two_pi) * k * t / F.lit(256.0))
                    + F.lit(0.8) * F.cos(F.lit(two_pi) * m * t / F.lit(256.0))
                ),
            ).alias("series"),
        )
    )
    dom = dominant_freq_table(
        curves,
        SpectralConf(sample_rate=100, top_freq_count=2),
        peak_amp_col=None,
    )
    return dom.select(
        F.col("id").cast("int").alias("id"),
        F.posexplode("top_freqs").alias("rank", "freq"),
    ).select("id", "rank", F.round(F.col("freq") + 1e-9, 6).alias("freq"))


_SQL_DOMINANT_FREQ_PLANTED = """
WITH tones AS (
  SELECT range AS id, 3 + (range % 10) AS k, 15 + (range % 10) AS m
  FROM range(0, 50)
)
SELECT id::INT AS id, 0 AS rank, round(k * 100.0 / 256 + 1e-9, 6) AS freq
FROM tones
UNION ALL
SELECT id::INT, 1, round(m * 100.0 / 256 + 1e-9, 6) FROM tones
"""


def _q_band_mean_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked oracle for the band-mean rollup (A1/A4,
    Util.java:214-251 / DominantFreqProcessor.java:114-140) via
    planted IMPULSE curves: the DFT of a*delta(t-s) has |X_k| = a at
    EVERY bin (|e^{-i w s}| = 1, any shift, any zero-padding), so the
    mean |FFT| over every configured band is exactly the impulse
    amplitude — no FFT needed on the DuckDB side.  FFT roundoff is
    ~1e-15, absorbed by the repo-standard round(+1e-9, 6).

    Complements dominant_freq_planted (two-tone curves prove BIN
    SELECTION); this proves the filter-bounds + band-bucket + mean
    path on the same kernel."""
    _utc(spark)
    from peakmatch_xcorr_spark.config import SpectralConf
    from peakmatch_xcorr_spark.operators.spectral_ops import dominant_freq_table

    amp = (F.col("id") % 5 + 1).cast("double")
    pos = (F.col("id") * 7) % 256
    curves = spark.range(50).select(
        F.col("id").cast("string").alias("conv_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda t: F.when(t == pos, amp).otherwise(F.lit(0.0)),
        ).alias("series"),
    )
    dom = dominant_freq_table(
        curves, SpectralConf(sample_rate=100), peak_amp_col=None
    )
    return dom.select(
        F.col("id").cast("int").alias("id"),
        F.posexplode("band_mean_amps").alias("band_idx", "amp"),
    ).select("id", "band_idx", F.round(F.col("amp") + 1e-9, 6).alias("amp"))


_SQL_BAND_MEAN_PLANTED = """
SELECT id::INT AS id, band_idx, round((id % 5 + 1) + 1e-9, 6) AS amp
FROM range(0, 50) t(id)
CROSS JOIN (SELECT unnest([0, 1, 2]) AS band_idx)
"""


def _q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer): a group-by-HAVING
    semi-join feeding a re-aggregation and a global top-k — the
    aggregate-filter-join ordering none of the other queries hits.

    Scale shape: the HAVING aggregate is map-side-combinable on
    l_orderkey; its survivor set (qualifying orderkeys) is orders of
    magnitude smaller than lineitem, so the semi-join back into
    lineitem broadcasts the survivors rather than shuffling the fact
    table twice.  Threshold 250 (not TPC-H's 300) so the synthetic
    sf0.001 data still qualifies ~25 orders.  Tiebreaks on the unique
    o_orderkey make the LIMIT deterministic on both engines."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
        .select("l_orderkey")
    )
    j = (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.round(F.sum("l_quantity") + 1e-9, 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


_SQL_TPCH_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity) + 1e-9, 2) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 250
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def _q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority classes): conditional
    aggregation over a fact x fact join — two CASE counters in ONE
    grouped pass, never two scans unioned.  The testdata lacks
    l_shipmode/commitdate, so the class predicate rides
    o_orderpriority as in the spec's CASE and the date window rides
    l_shipdate.  Integer counters: no float-rounding parity risk.

    Scale shape: both CASE branches are map-side-combinable partial
    sums over the single orderkey shuffle; the date filter pushes to
    the lineitem scan so the join's probe side is pre-pruned."""
    _utc(spark)
    lo, hi = "1996-01-01", "1997-01-01"
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


_SQL_TPCH_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


def _q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo-revenue ratio): a GLOBAL scalar whose
    numerator is a CASE-gated slice of its own denominator — one
    aggregate pass computes both, then divides.  p_type here is a
    bare class word ('PROMO'), not the spec's 3-word string, so the
    predicate is equality rather than LIKE.

    Scale shape: part is dimension-sized -> broadcast (the only
    shuffle is the final 1-row global agg); the one-month shipdate
    window pushes to the lineitem scan.  Ratio rounded at 4dp with
    the +1e-9 nudge (sum order differs across engines at ~1e-12
    relative; the nudge absorbs it)."""
    _utc(spark)
    lo, hi = "1996-09-01", "1996-10-01"
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev)
            + 1e-9,
            4,
        ).alias("promo_revenue")
    )


_SQL_TPCH_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


def _q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): an aggregate view joined
    against its OWN global max — the agg-then-self-max topology none
    of the other shapes exercises.  Revenue is rounded to 2dp BEFORE
    the max comparison on both engines, so the float-equality join is
    deterministic (pre-rounding sums differ at ~1e-12 relative).

    Scale shape: revenue-per-supplier is one map-side-combinable
    shuffle on l_suppkey; the 1-row max broadcasts back over it (no
    second fact scan, no sort of the agg), and supplier broadcasts
    into the survivor set."""
    _utc(spark)
    lo, hi = "1996-01-01", "1996-04-01"
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                + 1e-9,
                2,
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_SQL_TPCH_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def _q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated
    per-group threshold — each lineitem compares against 0.5 * the
    avg quantity OF ITS OWN PART.  The testdata lacks p_container, so
    the slice is p_brand alone (threshold 0.5, not 0.2, so the
    synthetic uniform quantities still qualify rows).

    The float comparison is exactly deterministic across engines:
    l_quantity is integer-valued, so every partial sum in avg() is
    exact in double regardless of summation order.

    Scale shape: per-part avgs are one map-side-combinable shuffle
    producing a part-sized (dimension-sized) frame that broadcasts
    back into the filtered fact — never a fact-x-fact shuffle; brand
    filter pushes to the part scan and prunes the fact via the
    broadcast join."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li_branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    thresholds = (
        li_branded.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((0.5 * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        li_branded.join(
            F.broadcast(thresholds),
            F.col("l_partkey") == F.col("t_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0 + 1e-9, 2).alias(
                "avg_yearly"
            )
        )
    )


_SQL_TPCH_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0 + 1e-9, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.5 * avg(l2.l_quantity)
    FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


def _q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    an OR of per-branch conjunctions that straddle BOTH join sides
    (brand+size from part, quantity from lineitem).  The testdata
    lacks l_shipmode/p_container, so each branch predicates on
    brand + size + quantity.

    Scale shape: Catalyst does not split a cross-side OR, so the
    derived single-side envelopes are applied EXPLICITLY — part
    pre-filtered to the three brands with their size ranges (pushes
    to the scan, shrinks the broadcast), lineitem pre-filtered to the
    quantity envelope [1, 30] (pushes to the fact scan) — and the
    exact OR re-checked post-join.  Same result, but both scans prune
    instead of neither."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    part_env = part.filter(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15))
    )
    li_env = li.filter(F.col("l_quantity").between(1, 30))
    return (
        li_env.join(F.broadcast(part_env), li.l_partkey == part.p_partkey)
        .filter(b1 | b2 | b3)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                + 1e-9,
                2,
            ).alias("revenue")
        )
    )


_SQL_TPCH_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


_Q22_CODES = ("13", "31", "23", "29", "30", "18", "17")


def _q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): a GLOBAL scalar
    subquery (avg positive balance over the code slice) gating a
    filter, composed with an anti-join and a derived substring key.
    The country code is the last two digits of c_name (chars 17-18 of
    'Customer#000000123') — the testdata has no c_phone, and the
    spec's substring(1,2) is constant '00' on this generator.  The
    anti-join is against orders SINCE 2000-01-01 (dormant accounts):
    this generator gives every customer at least one order ever, so
    the spec's no-orders-at-all predicate is vacuously empty, while
    the dormancy variant keeps the identical plan topology and
    returns rows (5 at sf0.01).

    Scale shape: the avg is a 1-row aggregate broadcast into the
    filter (never a driver collect); the anti-join build side is
    orders' custkeys projected to ONE column.  The acctbal > avg
    comparison is boundary-safe: avg carries ~15 significant digits
    while balances have 2dp, so cross-engine sum-order jitter
    (~1e-12 relative) cannot flip it."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.substring("c_name", 17, 2)
    )
    sliced = cust.filter(F.col("cntrycode").isin(*_Q22_CODES))
    avg_bal = sliced.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        sliced.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal") + 1e-9, 2).alias("totacctbal"),
        )
    )


_SQL_TPCH_Q22 = f"""
WITH sliced AS (
  SELECT substring(c_name, 17, 2) AS cntrycode, c_custkey, c_acctbal
  FROM customer
  WHERE substring(c_name, 17, 2) IN {_Q22_CODES!r}
)
SELECT cntrycode, count(*) AS numcust,
       round(sum(c_acctbal) + 1e-9, 2) AS totacctbal
FROM sliced
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM sliced WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY cntrycode
"""


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the pure-scan
    query — every predicate single-table, no join at all.  Its entire
    value as a plan gate is WHERE the predicates run: all three must
    reach the parquet scan (PushedFilters), the projection must prune
    to the four referenced columns, and the aggregate must partial
    map-side — one exchange of one row per task.

    Boundary safety: l_discount carries exact 2dp generator values and
    both engines parse the same literals, so the open interval
    (0.025, 0.075) cannot straddle a stored value."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") > 0.025)
            & (F.col("l_discount") < 0.075)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")) + 1e-9, 2
            ).alias("revenue")
        )
    )


_SQL_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount) + 1e-9, 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount > 0.025 AND l_discount < 0.075
  AND l_quantity < 24
"""


def _q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): the two-role dimension join —
    nation joins the fact TWICE under different roles (supplier's
    nation, customer's nation) with a symmetric cross-role OR
    predicate, grouped by both role names and ship year.

    Scale shape: both nation joins broadcast (the OR pair-filter is
    applied post-broadcast, never a shuffle key); supplier and
    customer broadcast; the only shuffle is lineitem x orders on
    orderkey plus the final 3-key partial agg."""
    _utc(spark)
    n1, n2 = "NATION_1", "NATION_2"
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    ).filter(F.col("supp_nation").isin(n1, n2))
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("cn_key"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("cn_key"),
    ).filter(F.col("cust_nation").isin(n1, n2))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    j = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9,
            2,
        ).alias("revenue")
    )


_SQL_TPCH_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


def _q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): a conditional-fraction
    aggregate — sum(CASE WHEN supplier-nation THEN volume END) /
    sum(volume) per order year — over the widest join in the suite
    (7 tables; the testdata has no partsupp, so part joins the fact
    directly).  Customer side restricts the market (region ASIA),
    supplier side only labels the numerator — the asymmetry is the
    point of the shape.

    Share rounded to 6dp: numerator/denominator are sums of ~1e4
    doubles, so cross-engine accumulation jitter is ~1e-12 relative —
    three orders below the rounding grain."""
    _utc(spark)
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust_n = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(cust_n), F.col("c_nationkey") == F.col("cn_key")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
                        0.0
                    )
                )
                / F.sum(vol)
                + 1e-9,
                6,
            ).alias("mkt_share")
        )
    )


_SQL_TPCH_Q8 = """
SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_5'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)) + 1e-9, 6
       ) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def _q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): LIKE-pattern part slice
    fanned out to (nation, year) profit.  The testdata has no
    partsupp, so profit is l_extendedprice * (1 - l_discount) without
    the ps_supplycost * l_quantity subtrahend — the join topology and
    the substring-pattern scan predicate are the shape under test,
    not the arithmetic.

    Scale shape: the '%bolt%' LIKE cannot push to parquet as a stats
    filter but DOES prune via the broadcast join (part is
    dimension-sized); fact-side shuffle is lineitem x orders only."""
    _utc(spark)
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return j.groupBy(
        "nation", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) + 1e-9,
            2,
        ).alias("sum_profit")
    )


_SQL_TPCH_Q9 = """
SELECT n_name AS nation,
       CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY 1, 2
"""


def _q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): a correlated-min
    subquery — keep only the (part, supplier) offers achieving the
    per-part MINIMUM price among a region's suppliers — re-expressed
    as aggregate-then-rejoin.  The testdata has no partsupp, so the
    offer relation is lineitem itself (each shipment is an offer at
    l_extendedprice) and the part slice is p_type plus a size band.

    DISTINCT collapses repeat shipments at the same winning price.
    The min-equality selection is float-safe: both engines take min
    over the identical stored doubles and compare by equality — no
    arithmetic happens on either side.

    Scale shape: the per-part min is a map-side-combinable agg over
    the already-dimension-pruned fact, broadcast back — the classic
    argmin-per-group without a window over the whole fact."""
    _utc(spark)
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 15)
    )
    li = _t(spark, sf_dir, "lineitem")
    offers = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_type", "s_name", "s_acctbal", "n_name",
            "l_extendedprice",
        )
    )
    mins = offers.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        offers.join(
            F.broadcast(mins),
            (F.col("p_partkey") == F.col("m_partkey"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            F.round(F.col("min_price") + 1e-9, 2).alias("min_price"),
        )
        .distinct()
    )


_SQL_TPCH_Q2 = """
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_type,
       round(l_extendedprice + 1e-9, 2) AS min_price
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_type = 'ECONOMY' AND p_size <= 15 AND r_name = 'EUROPE'
  AND l_extendedprice = (
    SELECT min(l2.l_extendedprice)
    FROM lineitem l2
    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
"""


def _q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): group-by-HAVING against a
    GLOBAL scalar — per-part value within one nation's suppliers,
    kept only if it exceeds a fixed fraction of that slice's total.
    The testdata has no partsupp, so value is sum(l_extendedprice)
    over the nation's shipments per part.

    Both sides of the HAVING comparison are rounded to 2dp first:
    the threshold is 0.002 x a ~1e7 sum, so cross-engine
    accumulation jitter (~1e-9 absolute) could otherwise flip a part
    sitting exactly on the boundary.

    Scale shape: one partial-agg shuffle builds the per-part values;
    the total is a second aggregate OVER THE AGGREGATE's output (part
    cardinality, not fact cardinality) broadcast back as a 1-row
    frame — never a driver collect, never a second fact scan."""
    _utc(spark)
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("raw_value"))
    )
    total = per_part.agg(
        (F.sum("raw_value") * 0.002).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.round(F.col("raw_value") + 1e-9, 2)
            > F.round(F.col("threshold") + 1e-9, 2)
        )
        .select(
            "l_partkey",
            F.round(F.col("raw_value") + 1e-9, 2).alias("value"),
        )
    )


_SQL_TPCH_Q11 = """
SELECT l_partkey, round(sum(l_extendedprice) + 1e-9, 2) AS value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
GROUP BY l_partkey
HAVING round(sum(l_extendedprice) + 1e-9, 2) > (
  SELECT round(sum(l_extendedprice) * 0.002 + 1e-9, 2)
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
"""


def _q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier relationship): COUNT(DISTINCT) per
    part attribute triple, with BOTH a negated dimension slice
    (brand <>, type NOT LIKE, size IN-list) and a NOT IN subquery
    knocking out a supplier set.  The testdata has no partsupp or
    s_comment, so the offer relation is lineitem and the excluded
    suppliers are those with negative account balance.

    Scale shape: the NOT IN is a broadcast LEFT ANTI join (the
    excluded-supplier list is dimension-sized and null-free by
    construction); count(distinct) shuffles on the 3 group keys with
    the distinct key folded in via partial aggregation."""
    _utc(spark)
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY 1, 2, 3
"""


def _q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the doubly-nested
    semi-join — suppliers qualify through an inner relation that
    itself carries a correlated 0.5x-of-total threshold.  Without
    partsupp, the inner relation is (supplier, part) shipment groups
    over a LIKE-sliced part set: a pair qualifies when its 1999
    shipped quantity exceeds half its ALL-TIME shipped quantity, and
    a region's suppliers with any qualifying pair are returned.

    The 0.5x comparison is exact: quantities are integer-valued
    doubles, so both the year-sum and half the all-time sum are
    exactly representable — no epsilon needed.

    Scale shape: both aggregates are partial-agg shuffles on
    (suppkey, partkey) over the SAME dimension-pruned fact slice
    (one scan, reused); the qualifying-supplier set is distinct-
    projected to one column and broadcast as a LEFT SEMI build side."""
    _utc(spark)
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    li = _t(spark, sf_dir, "lineitem")
    bolt = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select("l_suppkey", "l_partkey", "l_quantity", "l_shipdate")
    alltime = bolt.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("total_qty")
    )
    y1999 = (
        bolt.filter(
            (F.col("l_shipdate") >= "1999-01-01")
            & (F.col("l_shipdate") < "2000-01-01")
        )
        .groupBy(
            F.col("l_suppkey").alias("y_suppkey"),
            F.col("l_partkey").alias("y_partkey"),
        )
        .agg(F.sum("l_quantity").alias("y_qty"))
    )
    qual = (
        y1999.join(
            alltime,
            (F.col("y_suppkey") == F.col("l_suppkey"))
            & (F.col("y_partkey") == F.col("l_partkey")),
        )
        .filter(F.col("y_qty") > 0.5 * F.col("total_qty"))
        .select(F.col("y_suppkey").alias("q_suppkey"))
        .distinct()
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(qual),
            F.col("s_suppkey") == F.col("q_suppkey"),
            "left_semi",
        )
        .select("s_name", "n_name")
    )


_SQL_TPCH_Q20 = """
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l1.l_suppkey
    FROM lineitem l1
    JOIN part ON l1.l_partkey = p_partkey
    WHERE p_name LIKE '%bolt%'
      AND l1.l_shipdate >= TIMESTAMP '1999-01-01'
      AND l1.l_shipdate <  TIMESTAMP '2000-01-01'
    GROUP BY l1.l_suppkey, l1.l_partkey
    HAVING sum(l1.l_quantity) > 0.5 * (
      SELECT sum(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey AND l2.l_suppkey = l1.l_suppkey
    )
  )
"""


def _q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS + NOT-EXISTS double correlation — count a supplier's late
    lines in finalized multi-supplier orders where it was the ONLY
    late supplier.  The testdata has no l_commitdate/l_receiptdate,
    so "late" is l_shipdate more than 30 days after o_orderdate, and
    the supplier slice is region ASIA.

    Spark-first rewrite: instead of two correlated self-joins against
    the fact (each a full lineitem shuffle, the naive translation),
    ONE pass builds per-(order, supplier) late-line counts, a second
    dimension-sized agg derives per-order supplier/late-supplier
    counts, and the EXISTS / NOT-EXISTS pair becomes two integer
    predicates (n_supp >= 2, n_late_supp == 1) on the broadcast-
    rejoined result.  The DuckDB oracle runs the literal EXISTS form,
    proving the rewrite equivalent."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 30 DAYS"
    )
    per_os = lines.groupBy("o_orderkey", "l_suppkey").agg(
        F.sum(F.when(late, 1).otherwise(0)).alias("late_lines")
    )
    per_o = per_os.groupBy(F.col("o_orderkey").alias("agg_orderkey")).agg(
        F.count("*").alias("n_supp"),
        F.sum((F.col("late_lines") > 0).cast("int")).alias("n_late_supp"),
    )
    waiting = (
        per_os.filter(F.col("late_lines") > 0)
        .join(
            per_o,
            (F.col("o_orderkey") == F.col("agg_orderkey"))
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1),
        )
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        waiting.join(
            F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.sum("late_lines").cast("bigint").alias("numwait"))
    )


_SQL_TPCH_Q21 = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders      ON o_orderkey = l1.l_orderkey
JOIN nation      ON s_nationkey = n_nationkey
JOIN region      ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY s_name
"""


def _q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type (rsd=0.02) — the
    100 TB path for distinct counts: one mergeable-sketch pass,
    map-side combinable, vs exact countDistinct's expand + two-phase
    shuffle.  Rows-only (the sketch estimate is algorithm-specific);
    the companion pytest bounds |approx - exact| / exact by 3*rsd
    against the oracle-checked exact `distinct_counts`."""
    _utc(spark)
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment (trainprep.assign_splits):
    md5-keyed integer-cutoff draw, so a document's split is a pure
    function of (seed, doc_id) — corpus growth never reassigns
    existing documents, and the integer comparison makes Spark and
    DuckDB agree bit-for-bit (no float round-trip)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import assign_splits

    docs = _t(spark, sf_dir, "documents")
    return assign_splits(docs, _SPLIT_WEIGHTS).select("doc_id", "split")


# cutoffs = int(cum_weight * 2^32): 0.9 -> 3865470566, 0.95 -> 4080218931
_SQL_SPLIT_ASSIGNMENT = """
SELECT doc_id,
       CASE
         WHEN ('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 3865470566 THEN 'train'
         WHEN ('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 4080218931 THEN 'val'
         ELSE 'test'
       END AS split
FROM documents
"""


def _q_packed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (trainprep.pack_training_chunks):
    concatenate each source shard's documents in doc_id order, slice
    the token stream every 256 tokens (sized so sf0.01 shards span
    several chunks — a 2048 budget left every doc in chunk 0), and
    report the chunk where each document starts.  Token count is the exact-integer chars/4
    heuristic so the running sum is engine-portable; the window is
    per shard (bounded state, parallel across shards — the single
    global running sum would serialize the corpus through one task)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import pack_training_chunks

    docs = _t(spark, sf_dir, "documents")
    return pack_training_chunks(
        docs, budget=256, shard_cols=["source"]
    ).select("doc_id", "source", "n_tokens", "chunk_id")


_SQL_PACKED_CHUNKS = """
SELECT doc_id, source,
       (length(text) + 3) // 4 AS n_tokens,
       CAST(FLOOR((SUM((length(text) + 3) // 4) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - (length(text) + 3) // 4
            ) / 256.0) AS BIGINT) AS chunk_id
FROM documents
"""


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted data mixing (trainprep.sample_mixture): per-domain
    deterministic downsampling — src0 fully, src1 at 0.5, src2 at
    0.25, everything else at 0.1.  Monotone in the rate (raising a
    domain's weight only adds documents) and stable under corpus
    growth, both properties a 100 TB mixture respec depends on."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import sample_mixture

    docs = _t(spark, sf_dir, "documents")
    return sample_mixture(docs, _MIX_RATES, default_rate=0.1).select(
        "doc_id", "source"
    )


# cutoffs = int(rate * 2^32): 1.0 -> 4294967296, 0.5 -> 2147483648,
# 0.25 -> 1073741824, default 0.1 -> 429496729
_SQL_MIXTURE_SAMPLE = """
SELECT doc_id, source
FROM documents
WHERE ('0x' || substr(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      < CASE source
          WHEN 'src0' THEN 4294967296
          WHEN 'src1' THEN 2147483648
          WHEN 'src2' THEN 1073741824
          ELSE 429496729
        END
"""


def _q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass heavy hitters (operators/sketches.py): top-20 corpus
    tokens via per-partition count-min sketches + space-saving
    candidates, merged driver-side (bounded: a few KB per partition,
    independent of data size — the 100 TB alternative to an exact
    token groupBy).  Hash-checked against the EXACT top-20: in the
    small-vocabulary regime (distinct tokens << CMS width, guarded
    below) the deterministic md5 hash family yields no all-rows
    collisions, so every estimate equals the true count and the
    sketch's (-count, value) order equals SQL's — the estimate-side
    guarantee (est >= exact, est - exact <= e/width * N) is proven
    separately for adversarial vocabularies by the companion pytest
    in tests/test_sketches.py."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.sketches import frequent_items_sketch
    from peakmatch_xcorr_spark.operators.textstats import _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens("text")).alias("tok"))
    # Exactness-regime guard (ValueError, not assert: must survive -O).
    # 512 distinct values in a 2048-wide, depth-4 CMS make an
    # inflated candidate astronomically unlikely AND deterministic
    # (fixed hash family) — at a scale factor where the vocabulary
    # outgrows this, fail loudly instead of hash-mismatching.
    n_distinct = toks.distinct().count()
    if n_distinct > 512:
        raise ValueError(
            f"frequent_tokens exactness precondition broken: {n_distinct} "
            "distinct tokens > 512; the CMS top-k is no longer provably "
            "exact at this scale — compare against the rank-error bound "
            "instead of the exact oracle"
        )
    top = frequent_items_sketch(toks, "tok", k=20)
    return spark.createDataFrame(
        [(v, int(c)) for v, c in top], "tok string, est_count long"
    )


_SQL_FREQUENT_TOKENS = """
WITH toks AS (
  SELECT unnest(list_filter(
    regexp_split_to_array(
      lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')),
      '\\s+'),
    x -> length(x) > 0)) AS tok
  FROM documents
)
SELECT tok, count(*) AS est_count
FROM toks
GROUP BY tok
ORDER BY est_count DESC, tok
LIMIT 20
"""


def _q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout + manifest-bounds file pruning, value-checked:
    events are re-clustered along the Morton curve of (user_id, ts)
    into a throwaway warehouse table, a 2-D range query is planned by
    pruning files against the manifest's footer bounds (driver-side,
    no Spark job), and the pruned scan + row filter must equal DuckDB's
    plain filter — proving file skipping drops no rows.  The companion
    pytest (tests/test_layout.py) proves it also SKIPS: 11 of 64 files
    read vs 34 for a time-range layout on the same 2-D query."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.layout import pruned_read, zorder_layout
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = tempfile.mkdtemp(prefix="pxs_zorder_q_")
    try:
        t = WarehouseTable(root, "events_z")
        t.append(zorder_layout(ev, "user_id", "ts", target_files=16))
        import datetime as _dtm

        lo_ts = ev.agg(F.min("ts")).first()[0]
        # fixed 10-day window from min: day addition is exact integer
        # arithmetic on both engines (a midpoint would divide an
        # interval — engine-specific rounding)
        mid = lo_ts + _dtm.timedelta(days=10)
        df, stats = pruned_read(
            t, spark, {"user_id": (10, 40), "ts": (lo_ts, mid)}
        )
        if df is None:  # raise, not assert: survives python -O, and
            # None.filter would otherwise mask the real problem
            raise RuntimeError(
                f"pruned_read found no intersecting files for a range "
                f"derived from the data itself: {stats}"
            )
        out = df.filter(
            F.col("user_id").between(10, 40) & F.col("ts").between(lo_ts, mid)
        ).select(
            "user_id", "ts", F.round(F.col("value") + 1e-9, 6).alias("value")
        )
        # materialize before the temp warehouse disappears
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_ZORDER_PRUNED = """
WITH b AS (SELECT min(ts) AS lo FROM events)
SELECT user_id, ts, round(value + 1e-9, 6) AS value
FROM events, b
WHERE user_id BETWEEN 10 AND 40
  AND ts >= b.lo AND ts <= b.lo + INTERVAL 10 DAY
"""


def _q_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom-index point lookup (operators/bloomindex.py),
    value-checked: events land in a throwaway warehouse laid out by ts
    (so min/max bounds on user_id span the whole domain and prove
    nothing), a metadata-only index commit attaches per-file blooms
    for user_id, and the bloom+bounds-pruned equality scan must equal
    DuckDB's plain filter — proving the index skips files, never rows.
    The companion pytest (tests/test_bloomindex.py) proves the
    skipping side: absent keys read 0 files, clustered present keys
    read ~1 of 32."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.bloomindex import (
        build_bloom_index,
        point_lookup,
    )
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = tempfile.mkdtemp(prefix="pxs_bloom_q_")
    try:
        t = WarehouseTable(root, "events_b")
        t.append(ev.repartitionByRange(16, "ts"))
        build_bloom_index(t, spark, "user_id", fpp=0.01)
        df, stats = point_lookup(t, spark, "user_id", 42)
        if df is None or stats["files_read"] == 0:
            # raise, not assert: user 42 exists at every sf of the
            # generated events table; zero surviving files means the
            # index produced a false negative
            raise RuntimeError(f"bloom lookup pruned away real rows: {stats}")
        out = df.select(
            "user_id", "ts", F.round(F.col("value") + 1e-9, 6).alias("value")
        )
        # materialize before the temp warehouse disappears
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_BLOOM_POINT = """
SELECT user_id, ts, round(value + 1e-9, 6) AS value
FROM events WHERE user_id = 42
"""


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level COW MERGE (operators/merge.py), value-checked: the 1h
    rollup tier is committed to a throwaway warehouse table, an upsert
    doubles vavg for every user_id % 10 == 0 bucket and inserts one
    brand-new user, and the post-merge read must equal DuckDB's
    CASE-expressed merge semantics.  Only files whose manifest bounds
    contain an updated key are rewritten (set-based selection); the
    rest are carried by manifest record — the snapshot metrics in the
    committed manifest prove it."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.merge import merge_upsert
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    rolled = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", "bucket_start", "vavg")
    root = tempfile.mkdtemp(prefix="pxs_merge_q_")
    try:
        t = WarehouseTable(root, "tier_1h")
        t.append(rolled.repartitionByRange(8, "user_id"))
        import datetime as _dtm

        ts_type = dict(rolled.dtypes)["bucket_start"]  # ntz from parquet
        uid_type = dict(rolled.dtypes)["user_id"]
        new_row = spark.createDataFrame(
            [(99999, _dtm.datetime(2024, 1, 1), 1.5)],
            "user_id bigint, bucket_start timestamp, vavg double",
        ).select(
            F.col("user_id").cast(uid_type).alias("user_id"),
            F.col("bucket_start").cast(ts_type).alias("bucket_start"),
            "vavg",
        )
        updates = (
            rolled.filter(F.col("user_id") % 10 == 0)
            .withColumn("vavg", F.col("vavg") * 2)
            .unionByName(new_row)
        )
        merge_upsert(t, spark, updates, ["user_id", "bucket_start"])
        out = t.read(spark).select(
            "user_id",
            "bucket_start",
            F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_MERGE_UPSERT = """
WITH r AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start, avg(value) AS vavg
  FROM events GROUP BY 1, 2
)
SELECT user_id, bucket_start,
       round(CASE WHEN user_id % 10 = 0 THEN vavg * 2 ELSE vavg END + 1e-9, 6)
         AS vavg
FROM r
UNION ALL
SELECT 99999, TIMESTAMP '2024-01-01 00:00:00', round(1.5 + 1e-9, 6)
"""


def _q_delete_users_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE as file-level COW (operators/merge.py
    delete_rows), value-checked — the right-to-be-forgotten path: the
    1h tier is committed range-partitioned on user_id, users 30-49
    are purged by key set, and the post-delete read must equal
    DuckDB's rollup excluding them.  The key slice is CONTIGUOUS so
    manifest-bounds pruning has something to prune (a %-scattered set
    touches every range-partitioned file by construction); the query
    asserts most files were carried, not rewritten."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.merge import delete_rows
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    rolled = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", "bucket_start", "turns", "vavg")
    root = tempfile.mkdtemp(prefix="pxs_delete_q_")
    try:
        t = WarehouseTable(root, "tier_1h")
        t.append(rolled.repartitionByRange(8, "user_id"))
        doomed = (
            rolled.filter(F.col("user_id").between(30, 49))
            .select("user_id")
            .distinct()
        )
        snap = delete_rows(t, spark, doomed, ["user_id"])
        if snap.metrics.get("carried_files", 0) <= snap.metrics.get(
            "rewritten_files", 0
        ):
            raise ValueError(
                "delete rewrote most files for a 13%-of-keys contiguous "
                f"slice — bounds pruning is broken (metrics: {snap.metrics})"
            )
        out = t.read(spark).select(
            "user_id",
            "bucket_start",
            "turns",
            F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_DELETE_USERS = """
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       count(*) AS turns, round(avg(value) + 1e-9, 6) AS vavg
FROM events
WHERE user_id NOT BETWEEN 30 AND 49
GROUP BY 1, 2
"""


def _q_time_travel_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation / time-travel contract: the 1h tier is
    committed in two appends (even user_ids, then odd), and reading
    the FIRST version AFTER the second commit must equal DuckDB's
    rollup over even users only — later commits never disturb an
    older snapshot's view (commits add manifests; data files are
    immutable).  This is the property every resumable retention job
    and every reproducible training-data snapshot leans on."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    rolled = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", "bucket_start", "turns", "vavg")
    root = tempfile.mkdtemp(prefix="pxs_timetravel_q_")
    try:
        t = WarehouseTable(root, "tier_1h")
        v1 = t.append(rolled.filter(F.col("user_id") % 2 == 0)).version
        t.append(rolled.filter(F.col("user_id") % 2 == 1))
        assert t.current_version() != v1
        out = t.read(spark, version=v1).select(
            "user_id",
            "bucket_start",
            "turns",
            F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_TIME_TRAVEL = """
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       count(*) AS turns, round(avg(value) + 1e-9, 6) AS vavg
FROM events
WHERE user_id % 2 = 0
GROUP BY 1, 2
"""


def _q_wap_publish_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish contract (sources/warehouse.py
    create_branch/publish_branch): the even-user 1h tier is committed
    to main, the odd-user rollup lands on an audit branch — invisible
    to main readers — and a metadata-only fast-forward publish makes
    main equal DuckDB's FULL rollup.  Both isolation sides are
    asserted as preconditions, so a green hash here proves unaudited
    rows never leaked AND the publish lost no rows.  Mirrors the
    reference's commit-then-read phase contract (xcorr.candidates →
    xcorr.postprocess, XCorrProcessor.java:36-40) with Iceberg-ref
    semantics."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    rolled = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", "bucket_start", "turns", "vavg")
    root = tempfile.mkdtemp(prefix="pxs_wap_q_")
    try:
        t = WarehouseTable(root, "tier_1h")
        t.append(rolled.filter(F.col("user_id") % 2 == 0))
        main_before = t.count_rows()
        br = t.create_branch("audit")
        br.append(rolled.filter(F.col("user_id") % 2 == 1))
        # isolation precondition: the branch append must not have
        # moved main (ValueError, not assert: must survive -O)
        if t.count_rows() != main_before:
            raise ValueError(
                "branch append changed main row count "
                f"({main_before} -> {t.count_rows()}): WAP isolation broken"
            )
        snap = t.publish_branch("audit", job_id="wap_contract")
        if snap.operation != "publish":
            raise ValueError(f"expected publish snapshot, got {snap.operation}")
        out = t.read(spark).select(
            "user_id",
            "bucket_start",
            "turns",
            F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_WAP_PUBLISH = """
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       count(*) AS turns, round(avg(value) + 1e-9, 6) AS vavg
FROM events
GROUP BY 1, 2
"""


def _q_changelog_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between snapshots (sources/warehouse.py
    changelog): v1 = even-user hourly rollup, v2 = odd-user append,
    v3 = COW delete of users divisible by 10.  changelog(v1, v3) must
    net out the COW rewrite's carried rows and report exactly the
    appended odd rows as inserts and the deleted multiples of 10 as
    deletes — which DuckDB derives directly from the events table.
    This is the consumption side of the reference's file-per-phase
    IR (XCorrProcessor.java:36-40): downstream jobs tail changes
    instead of re-reading the table."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.merge import delete_rows
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    rolled = tumbling_rollup(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", "1 hour"
    ).select("user_id", "bucket_start", "turns", "vavg")
    root = tempfile.mkdtemp(prefix="pxs_cdc_q_")
    try:
        t = WarehouseTable(root, "tier_1h")
        t.append(rolled.filter(F.col("user_id") % 2 == 0))
        v1 = t.current_version()
        t.append(rolled.filter(F.col("user_id") % 2 == 1))
        delete_rows(
            t, spark,
            rolled.filter(F.col("user_id") % 10 == 0)
            .select("user_id").distinct(),
            ["user_id"],
        )
        out = t.changelog(spark, v1, t.current_version()).select(
            "user_id", "bucket_start", "turns",
            F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
            "_change_type",
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_CHANGELOG = """
WITH rolled AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start,
         count(*) AS turns, round(avg(value) + 1e-9, 6) AS vavg
  FROM events GROUP BY 1, 2
)
SELECT user_id, bucket_start, turns, vavg, 'insert' AS _change_type
FROM rolled WHERE user_id % 2 = 1
UNION ALL
SELECT user_id, bucket_start, turns, vavg, 'delete' AS _change_type
FROM rolled WHERE user_id % 2 = 0 AND user_id % 10 = 0
"""


def _q_realtime_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-time continuous aggregate (operators/refresh.py
    ContinuousAggregate.real_time): the 1h tier is materialized over
    two thirds of events, the last third is appended WITHOUT a
    refresh, and the view — materialized tier merged with an
    on-the-fly rollup of only the unabsorbed snapshot diff — must
    equal DuckDB's rollup over ALL events.  TimescaleDB's
    materialized_only=false semantics on the warehouse's snapshot
    chain; the lag precondition is asserted so a green hash proves
    the merge path ran, not a lucky full refresh."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.operators.refresh import ContinuousAggregate
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = tempfile.mkdtemp(prefix="pxs_rt_q_")
    try:
        src = WarehouseTable(root, "events_src")
        src.append(ev.filter(F.col("user_id") % 3 != 0))
        ca = ContinuousAggregate(
            root, src, keys=["user_id"], ts_col="ts", value_col="value",
            tiers=("1 hour",), tier_names=("1h",), name="rt",
        )
        ca.refresh(spark)
        src.append(ev.filter(F.col("user_id") % 3 == 0))
        # non-vacuous: the tier must actually lag the source here
        if ca.last_processed_version() == src.current_version():
            raise ValueError(
                "realtime_rollup_1h precondition broken: tier is already "
                "up to date, the view would not exercise the merge path"
            )
        out = ca.real_time(spark, "1h").select(
            "user_id",
            "bucket_start",
            "turns",
            F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_REALTIME_ROLLUP = """
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       count(*) AS turns, round(avg(value) + 1e-9, 6) AS vavg
FROM events
GROUP BY 1, 2
"""


def _q_occupancy_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-active-users curve via the sweep-line operator
    (operators/occupancy.py): each user's [first event, last event]
    span contributes TWO boundary rows regardless of how many hourly
    buckets it covers, and the global running count goes through the
    two-phase distributed prefix scan (deterministic pid slices +
    P-row offset broadcast) — never a single-task global window.  The
    DuckDB oracle is the exploded generate_series counting the same
    inclusive-endpoint semantics."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.occupancy import occupancy_curve

    spans = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    return occupancy_curve(
        spans, "start_ts", "end_ts", bucket="1 hour", scan_partitions=8
    )


def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    distinct-active counted at each day age, with the fraction of the
    cohort still active.  Two shuffles total (distinct user-days and
    the user-keyed cohort join reuse one partitioning; the cohort
    rollup is the second) and the age-0 base rejoins as a window max
    over the cohort partition — no self-join.  Plain ANSI SQL for the
    oracle."""
    _utc(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = ev.select("user_id", day.alias("day")).distinct()
    per_age = (
        active.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("age"),
        )
        .agg(F.count_distinct("user_id").alias("users"))
    )
    base = F.max(F.when(F.col("age") == 0, F.col("users"))).over(
        Window.partitionBy("cohort_day")
    )
    return per_age.select(
        "cohort_day",
        "age",
        "users",
        F.round(F.col("users") / base + 1e-9, 3).alias("retention"),
    )


_SQL_COHORT_RETENTION = """
WITH first AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
per_age AS (
  SELECT f.cohort_day,
         date_diff('day', f.cohort_day, a.day) AS age,
         count(DISTINCT a.user_id) AS users
  FROM active a JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_day, CAST(age AS INT) AS age, users,
       CAST(round(users / (max(CASE WHEN age = 0 THEN users END)
                           OVER (PARTITION BY cohort_day)) + 1e-9, 3)
            AS DOUBLE) AS retention
FROM per_age
"""


def _q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel view→click→purchase within 24h of the
    first view (operators/funnel.py): each step's qualifying time is
    a conditional window-min chained off the previous step's, so the
    whole sequence costs ONE exchange (plan-gated in
    tests/test_funnel.py) — never a self-join per step.  The DuckDB
    oracle computes the same chain as correlated step CTEs."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(
        ev,
        [F.col("event_type") == s for s in ("view", "click", "purchase")],
        horizon_s=86400,
    )


_SQL_FUNNEL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS ts2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.ts1
    AND floor(epoch(e.ts)) <= floor(epoch(t1.ts1)) + 86400
  GROUP BY 1
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS ts3
  FROM events e JOIN t2 USING (user_id) JOIN t1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
    AND floor(epoch(e.ts)) <= floor(epoch(t1.ts1)) + 86400
  GROUP BY 1
),
base AS (SELECT count(*) AS n FROM t1)
SELECT CAST(s.step AS INT) AS step, s.users,
       CAST(round(s.users / base.n + 1e-9, 3) AS DOUBLE) AS conversion
FROM (
  SELECT 1 AS step, count(*) AS users FROM t1
  UNION ALL SELECT 2, count(*) FROM t2
  UNION ALL SELECT 3, count(*) FROM t3
) s, base
"""


_SQL_OCCUPANCY = """
WITH spans AS (
  SELECT user_id, min(ts) AS s, max(ts) AS e FROM events GROUP BY 1
)
SELECT bucket_start, count(*) AS active FROM (
  SELECT unnest(generate_series(date_trunc('hour', s),
                                date_trunc('hour', e),
                                INTERVAL 1 HOUR)) AS bucket_start
  FROM spans
) GROUP BY 1
"""


def _q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB state_agg analogue (operators/stateagg.py): per
    event_type, the total seconds users dwell in that state (a state
    holds until the user's next event), run entries, visits, and mean
    dwell.  ONE window exchange (lead+lag share the user partition)
    plus one agg shuffle — plan-gated in tests/test_stateagg.py."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stateagg import state_durations

    ev = _t(spark, sf_dir, "events")
    return state_durations(
        ev, "user_id", "event_type", "ts", tiebreak_cols=("event_id",)
    )


_SQL_STATE_DURATIONS = """
WITH o AS (
  SELECT event_type,
         epoch(ts) AS tsec,
         lead(epoch(ts)) OVER w - epoch(ts) AS dwell,
         lag(event_type) OVER w AS prev_state
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS state,
       round(sum(dwell) + 1e-9, 2) AS total_sec,
       CAST(sum(CASE WHEN prev_state IS NULL OR prev_state <> event_type
                     THEN 1 ELSE 0 END) AS BIGINT) AS entries,
       count(*) AS visits,
       round(avg(dwell) + 1e-9, 6) AS mean_dwell
FROM o GROUP BY 1
"""


def _q_heartbeat_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimescaleDB heartbeat_agg analogue (operators/stateagg.py):
    each event asserts its user live for 1800 s; overlapping
    assertions merge (telescoped to least(gap, L) per beat — no
    interval-merge pass).  Per user: merged uptime, dead time between
    beats, gap count, beat count."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stateagg import heartbeat_uptime

    ev = _t(spark, sf_dir, "events")
    return heartbeat_uptime(
        ev, "user_id", "ts", liveness_s=1800.0, tiebreak_cols=("event_id",)
    )


_SQL_HEARTBEAT_UPTIME = """
WITH o AS (
  SELECT user_id,
         lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch(ts) AS gap
  FROM events
)
SELECT user_id,
       round(sum(CASE WHEN gap IS NULL THEN 1800.0
                      ELSE least(gap, 1800.0) END) + 1e-9, 2) AS uptime_sec,
       round(sum(CASE WHEN gap > 1800.0 THEN gap - 1800.0
                      ELSE 0.0 END) + 1e-9, 2) AS dead_sec,
       CAST(sum(CASE WHEN gap > 1800.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       count(*) AS beats
FROM o GROUP BY 1
"""


def _q_ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick_agg analogue (operators/stateagg.py): per
    (event_type, 1h bucket) the open/high/low/close of value.  NO
    window functions — open/close are min_by/max_by over a
    (ts, event_id) struct, decomposable aggregates, so the whole OHLC
    is one shuffle with map-side combine.  The deterministic event_id
    tiebreak makes ties recomputation-stable (and oracle-matchable:
    DuckDB uses first/last with the same ORDER BY)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stateagg import candlestick

    ev = _t(spark, sf_dir, "events")
    return candlestick(
        ev, ["event_type"], "ts", "value", "1 hour",
        tiebreak_cols=("event_id",),
    )


_SQL_OHLC_1H = """
SELECT event_type, date_trunc('hour', ts) AS bucket_start,
       first(value ORDER BY ts, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       count(*) AS turns
FROM events GROUP BY 1, 2
"""


def _q_quantile_sketch_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style relative-error quantiles of events.value
    (operators/sketches.py quantile_sketch): map-side log-bucket
    histograms merged by groupBy-sum; only the O(log(max/min)/alpha)
    bucket histogram is ever collected.  Hash-checked: the oracle
    replays the EXACT sketch algorithm in SQL (ceil(ln|v|/ln gamma)
    bucketing, three stores, rank walk, gamma-midpoint decode), so the
    estimates must match to the last rounded digit; the companion
    pytest additionally proves |est - exact| / |exact| <= alpha
    against numpy on the same data."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.sketches import quantile_sketch

    ev = _t(spark, sf_dir, "events")
    sk = quantile_sketch(ev, "value", alpha=0.01)
    qs = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)
    # single-slice literal frame: the default createDataFrame path
    # parallelizes 8 rows into one pickled-RDD slice per core, and
    # every downstream action then pays one Python task per core, each
    # with the fixed per-task worker cost (see plans.small_local_df)
    from peakmatch_xcorr_spark.plans import small_local_df

    return small_local_df(
        spark, [(q, round(sk.quantile(q) + 1e-9, 6)) for q in qs],
        "q double, est double",
    )


_SQL_QUANTILE_SKETCH = """
WITH qs(q) AS (VALUES (0.01),(0.1),(0.25),(0.5),(0.75),(0.9),(0.99),(0.999)),
gamma AS (SELECT (1.0+0.01)/(1.0-0.01) AS g),
buckets AS (
  SELECT CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS store,
         CASE WHEN value = 0 THEN 0
              ELSE CAST(ceil(ln(abs(value))/ln(g)) AS BIGINT) END AS bucket,
         count(*) AS cnt
  FROM events, gamma
  WHERE value IS NOT NULL
  GROUP BY 1, 2
),
ordered AS (
  SELECT store, bucket, cnt,
         sum(cnt) OVER (ORDER BY store, store*bucket) AS cum,
         sum(cnt) OVER () AS n
  FROM buckets
)
SELECT CAST(q AS DOUBLE) AS q, CAST(round(est + 1e-9, 6) AS DOUBLE) AS est
FROM (
  SELECT q,
         (SELECT CASE o.store WHEN 0 THEN 0.0
                 ELSE o.store * power(g, o.bucket - 1) * 2.0 * g / (g + 1.0)
                 END
          FROM ordered o, gamma
          WHERE o.cum > q * (o.n - 1)
          ORDER BY o.store, o.store*o.bucket LIMIT 1) AS est
  FROM qs)
"""


def _q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k reproducible uniform sample
    (trainprep.deterministic_sample): rank by md5-keyed draw, keep the
    50 smallest.  Compiles to TakeOrdered (per-partition partial
    top-k + a k-row merge), never a full sort."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import deterministic_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_sample(docs, k=50)


_SQL_DETERMINISTIC_SAMPLE = """
SELECT doc_id, source
FROM documents
ORDER BY ('0x' || substr(md5('sample-v1:' || CAST(doc_id AS VARCHAR)),
                         1, 8))::BIGINT ASC,
         doc_id ASC
LIMIT 50
"""


def _q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with the predicate ON THE JOIN CONDITION (not WHERE — a WHERE
    filter would silently turn the outer join inner and lose the
    zero-order customers), per-customer count, then the histogram of
    counts.  The only query exercising outer-join null-count
    semantics + double aggregation."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey",
                                                "o_orderstatus")
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderstatus != "F"),
        "left_outer",
    )
    per_cust = j.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")  # count() skips nulls
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
  GROUP BY c.c_custkey
) GROUP BY c_count
"""


def _q_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data pipeline in one declarative plan —
    privacy scrub → quality filter → benchmark decontamination →
    exact dedup → stable splits → sequence packing — i.e. every
    corpus-side family member composed end to end, hash-checked.

    Planting makes each stage non-vacuous in BOTH engines: 30 exact
    duplicates (doc_id+10000) and 15 PII-carrying rows (doc_id+40000,
    one email/phone/IPv4 each).  The eval suite is the original
    doc_id % 37 == 0 slice; eval rows leave the training corpus at
    the decontamination stage, and — the payoff — the PLANTED COPY of
    an eval document (e.g. 0 → 10000) shares all its 4-grams with the
    benchmark and is dropped by decontamination before dedup ever
    sees it.  Plan shape: row-local scrub/quality/split expressions,
    one broadcast gram semi-join + combinable groupBy for
    decontamination, two windows (md5-dedup, pack)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import pii_scrub
    from peakmatch_xcorr_spark.operators.trainprep import (
        assign_splits,
        decontaminate,
        pack_training_chunks,
    )
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dups = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "source"
    )
    pii = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-123-4567 at 10.0.0."),
            F.col("doc_id").cast("string"),
        ).alias("text"),
        F.lit("pii").alias("source"),
    )
    corpus = docs.unionByName(dups).unionByName(pii)
    # 1. privacy: redact, downstream stages see only scrubbed text
    s = pii_scrub(corpus).select(
        "doc_id", F.col("scrubbed_text").alias("text"), "source"
    )
    # 2. quality
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    q = s.filter(
        (alpha / F.greatest(n_chars, F.lit(1)) >= 0.5) & (n_chars >= 40)
    )
    # 3. decontamination: the eval slice (original rows only) exits
    # the training corpus here, and anything sharing a 4-gram with it
    # is dropped
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train_side = q.filter(
        ~((F.col("doc_id") % 37 == 0) & (F.col("doc_id") < 10000))
    )
    clean = decontaminate(train_side, bench, n=4)
    # 4. exact dedup: lowest doc_id survives per text hash
    wh = Window.partitionBy(F.md5("text"))
    kept = clean.withColumn("_keep", F.min("doc_id").over(wh)).filter(
        F.col("doc_id") == F.col("_keep")
    ).drop("_keep")
    # 5-6. stable split assignment, then pack per (source, split)
    packed = pack_training_chunks(
        assign_splits(kept, _SPLIT_WEIGHTS),
        budget=256,
        shard_cols=["source", "split"],
    )
    return packed.select("doc_id", "source", "split", "n_tokens", "chunk_id")


_SQL_CORPUS_PREP_FULL = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 10000, text, source FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 40000,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-123-4567 at 10.0.0.'
              || CAST(doc_id AS VARCHAR),
         'pii'
  FROM documents WHERE doc_id < 15
), s1 AS (
  SELECT doc_id, source, regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM corpus
), s2 AS (
  SELECT doc_id, source, regexp_replace(t,
    '\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}(?:[- ][0-9]{1,4})?',
    '<PHONE>', 'g') AS t
  FROM s1
), scrub AS (
  SELECT doc_id, source, regexp_replace(t,
    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IPV4>', 'g')
    AS text
  FROM s2
), q AS (
  SELECT * FROM scrub
  WHERE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / greatest(length(text), 1) >= 0.5
    AND length(text) >= 40
), bw AS (
  SELECT string_split(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))),
                      ' ') AS ws
  FROM documents WHERE doc_id % 37 = 0
), bench AS (
  SELECT DISTINCT gm FROM (
    SELECT unnest([array_to_string(ws[i:i+0], ' ')
            for i in range(1, greatest(len(ws)-0, 1)+1)]) AS gm FROM bw
    UNION ALL
    SELECT unnest([array_to_string(ws[i:i+1], ' ')
            for i in range(1, greatest(len(ws)-1, 1)+1)]) AS gm FROM bw
    UNION ALL
    SELECT unnest([array_to_string(ws[i:i+2], ' ')
            for i in range(1, greatest(len(ws)-2, 1)+1)]) AS gm FROM bw
    UNION ALL
    SELECT unnest([array_to_string(ws[i:i+3], ' ')
            for i in range(1, greatest(len(ws)-3, 1)+1)]) AS gm FROM bw
  ) WHERE length(gm) > 0
), train_side AS (
  SELECT * FROM q WHERE NOT (doc_id % 37 = 0 AND doc_id < 10000)
), g AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(ws[i:i+3], ' ')
          for i in range(1, greatest(len(ws)-3, 1)+1)])) AS gm
  FROM (SELECT doc_id,
               string_split(trim(lower(regexp_replace(text, '\\s+', ' ',
                                                       'g'))), ' ') AS ws
        FROM train_side)
), contaminated AS (
  SELECT DISTINCT doc_id FROM g
  WHERE length(gm) > 0 AND gm IN (SELECT gm FROM bench)
), clean AS (
  SELECT doc_id, text, source FROM train_side
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
), kept AS (
  SELECT doc_id, text, source FROM (
    SELECT doc_id, text, source,
           min(doc_id) OVER (PARTITION BY md5(text)) AS _keep
    FROM clean
  ) WHERE doc_id = _keep
), split AS (
  SELECT doc_id, text, source,
         CASE
           WHEN ('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 3865470566 THEN 'train'
           WHEN ('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 4080218931 THEN 'val'
           ELSE 'test'
         END AS split
  FROM kept
)
SELECT doc_id, source, split,
       (length(text) + 3) // 4 AS n_tokens,
       CAST(FLOOR((SUM((length(text) + 3) // 4) OVER (
              PARTITION BY source, split ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - (length(text) + 3) // 4
            ) / 256.0) AS BIGINT) AS chunk_id
FROM split
"""


def _q_vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (textstats.vocab_counts): term
    frequency + document frequency per distinct token, tf >= 5 — the
    tokenizer-training prestep.  One explode, one combinable exchange
    keyed on token; top-k consumers sort the distinct-token result,
    never the corpus."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import vocab_counts

    docs = _t(spark, sf_dir, "documents")
    return vocab_counts(docs, min_count=5, id_col="doc_id")


_SQL_VOCAB_COUNTS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(
      lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')),
      '\\s+'),
    x -> length(x) > 0)) AS tok
  FROM documents
)
SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM toks
GROUP BY tok
HAVING count(*) >= 5
"""


def _q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): date-windowed orders
    semi-joined on EXISTS(matching lineitem), counted per priority.
    The synthetic lineitem has no commit/receipt dates, so the EXISTS
    predicate is l_returnflag = 'R' — same plan shape (filter →
    LEFT SEMI join → partial-aggregated count).  The semi-join never
    widens orders (EXISTS, not INNER: an order with 4 matching lines
    must count once), and the filter on lineitem is pushed below the
    join so only 'R' rows shuffle."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    flagged = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(flagged, orders.o_orderkey == flagged.l_orderkey,
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (trainprep.contamination_report): the
    eval suite is the doc_id % 37 == 0 slice of the corpus; every
    other document is flagged with the number of distinct word
    4-grams it shares with any benchmark document.  The pretraining
    pass that keeps test data out of the training set.

    Scale shape: the benchmark gram set is broadcast (eval suites are
    tiny next to the corpus), so the corpus-side scan is a single
    map-side filter + one combinable groupBy(doc_id) — no self-join,
    no corpus shuffle on text.  n=4 on the synthetic table mirrors
    the n=8..13 an English corpus would use: chosen so the overlap is
    selective but non-vacuous (13 contaminated docs at sf0.01)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    corpus = docs.filter(F.col("doc_id") % 37 != 0)
    rep = contamination_report(corpus, bench, n=4)
    return rep.select(F.col("id").alias("doc_id"), "hits")


_SQL_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id,
         string_split(trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))),
                      ' ') AS ws
  FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(ws[i:i+3], ' ')
          for i in range(1, greatest(len(ws)-3, 1)+1)])) AS gm
  FROM w
), bench AS (
  -- every width 1..4, mirroring benchmark_ngrams' symmetric
  -- short-document containment semantics
  SELECT DISTINCT gm FROM (
    SELECT unnest([array_to_string(ws[i:i+0], ' ')
            for i in range(1, greatest(len(ws)-0, 1)+1)]) AS gm
    FROM w WHERE doc_id % 37 = 0
    UNION ALL
    SELECT unnest([array_to_string(ws[i:i+1], ' ')
            for i in range(1, greatest(len(ws)-1, 1)+1)]) AS gm
    FROM w WHERE doc_id % 37 = 0
    UNION ALL
    SELECT unnest([array_to_string(ws[i:i+2], ' ')
            for i in range(1, greatest(len(ws)-2, 1)+1)]) AS gm
    FROM w WHERE doc_id % 37 = 0
    UNION ALL
    SELECT unnest([array_to_string(ws[i:i+3], ' ')
            for i in range(1, greatest(len(ws)-3, 1)+1)]) AS gm
    FROM w WHERE doc_id % 37 = 0
  ) WHERE length(gm) > 0
)
SELECT doc_id, count(*) AS hits
FROM g
WHERE doc_id % 37 != 0 AND length(gm) > 0
  AND gm IN (SELECT gm FROM bench)
GROUP BY doc_id
"""


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals
    (textstats.repetition_stats) over the corpus UNION planted
    self-repeated docs (doc_id+30000 = text '\\n' text for doc_id<25,
    giving dup_line_frac exactly 0.5) — the natural table has no
    newlines, so planting makes the line-level fractions non-vacuous
    while the bigram fraction discriminates on the natural data."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat_ws("\n", "text", "text").alias("text"),
    )
    return repetition_stats(docs.unionByName(planted))


_SQL_REPETITION_STATS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 30000, text || chr(10) || text FROM documents
  WHERE doc_id < 25
), lines AS (
  SELECT doc_id, ln, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln FROM corpus)
  WHERE length(trim(ln)) > 0
  GROUP BY doc_id, ln
), ls AS (
  SELECT doc_id,
         sum(c - 1)::DOUBLE / greatest(sum(c), 1) AS dlf,
         sum((c - 1) * length(ln))::DOUBLE
           / greatest(sum(c * length(ln)), 1) AS dlcf
  FROM lines GROUP BY doc_id
), toks AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(
             lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')),
             '\\s+'),
           x -> length(x) > 0) AS ws
  FROM corpus
), bg AS (
  SELECT doc_id, bg, count(*) AS c
  FROM (SELECT doc_id, unnest([array_to_string(ws[i:i+1], ' ')
                               for i in range(1, len(ws))]) AS bg
        FROM toks WHERE len(ws) >= 2)
  GROUP BY doc_id, bg
), tb AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM bg GROUP BY doc_id
)
SELECT c.doc_id,
       round(coalesce(ls.dlf, 0) + 1e-9, 6) AS dup_line_frac,
       round(coalesce(ls.dlcf, 0) + 1e-9, 6) AS dup_line_char_frac,
       round(coalesce(tb.top_c::DOUBLE / tb.n_bg, 0) + 1e-9, 6)
         AS top2gram_frac
FROM corpus c
LEFT JOIN ls ON ls.doc_id = c.doc_id
LEFT JOIN tb ON tb.doc_id = c.doc_id
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (textstats.pii_scrub) over the corpus UNION
    planted rows carrying one email, one phone, and one IPv4 each
    (doc_id+40000 for doc_id<15) — the natural table has no digits or
    '@', so the counts discriminate on the planted rows and the
    scrubbed text is hash-checked end to end.  Patterns are
    engine-portable by construction (textstats.PII_PATTERNS)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-123-4567 at 10.0.0."),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = pii_scrub(docs.unionByName(planted))
    return out.select("doc_id", "n_email", "n_phone", "n_ipv4",
                      "scrubbed_text")


_SQL_PII_SCRUB = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-123-4567 at 10.0.0.'
              || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id < 15
), s1 AS (
  -- staged exactly like pii_scrub: each kind counted on the text as
  -- it stands when that kind's replacement runs, so counts ==
  -- placeholders inserted
  SELECT doc_id, text,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
           '<EMAIL>', 'g') AS t1
  FROM corpus
), s2 AS (
  SELECT *, regexp_replace(t1,
    '\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}(?:[- ][0-9]{1,4})?',
    '<PHONE>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
  length(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
  length(regexp_extract_all(t1,
    '\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}(?:[- ][0-9]{1,4})?'))
    AS n_phone,
  length(regexp_extract_all(t2,
    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ipv4,
  regexp_replace(t2,
    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IPV4>', 'g')
    AS scrubbed_text
FROM s2
"""


def _q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM corpus preparation in ONE declarative plan —
    the pipeline a user of this engine runs before training: quality
    filter → language filter → exact dedup → reproducible split
    assignment → sequence packing.  Every stage is exercised
    non-vacuously by planting, deterministically in BOTH engines,
    30 exact duplicates (doc_id + 10000) and 20 digit-only junk rows
    into the corpus; the language filter discriminates on the natural
    data (218/500 docs infer 'en').  HASH-CHECKED end to end."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.textstats import language_id
    from peakmatch_xcorr_spark.operators.trainprep import (
        assign_splits,
        pack_training_chunks,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dups = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text", "source"
    )
    junk = spark.range(20).select(
        (F.col("id") + 20000).alias("doc_id"),
        F.concat(
            F.col("id").cast("string"),
            F.lit(" 0123456789 0123456789 0123456789 0123456789"),
        ).alias("text"),
        F.lit("junk").alias("source"),
    )
    corpus = docs.unionByName(dups).unionByName(junk)
    # 1. quality: digit/punct spam has near-zero alpha ratio
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    q = corpus.filter(
        (alpha / F.greatest(n_chars, F.lit(1)) >= 0.5) & (n_chars >= 40)
    )
    # 2. language: keep inferred English only
    en = language_id(q).filter(F.col("lang_pred") == "en").select(
        "doc_id", "text", "source"
    )
    # 3. exact dedup: lowest doc_id survives per text hash
    wh = Window.partitionBy(F.md5("text"))
    kept = en.withColumn("_keep", F.min("doc_id").over(wh)).filter(
        F.col("doc_id") == F.col("_keep")
    ).drop("_keep")
    # 4-5. stable split assignment, then pack per (source, split) shard
    packed = pack_training_chunks(
        assign_splits(kept, _SPLIT_WEIGHTS),
        budget=256,
        shard_cols=["source", "split"],
    )
    return packed.select("doc_id", "source", "split", "n_tokens", "chunk_id")


_SQL_CORPUS_PREP = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 10000, text, source FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT 20000 + i,
         CAST(i AS VARCHAR) || ' 0123456789 0123456789 0123456789 0123456789',
         'junk'
  FROM range(20) t(i)
), q AS (
  SELECT * FROM corpus
  WHERE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / greatest(length(text), 1) >= 0.5
    AND length(text) >= 40
), toks AS (
  SELECT doc_id, text, source,
         list_filter(
           regexp_split_to_array(
             lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')), '\\s+'),
           x -> length(x) > 0) AS ts
  FROM q
), scored AS (
  SELECT doc_id, text, source,
    len(list_filter(ts, x -> x IN ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / greatest(len(ts),1) AS s_en,
    len(list_filter(ts, x -> x IN ('der','die','und','das','ist','nicht','von','mit','den','ein')))::DOUBLE / greatest(len(ts),1) AS s_de,
    len(list_filter(ts, x -> x IN ('le','la','les','et','des','est','dans','que','une','pour')))::DOUBLE / greatest(len(ts),1) AS s_fr,
    len(list_filter(ts, x -> x IN ('el','la','los','de','que','y','en','un','por','con')))::DOUBLE / greatest(len(ts),1) AS s_es
  FROM toks
), en AS (
  SELECT doc_id, text, source FROM scored
  WHERE greatest(s_en, s_de, s_fr, s_es) >= 0.05
    AND s_fr <> greatest(s_en, s_de, s_fr, s_es)
    AND s_es <> greatest(s_en, s_de, s_fr, s_es)
    AND s_en = greatest(s_en, s_de, s_fr, s_es)
), kept AS (
  SELECT doc_id, text, source FROM (
    SELECT doc_id, text, source,
           min(doc_id) OVER (PARTITION BY md5(text)) AS _keep
    FROM en
  ) WHERE doc_id = _keep
), split AS (
  SELECT doc_id, text, source,
         CASE
           WHEN ('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 3865470566 THEN 'train'
           WHEN ('0x' || substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < 4080218931 THEN 'val'
           ELSE 'test'
         END AS split
  FROM kept
)
SELECT doc_id, source, split,
       (length(text) + 3) // 4 AS n_tokens,
       CAST(FLOOR((SUM((length(text) + 3) // 4) OVER (
              PARTITION BY source, split ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - (length(text) + 3) // 4
            ) / 256.0) AS BIGINT) AS chunk_id
FROM split
"""


# ----------------------------------------------- downsample family
# Shape-preserving downsampling + per-key series analytics
# (operators/downsample.py): M4, LTTB, EWMA, counter increase,
# rolling z-score.  All five are hash-checked against DuckDB.

def _q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 (first/last/min/max rows per pixel bucket, VLDB 2014): pure
    built-in aggregation; ties broken by lexicographic struct order,
    reproduced in the oracle with row_number windows."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.downsample import m4_downsample

    return m4_downsample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value",
        "1 hour", "event_id",
    )


_SQL_M4 = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_start, ts, value, event_id
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY user_id, bucket_start
                       ORDER BY ts, event_id) AS rf,
    row_number() OVER (PARTITION BY user_id, bucket_start
                       ORDER BY ts DESC, event_id DESC) AS rl,
    row_number() OVER (PARTITION BY user_id, bucket_start
                       ORDER BY value, ts, event_id) AS rmn,
    row_number() OVER (PARTITION BY user_id, bucket_start
                       ORDER BY value DESC, ts DESC, event_id DESC) AS rmx
  FROM b
)
SELECT user_id, bucket_start,
  min(CASE WHEN rf = 1 THEN ts END) AS ts_first,
  min(CASE WHEN rf = 1 THEN value END) AS v_first,
  min(CASE WHEN rl = 1 THEN ts END) AS ts_last,
  min(CASE WHEN rl = 1 THEN value END) AS v_last,
  min(CASE WHEN rmn = 1 THEN ts END) AS ts_min,
  min(CASE WHEN rmn = 1 THEN value END) AS v_min,
  min(CASE WHEN rmx = 1 THEN ts END) AS ts_max,
  min(CASE WHEN rmx = 1 THEN value END) AS v_max,
  count(*) AS n_points
FROM r GROUP BY 1, 2
"""


def _q_lttb_downsample_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB at n_out=3: first + last + the interior point maximizing
    the triangle area with the fixed endpoints — the one budget where
    the sequential pick collapses to a single argmax and is therefore
    exactly SQL-stateable (the general-budget path is covered by
    brute-force parity in tests/test_downsample.py).  x-coordinates
    are integer epoch microseconds as float64 in BOTH engines, so the
    area arithmetic is bit-identical and ties resolve the same way."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.downsample import lttb_downsample

    out = lttb_downsample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", 3,
        "event_id",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "pos", "ts", "value",
    )


_SQL_LTTB_3 = """
WITH s AS (
  SELECT user_id, ts, value, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE value IS NOT NULL
), ends AS (
  SELECT user_id,
         min(CASE WHEN rn = 1 THEN epoch_us(ts) END)::DOUBLE AS x1,
         min(CASE WHEN rn = 1 THEN value END) AS y1,
         min(CASE WHEN rn = n THEN epoch_us(ts) END)::DOUBLE AS xn,
         min(CASE WHEN rn = n THEN value END) AS yn,
         min(CASE WHEN rn = 1 THEN ts END) AS ts1,
         min(CASE WHEN rn = n THEN ts END) AS tsn
  FROM s WHERE n >= 3 GROUP BY user_id
), cand AS (
  SELECT s.user_id, s.ts, s.value, s.rn,
         abs( (e.x1 - e.xn) * (s.value - e.y1)
            - (e.x1 - epoch_us(s.ts)::DOUBLE) * (e.y1 - e.yn) ) AS area
  FROM s JOIN ends e USING (user_id)
  WHERE s.rn > 1 AND s.rn < s.n
)
SELECT user_id, 0 AS pos, ts1 AS ts, y1 AS value FROM ends
UNION ALL
SELECT user_id, 1 AS pos, ts, value FROM (
  SELECT user_id, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY area DESC, rn ASC) AS pr
  FROM cand
) WHERE pr = 1
UNION ALL
SELECT user_id, 2 AS pos, tsn AS ts, yn AS value FROM ends
"""


def _q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha=0.2) over each user's first 40 samples.  The Spark
    side runs the O(1)-state streaming recursion; the oracle evaluates
    the closed form s_n = (1-a)^n * (a*cumsum(v_i*(1-a)^-i) + (1-a)*u_1),
    whose (1-a)^-rn factor is numerically safe only for bounded rn —
    40 keeps the worst-case closed-form error ~1e-10, four orders
    below the 6-dp rounding.  Full-length parity vs the direct
    recursion is pytest-covered (test_downsample.py)."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.downsample import ewma_smooth

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    head = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
    )
    out = ewma_smooth(head, ["user_id"], "ts", "value", 0.2, "event_id")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts", "event_id", "value",
        F.round(F.col("ewma") + 1e-9, 6).alias("ewma"),
    )


_SQL_EWMA = """
WITH s AS (
  SELECT user_id, ts, value, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), h AS (
  SELECT *, value * pow(1.25, rn) AS u FROM s WHERE rn <= 40
), c AS (
  SELECT *, sum(u) OVER (PARTITION BY user_id ORDER BY rn) AS cum,
         first_value(u) OVER (PARTITION BY user_id ORDER BY rn) AS u1
  FROM h
)
SELECT user_id, ts, event_id, value,
       round(pow(0.8, rn) * (0.2 * cum + 0.8 * u1) + 1e-9, 6) AS ewma
FROM c
"""


def _q_counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style increase() with counter-reset handling per
    (user, hour): d < 0 means reset, contributing the post-reset value."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.downsample import counter_increase

    out = counter_increase(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value",
        "1 hour", "event_id",
    )
    return out.select(
        "user_id", "bucket_start",
        F.round(F.col("increase") + 1e-9, 2).alias("increase"),
        "n_resets", "samples",
    )


_SQL_COUNTER_INCREASE = """
WITH s AS (
  SELECT user_id, ts, value,
         value - lag(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS d
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, date_trunc('hour', ts) AS bucket_start,
       round(sum(CASE WHEN d IS NULL THEN 0
                      WHEN d < 0 THEN value ELSE d END) + 1e-9, 2)
         AS increase,
       CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
       count(*) AS samples
FROM s GROUP BY 1, 2
"""


def _q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-bucket z-score over the 1m vsum tier (current bucket
    excluded from its own baseline); emits every scored bucket with an
    is_anomaly flag at |z| > 3.  The flag is derived from the ROUNDED
    z on both sides so the boundary comparison is engine-identical."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.downsample import rolling_zscore
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    tier = tumbling_rollup(ev, ["user_id"], "ts", "value", "1 minute")
    out = rolling_zscore(tier, ["user_id"], "vsum",
                         lookback=24, min_periods=12)
    return out.filter(F.col("z").isNotNull()).select(
        "user_id", "bucket_start",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        "base_mean", "base_n", "z",
        (F.abs(F.col("z")) > 3.0).alias("is_anomaly"),
    )


_SQL_ANOMALY_ZSCORE = """
WITH t AS (
  SELECT user_id, date_trunc('minute', ts) AS bucket_start,
         sum(value) AS vsum
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT user_id, bucket_start, vsum,
         avg(vsum) OVER win AS mu,
         stddev_samp(vsum) OVER win AS sd,
         count(vsum) OVER win AS n
  FROM t
  WINDOW win AS (PARTITION BY user_id ORDER BY bucket_start
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, bucket_start,
       round(vsum + 1e-9, 2) AS vsum,
       round(mu + 1e-9, 6) AS base_mean,
       n AS base_n,
       round((vsum - mu) / sd + 1e-9, 6) AS z,
       (abs(round((vsum - mu) / sd + 1e-9, 6)) > 3.0) AS is_anomaly
FROM w WHERE n >= 12 AND sd > 1e-12
"""


def _q_seasonal_profile_24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical-decomposition seasonal component (period 24) of each
    event_type's hourly activity count: 2x24 centered-MA detrend over
    the zero-filled dense tier, per-phase means trimmed to whole
    cycles, centered to sum 0 (operators/seasonal.py seasonal_profile
    — the periodic-profile sibling of the reference's band-mean curve
    summary, DominantFreqProcessor.java:90-150).  Every window/group
    sum is exact int64 over counts; the oracle evaluates the identical
    cleared-denominator closed form."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import (
        dense_bucket_counts, seasonal_profile,
    )

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return seasonal_profile(dense, ["event_type"], period=24)


_SQL_SEASONAL_PROFILE_24 = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), w AS (
  SELECT event_type, b, v,
         sum(v) OVER (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS S,
         lag(v, 12) OVER (PARTITION BY event_type ORDER BY b) AS a,
         lead(v, 12) OVER (PARTITION BY event_type ORDER BY b) AS cc,
         b - min(b) OVER (PARTITION BY event_type) AS pos,
         max(b) OVER (PARTITION BY event_type)
           - min(b) OVER (PARTITION BY event_type) + 1 AS L
  FROM d
), v2 AS (
  SELECT *, (L - 24) // 24 AS n_cycles FROM w
), val AS (
  SELECT event_type, b % 24 AS phase,
         48 * v - 2 * S + a + cc AS num, n_cycles
  FROM v2
  WHERE n_cycles >= 1 AND pos >= 12 AND pos - 12 < n_cycles * 24
), g AS (
  SELECT event_type, phase, sum(num) AS I, min(n_cycles) AS n_cycles
  FROM val GROUP BY 1, 2
), t AS (
  SELECT *, sum(I) OVER (PARTITION BY event_type) AS T FROM g
)
SELECT event_type, phase, n_cycles,
       round((24 * I - T) / (48.0 * n_cycles * 24) + 1e-9, 6) AS seasonal
FROM t
"""


def _q_seasonal_anomaly_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day phase-baseline anomalies in each event_type's
    hourly counts: leave-one-out z vs the OTHER buckets sharing the
    same b % 24 phase (operators/seasonal.py seasonal_baseline_anomaly
    — the seasonal transpose of anomaly_zscore_1m's trailing window).
    All baseline moments are exact int64 power sums; |z| is compared
    unrounded on both engines."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import (
        dense_bucket_counts, seasonal_baseline_anomaly,
    )

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return seasonal_baseline_anomaly(
        dense, ["event_type"], period=24, z_thresh=2.0, min_periods=8
    )


_SQL_SEASONAL_ANOMALY_HOD = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), p AS (
  SELECT event_type, b, b % 24 AS phase, v FROM d
), g AS (
  SELECT event_type, phase, count(*) AS n,
         sum(v) AS S1, sum(v * v) AS S2
  FROM p GROUP BY 1, 2
), j AS (
  SELECT p.event_type, p.b, p.phase, p.v,
         (g.S1 - p.v) / CAST(g.n - 1 AS DOUBLE) AS mean_loo,
         ((g.n - 1) * (g.S2 - p.v * p.v) - (g.S1 - p.v) * (g.S1 - p.v))
           / CAST((g.n - 1) * (g.n - 2) AS DOUBLE) AS var_loo,
         g.n AS n
  FROM p JOIN g ON g.event_type = p.event_type AND g.phase = p.phase
)
SELECT event_type, b, phase, v,
       round(mean_loo + 1e-9, 6) AS baseline_mean,
       round((v - mean_loo) / sqrt(var_loo) + 1e-9, 6) AS z
FROM j
WHERE n >= 8 AND var_loo > 1e-12
  AND abs((v - mean_loo) / sqrt(var_loo)) > 2.0
"""


def _q_seasonal_robust_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD (modified-z) hour-of-day anomalies in each
    event_type's hourly counts (operators/seasonal.py
    seasonal_robust_anomaly) — the breakdown-resistant sibling of
    seasonal_anomaly_hod.  Medians of int64 counts interpolate to
    exact halves identically in Spark percentile() and DuckDB
    median(), so the only inexact op is the final division; |rz| is
    compared unrounded on both engines."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import (
        dense_bucket_counts, seasonal_robust_anomaly,
    )

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return seasonal_robust_anomaly(
        dense, ["event_type"], period=24, z_thresh=2.5, min_periods=8
    )


_SQL_SEASONAL_ROBUST_HOD = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), p AS (
  SELECT event_type, b, b % 24 AS phase, v FROM d
), g AS (
  SELECT event_type, phase, median(v) AS med, count(*) AS n
  FROM p GROUP BY 1, 2
), j1 AS (
  SELECT p.*, g.med, g.n FROM p
  JOIN g ON g.event_type = p.event_type AND g.phase = p.phase
), m AS (
  SELECT event_type, phase, median(abs(v - med)) AS mad
  FROM j1 GROUP BY 1, 2
), j2 AS (
  SELECT j1.*, m.mad FROM j1
  JOIN m ON m.event_type = j1.event_type AND m.phase = j1.phase
)
SELECT event_type, b, phase, v,
       round(med + 1e-9, 6) AS baseline_median,
       round((v - med) / (1.4826022185056018 * mad) + 1e-9, 6) AS rz
FROM j2
WHERE n >= 8 AND mad > 1e-12
  AND abs((v - med) / (1.4826022185056018 * mad)) > 2.5
"""


def _q_changepoint_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single strongest mean-shift point in each event_type's hourly
    activity (operators/stats.py changepoint_mean_shift: depth-1
    binary segmentation, standardized two-sample statistic over exact
    integer cumulative sums; ties break to the smallest prefix so the
    argmax is engine-deterministic)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts
    from peakmatch_xcorr_spark.operators.stats import changepoint_mean_shift

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return changepoint_mean_shift(dense, ["event_type"], min_seg=24)


_SQL_CHANGEPOINT_HOURLY = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), w AS (
  SELECT event_type, b, v,
         row_number() OVER win AS t,
         sum(v) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(v) OVER (PARTITION BY event_type) AS S,
         count(*) OVER (PARTITION BY event_type) AS L
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY b)
), cand AS (
  SELECT event_type, b, t, L,
         cum / t AS lm,
         (S - cum) / (L - t) AS rm,
         abs(cum / t - (S - cum) / (L - t))
           * sqrt(t * (L - t) / L) AS score
  FROM w
  WHERE L >= 48 AND t >= 24 AND t <= L - 24
), pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY score DESC, t) AS rk
  FROM cand
)
SELECT event_type, b + 1 AS change_b,
       t AS left_len, L - t AS right_len,
       round(lm + 1e-9, 6) AS left_mean,
       round(rm + 1e-9, 6) AS right_mean,
       round(score + 1e-9, 6) AS score
FROM pick WHERE rk = 1
"""


def _q_period_detect_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked oracle for FFT period detection
    (operators/seasonal.py detect_period) via planted integer-cycle
    tones: dense count series v(b) = 10 + round(5*cos(2*pi*b/p)) over
    L = 240 buckets with p in {8, 12, 24, 30, 40} — every p divides L,
    so the tone lands on exactly one UNPADDED rFFT bin (k = L/p, zero
    leakage) with |X_k| ~ 5L/2, while the rounding harmonics carry
    amplitude < 0.5; the argmax is therefore analytic and DuckDB needs
    no FFT.  Same promotion trick as dominant_freq_planted
    (__spark_entry__.py) — strength is excluded (its value IS
    FFT-shaped), the discrete answers are checked."""
    _utc(spark)
    import math

    from peakmatch_xcorr_spark.operators.seasonal import detect_period

    periods = F.array(*[F.lit(p) for p in (8, 12, 24, 30, 40)])
    two_pi = 2.0 * math.pi
    dense = (
        spark.range(20)
        .select(
            F.col("id").cast("string").alias("conv_id"),
            F.element_at(periods, (F.col("id") % 5 + 1).cast("int")).alias("p"),
            F.explode(F.sequence(F.lit(0), F.lit(239))).alias("b"),
        )
        .select(
            "conv_id",
            F.col("b").cast("long").alias("b"),
            (
                F.lit(10)
                + F.round(
                    F.lit(5.0) * F.cos(F.lit(two_pi) * F.col("b") / F.col("p")),
                    0,
                )
            ).cast("long").alias("v"),
        )
    )
    out = detect_period(dense, ["conv_id"], min_period=2, max_period=120)
    return out.select(
        F.col("conv_id").cast("int").alias("id"),
        "L", "dominant_cycles", "period_buckets",
        F.round(F.col("period") + 1e-9, 6).alias("period"),
    )


_SQL_PERIOD_DETECT_PLANTED = """
WITH ids AS (
  SELECT range AS id,
         ([8, 12, 24, 30, 40])[(range % 5) + 1] AS p
  FROM range(0, 20)
)
SELECT id::INT AS id, CAST(240 AS BIGINT) AS L,
       CAST(240 // p AS BIGINT) AS dominant_cycles,
       CAST(p AS INT) AS period_buckets,
       round(CAST(p AS DOUBLE) + 1e-9, 6) AS period
FROM ids
"""


def _q_binseg_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 recursive binary segmentation of each event_type's
    hourly activity (operators/stats.py binary_segmentation): level 0
    is the changepoint_hourly split gated at rounded score >= 3.0;
    level 1 re-runs the same statistic INSIDE each accepted child.
    The oracle replays both levels literally — the level-1 partition
    key (event_type, child side) is derivable in SQL because the
    operator's seg ids after one level are exactly {0,1} on split keys
    and {0} on unsplit ones."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts
    from peakmatch_xcorr_spark.operators.stats import binary_segmentation

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    splits, _segmented = binary_segmentation(
        dense, ["event_type"], depth=2, min_seg=24, min_score=3.0
    )
    return splits.select(
        "event_type", "seg", "level", "change_b",
        "left_len", "right_len", "left_mean", "right_mean", "score",
    )


_SQL_BINSEG_HOURLY = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), w1 AS (
  SELECT event_type, b, v,
         row_number() OVER win AS t,
         sum(v) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(v) OVER (PARTITION BY event_type) AS S,
         count(*) OVER (PARTITION BY event_type) AS L
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY b)
), cand1 AS (
  SELECT event_type, b, t, L,
         cum / t AS lm, (S - cum) / (L - t) AS rm,
         abs(cum / t - (S - cum) / (L - t))
           * sqrt(t * (L - t) / L) AS score
  FROM w1 WHERE L >= 48 AND t >= 24 AND t <= L - 24
), pick1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY score DESC, t) AS rk
  FROM cand1
), acc1 AS (
  SELECT event_type, b + 1 AS change_b, t AS left_len, L - t AS right_len,
         round(lm + 1e-9, 6) AS left_mean,
         round(rm + 1e-9, 6) AS right_mean,
         round(score + 1e-9, 6) AS score
  FROM pick1 WHERE rk = 1 AND round(score + 1e-9, 6) >= 3.0
), d2 AS (
  SELECT d.event_type, d.b, d.v,
         CASE WHEN a.change_b IS NULL THEN 0
              WHEN d.b >= a.change_b THEN 1 ELSE 0 END AS seg
  FROM d LEFT JOIN acc1 a ON a.event_type = d.event_type
), w2 AS (
  SELECT event_type, seg, b, v,
         row_number() OVER win AS t,
         sum(v) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         sum(v) OVER (PARTITION BY event_type, seg) AS S,
         count(*) OVER (PARTITION BY event_type, seg) AS L
  FROM d2
  WINDOW win AS (PARTITION BY event_type, seg ORDER BY b)
), cand2 AS (
  SELECT event_type, seg, b, t, L,
         cum / t AS lm, (S - cum) / (L - t) AS rm,
         abs(cum / t - (S - cum) / (L - t))
           * sqrt(t * (L - t) / L) AS score
  FROM w2 WHERE L >= 48 AND t >= 24 AND t <= L - 24
), pick2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type, seg
                               ORDER BY score DESC, t) AS rk
  FROM cand2
), acc2 AS (
  SELECT event_type, seg, b + 1 AS change_b, t AS left_len,
         L - t AS right_len,
         round(lm + 1e-9, 6) AS left_mean,
         round(rm + 1e-9, 6) AS right_mean,
         round(score + 1e-9, 6) AS score
  FROM pick2 WHERE rk = 1 AND round(score + 1e-9, 6) >= 3.0
)
SELECT event_type, CAST(0 AS BIGINT) AS seg, 0 AS level, change_b,
       left_len, right_len, left_mean, right_mean, score
FROM acc1
UNION ALL
SELECT event_type, CAST(seg AS BIGINT) AS seg, 1 AS level, change_b,
       left_len, right_len, left_mean, right_mean, score
FROM acc2
"""


def _q_matrix_profile_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif + discord summary of each event_type's hourly activity
    tier (operators/motif.py matrix_profile_tier, m=24: which DAY-LONG
    window repeats most exactly, which is most anomalous).  Rows-only:
    the matrix profile is an O(L^2) dynamic nearest-neighbor scan no
    SQL engine expresses; the kernel is pinned by the brute-force
    pytest oracle (tests/test_motif.py) and by the hash-checked
    ``motif_planted`` companion below."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.motif import matrix_profile_tier
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    out = matrix_profile_tier(dense, ["event_type"], m=24)
    return out.select(
        "event_type", "L", "n_windows", "motif_a", "motif_b",
        F.round(F.col("motif_dist") + 1e-9, 6).alias("motif_dist"),
        "discord_b", "discord_nn",
        F.round(F.col("discord_dist") + 1e-9, 6).alias("discord_dist"),
    )


def _q_motif_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked oracle for the matrix profile (operators/motif.py)
    via planted exact repeats: per conversation a deterministic
    pseudo-random tier (PCG64, fixed seed — NOT data-derived, so the
    oracle can know the answer without running the kernel) gets window
    [B, B+m) overwritten with an exact copy of [A, A+m).  The copy
    pair's z-normalized distance is ~0 (cumsum noise), while the
    minimum distance between any two iid-noise windows of length 16 is
    O(sqrt(2m)) — orders of magnitude larger — so the motif indices
    are analytic literals; the distance itself (float-noise shaped) is
    excluded from the checked columns, same discipline as
    ``period_detect_planted`` excluding ``strength``."""
    _utc(spark)
    import numpy as np

    m, L = 16, 240
    rows = []
    for cid in range(8):
        rng = np.random.default_rng(9000 + cid)
        v = np.round(rng.normal(0, 100, L)).astype(np.int64)
        a, b = 20 + 3 * cid, 150 + 5 * cid
        v[b : b + m] = v[a : a + m]
        rows += [(str(cid), i, int(x)) for i, x in enumerate(v)]
    dense = spark.createDataFrame(rows, "conv_id string, b long, v long")
    from peakmatch_xcorr_spark.operators.motif import matrix_profile_tier

    out = matrix_profile_tier(dense, ["conv_id"], m=m)
    return out.select(
        F.col("conv_id").cast("int").alias("id"),
        "L", "n_windows", "motif_a", "motif_b",
    )


_SQL_MOTIF_PLANTED = """
SELECT range::INT AS id, CAST(240 AS BIGINT) AS L,
       CAST(225 AS BIGINT) AS n_windows,
       CAST(20 + 3 * range AS BIGINT) AS motif_a,
       CAST(150 + 5 * range AS BIGINT) AS motif_b
FROM range(0, 8)
"""


def _q_pacf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of each event_type's hourly
    activity (operators/stats.py activity_pacf): the AR-order
    diagnostic — how much does the value k hours ago explain the
    current hour AFTER shorter lags are regressed out.  Spark runs the
    general Durbin–Levinson kernel; the DuckDB oracle evaluates the
    lag-3 Cramer closed form over EXACT integer power sums (dense
    spine, common-mean biased ACF with cleared denominators — only
    the final divisions are float).  The two formulations agree to
    ~1e-12 (pinned by tests/test_pacf.py); the 6-dp oracle rounding
    absorbs the difference."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts
    from peakmatch_xcorr_spark.operators.stats import activity_pacf

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return activity_pacf(dense, ["event_type"], max_lag=3)


_SQL_PACF_HOURLY = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), w AS (
  SELECT event_type, v,
         row_number() OVER win AS t,
         lead(v, 1) OVER win AS v1,
         lead(v, 2) OVER win AS v2,
         lead(v, 3) OVER win AS v3,
         count(*) OVER (PARTITION BY event_type) AS N,
         sum(v) OVER (PARTITION BY event_type) AS S,
         sum(v * v) OVER (PARTITION BY event_type) AS Sxx
  FROM d
  WINDOW win AS (PARTITION BY event_type ORDER BY b)
), agg AS (
  SELECT event_type, max(N) AS N, max(S) AS S, max(Sxx) AS Sxx,
         sum(v * v1) AS sxy1, sum(v * v2) AS sxy2, sum(v * v3) AS sxy3,
         sum(CASE WHEN t + 1 <= N THEN v ELSE 0 END) AS h1,
         sum(CASE WHEN t + 2 <= N THEN v ELSE 0 END) AS h2,
         sum(CASE WHEN t + 3 <= N THEN v ELSE 0 END) AS h3,
         sum(CASE WHEN t > 1 THEN v ELSE 0 END) AS t1,
         sum(CASE WHEN t > 2 THEN v ELSE 0 END) AS t2,
         sum(CASE WHEN t > 3 THEN v ELSE 0 END) AS t3
  FROM w GROUP BY event_type
), r AS (
  SELECT event_type, N,
    CAST(N*N*sxy1 - N*S*(h1 + t1) + (N-1)*S*S AS DOUBLE)
      / (N*N*Sxx - N*S*S) AS r1,
    CAST(N*N*sxy2 - N*S*(h2 + t2) + (N-2)*S*S AS DOUBLE)
      / (N*N*Sxx - N*S*S) AS r2,
    CAST(N*N*sxy3 - N*S*(h3 + t3) + (N-3)*S*S AS DOUBLE)
      / (N*N*Sxx - N*S*S) AS r3
  FROM agg
  WHERE N > 4 AND N*Sxx > S*S
)
SELECT event_type, N,
       round(r1 + 1e-9, 6) AS r1,
       round(r2 + 1e-9, 6) AS r2,
       round(r3 + 1e-9, 6) AS r3,
       round(r1 + 1e-9, 6) AS pacf1,
       round((r2 - r1*r1) / (1 - r1*r1) + 1e-9, 6) AS pacf2,
       round((r3 - 2*r1*r2 - r1*r1*r3 + r1*r2*r2 + r1*r1*r1)
             / (1 - 2*r1*r1 + 2*r1*r1*r2 - r2*r2) + 1e-9, 6) AS pacf3
FROM r
"""


def _q_cusum_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection on each event_type's hourly
    tier (operators/stats.py cusum_drift, k=0.5σ slack, h=5σ decision
    interval).  The Page recursion is evaluated via the reflection
    identity s_t = c_t - min(0, min_{j<=t} c_j) — running sum +
    running min over one ordered window — which is exactly what the
    DuckDB oracle mirrors; the recursive max() form would not be
    SQL-expressible.  Pinned against the literal recursion in
    tests/test_cusum.py."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts
    from peakmatch_xcorr_spark.operators.stats import cusum_drift

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return cusum_drift(dense, ["event_type"], k_sigma=0.5, h_sigma=5.0)


_SQL_CUSUM_HOURLY = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), st AS (
  SELECT event_type, b, v,
         count(*) OVER w AS n,
         sum(v) OVER w AS S,
         sum(v * v) OVER w AS Sxx
  FROM d WINDOW w AS (PARTITION BY event_type)
), ms AS (
  SELECT event_type, b, v, n,
         CAST(S AS DOUBLE) / n AS mu,
         sqrt(CAST(n * Sxx - S * S AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1))) AS sigma
  FROM st WHERE n >= 3
), y AS (
  SELECT event_type, b, v, mu, sigma,
         v - mu - 0.5 * sigma AS y_hi,
         mu - v - 0.5 * sigma AS y_lo
  FROM ms WHERE sigma > 1e-12
), cs AS (
  SELECT event_type, b, v, sigma,
         sum(y_hi) OVER w AS c_hi,
         sum(y_lo) OVER w AS c_lo
  FROM y
  WINDOW w AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT event_type, b, v, sigma, c_hi, c_lo,
         least(CAST(0 AS DOUBLE), min(c_hi) OVER w) AS m_hi,
         least(CAST(0 AS DOUBLE), min(c_lo) OVER w) AS m_lo
  FROM cs
  WINDOW w AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, b, v, 'hi' AS side,
       round((c_hi - m_hi) / sigma + 1e-9, 6) AS s
FROM s WHERE (c_hi - m_hi) / sigma > 5.0
UNION ALL
SELECT event_type, b, v, 'lo' AS side,
       round((c_lo - m_lo) / sigma + 1e-9, 6) AS s
FROM s WHERE (c_lo - m_lo) / sigma > 5.0
"""


def _q_theil_sen_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of each event_type's hourly tier
    (operators/stats.py theil_sen_trend): median of all pairwise
    slopes + median residual intercept — the outlier-proof line the
    OLS `trend_slope` query can't give (one incident bucket tilts
    OLS arbitrarily; pinned in tests/test_theilsen.py).  Medians of
    double slopes interpolate identically in Spark percentile and
    DuckDB median; 720-bucket tiers give 258k pair rows per key,
    generated inside the co-partitioned join task."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts
    from peakmatch_xcorr_spark.operators.stats import theil_sen_trend

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return theil_sen_trend(dense, ["event_type"])


_SQL_THEIL_SEN_HOURLY = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
), p AS (
  SELECT a.event_type,
         CAST(bb.v - a.v AS DOUBLE) / CAST(bb.b - a.b AS DOUBLE) AS m
  FROM d a JOIN d bb ON a.event_type = bb.event_type AND a.b < bb.b
), s AS (
  SELECT event_type, median(m) AS slope, count(*) AS n_pairs
  FROM p GROUP BY event_type
)
SELECT d.event_type, max(s.n_pairs) AS n_pairs,
       round(max(s.slope) + 1e-9, 6) AS slope,
       round(median(CAST(d.v AS DOUBLE) - s.slope * d.b) + 1e-9, 6)
         AS intercept
FROM d JOIN s ON s.event_type = d.event_type
GROUP BY d.event_type
"""


def _q_dtw_warp_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked oracle for banded DTW (operators/dtw.py) via
    planted TIME-STRETCHED copies — the invariance xcorr cannot
    express.  Each base curve (deterministic PCG noise, adjacent
    values forced distinct by a parity bit so equal-value runs can't
    merge) is paired with its 2x stretch (np.repeat, truncated): the
    two series are warping-equivalent, so their DTW distance is
    EXACTLY 0.0 in float arithmetic (every matched cost is |x-x|).
    Control pairs (different bases) are warping-distinct; the margin
    (dtw > 0.5) is asserted as a precondition rather than assumed, so
    the boolean emitted per pair is analytic."""
    _utc(spark)
    import numpy as np

    half, n = 32, 64
    curves = []
    for cid in range(6):
        rng = np.random.default_rng(7100 + cid)
        a = np.round(rng.normal(0, 100, half)) * 2 + np.arange(half) % 2
        base = np.concatenate([a, np.full(half, a[-1])])
        stretch = np.repeat(a, 2)[:n]
        curves.append((f"b{cid}", [float(x) for x in base]))
        curves.append((f"s{cid}", [float(x) for x in stretch]))
    cdf = spark.createDataFrame(curves, "conv_id string, series array<double>")
    pair_rows = [(f"b{i}", f"s{i}") for i in range(6)] + [
        (f"b{i}", f"b{(i + 1) % 6}") for i in range(6)
    ]
    pdf = spark.createDataFrame(pair_rows, "id_a string, id_b string")
    from peakmatch_xcorr_spark.operators.dtw import dtw_pair_scores

    out = dtw_pair_scores(pdf, cdf, band=n - 1).collect()
    for r in out:
        planted = r["id_a"][0] == "b" and r["id_b"][0] == "s"
        if not planted and r["dtw"] <= 0.5:
            raise ValueError(
                f"dtw_warp_planted precondition violated: control pair "
                f"({r['id_a']}, {r['id_b']}) has dtw {r['dtw']} <= 0.5"
            )
    import pandas as pd

    res = pd.DataFrame({
        "id_a": [r["id_a"] for r in out],
        "id_b": [r["id_b"] for r in out],
        "warp_equal": [r["dtw"] == 0.0 for r in out],
    })
    return spark.createDataFrame(res)


_SQL_DTW_WARP_PLANTED = """
SELECT 'b' || range AS id_a, 's' || range AS id_b, TRUE AS warp_equal
FROM range(0, 6)
UNION ALL
SELECT 'b' || range AS id_a, 'b' || ((range + 1) % 6) AS id_b,
       FALSE AS warp_equal
FROM range(0, 6)
"""


def _q_metric_corr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats_agg 2-D analogue (operators/stats.py pair_metric_corr):
    per day, the Pearson correlation between hourly click and view
    counts.  Computed from explicit integer power sums (n, Σx, Σy,
    Σx², Σy², Σxy) so the value is bit-reproducible across engines —
    the only float op is the final closed-form division; native
    corr() would compare two different streaming co-moment merge
    orders.  Two hash aggregates: the first reduces events→hours (the
    only exchange that sees data volume, map-side partials), the
    second sees 24 rows/day."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stats import pair_metric_corr

    ev = _t(spark, sf_dir, "events")
    return pair_metric_corr(ev, "ts", "event_type", "click", "view")


_SQL_METRIC_CORR = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_start,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
)
SELECT date_trunc('day', bucket_start) AS day,
       count(*) AS n_buckets,
       round(
         (count(*) * sum(x*y) - sum(x) * sum(y))
         / nullif(sqrt(CAST((count(*) * sum(x*x) - sum(x)*sum(x))
                          * (count(*) * sum(y*y) - sum(y)*sum(y))
                       AS DOUBLE)), 0.0)
         + 1e-9, 6) AS corr
FROM hourly GROUP BY 1
"""


def _q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats_agg slope analogue (operators/stats.py activity_trend):
    per event_type, the OLS slope + intercept of hourly event counts
    over the integer hour index — volume trend detection.  Exact
    integer power sums (x = epoch_hours bigint, y = count), float
    only at the final division; one data-volume exchange."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stats import activity_trend

    ev = _t(spark, sf_dir, "events")
    return activity_trend(ev, "ts", ["event_type"], bucket_s=3600)


_SQL_TREND_SLOPE = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS xi,
         count(*) AS y
  FROM events GROUP BY 1, 2
), sums AS (
  SELECT event_type, count(*) AS n,
         sum(xi) AS sx, sum(y) AS sy,
         sum(xi*xi) AS sxx, sum(xi*y) AS sxy
  FROM hourly GROUP BY 1
)
SELECT event_type, n AS n_buckets,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)
             + 1e-9, 8) AS slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
             + 1e-9, 4) AS intercept
FROM sums
"""


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram() hyperfunction analogue (operators/stats.py
    value_histogram): width_bucket fixed-width histogram of
    events.value over [0, 500) in 25 bins with underflow/overflow
    edge bins.  One hash-aggregate exchange with map-side combine;
    the (v-lo)/width floor is the identical IEEE expression on both
    engines so bin edges cannot diverge."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stats import value_histogram

    ev = _t(spark, sf_dir, "events")
    return value_histogram(ev, "value", lo=0.0, hi=500.0, n_bins=25)


_SQL_VALUE_HISTOGRAM = """
SELECT CASE WHEN value < 0.0 THEN 0
            WHEN value >= 500.0 THEN 26
            ELSE CAST(floor((value - 0.0) / 20.0) AS INT) + 1 END AS bin,
       count(*) AS n,
       round(min(value) + 1e-9, 6) AS bin_min,
       round(max(value) + 1e-9, 6) AS bin_max
FROM events WHERE value IS NOT NULL GROUP BY 1
"""


def _q_ccf_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 cross-correlation between each user's dense 1-minute
    click and view curves (operators/stats.py activity_ccf) — the
    relational analogue of the engine's xcorr-at-a-lag kernel for
    metric pairs.  Dense from sparse: zeros contribute only to n, so
    tag-conditional power sums over the union span plus a sparse Σxy
    join reconstruct the exact zero-filled Pearson r."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.operators.stats import activity_ccf

    ev = _t(spark, sf_dir, "events")
    tx = tumbling_rollup(
        ev.filter(F.col("event_type") == "click"),
        ["user_id"], "ts", None, "1 minute",
    )
    ty = tumbling_rollup(
        ev.filter(F.col("event_type") == "view"),
        ["user_id"], "ts", None, "1 minute",
    )
    return activity_ccf(tx, ty, ["user_id"], "1 minute", lag=1)


_SQL_CCF_CLICK_VIEW = """
WITH tx AS (
  SELECT user_id, CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS es,
         CAST(count(*) AS BIGINT) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), ty AS (
  SELECT user_id, CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS es,
         CAST(count(*) AS BIGINT) AS v
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
), b AS (
  SELECT user_id, min(es) AS mn, max(es) AS mx
  FROM (SELECT user_id, es FROM tx UNION ALL SELECT user_id, es FROM ty)
  GROUP BY 1
), sx AS (
  SELECT t.user_id,
         sum(CASE WHEN t.es <= b.mx - 60 THEN t.v ELSE 0 END) AS sx,
         sum(CASE WHEN t.es <= b.mx - 60 THEN t.v * t.v ELSE 0 END) AS sxx
  FROM tx t JOIN b ON t.user_id = b.user_id GROUP BY 1
), sy AS (
  SELECT t.user_id,
         sum(CASE WHEN t.es >= b.mn + 60 THEN t.v ELSE 0 END) AS sy,
         sum(CASE WHEN t.es >= b.mn + 60 THEN t.v * t.v ELSE 0 END) AS syy
  FROM ty t JOIN b ON t.user_id = b.user_id GROUP BY 1
), p AS (
  SELECT a.user_id, sum(a.v * c.v) AS sxy
  FROM tx a JOIN ty c ON a.user_id = c.user_id AND a.es + 60 = c.es
  GROUP BY 1
), m AS (
  SELECT b.user_id,
         CAST((b.mx - b.mn) / 60 AS BIGINT) AS n,
         coalesce(sx.sx, 0) AS sx, coalesce(sx.sxx, 0) AS sxx,
         coalesce(sy.sy, 0) AS sy, coalesce(sy.syy, 0) AS syy,
         coalesce(p.sxy, 0) AS sxy
  FROM b LEFT JOIN sx ON b.user_id = sx.user_id
         LEFT JOIN sy ON b.user_id = sy.user_id
         LEFT JOIN p ON b.user_id = p.user_id
)
SELECT user_id, n AS n_pairs,
       CASE WHEN n >= 2
             AND (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
            THEN round((n*sxy - sx*sy)
                 / sqrt(CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE))
                 + 1e-9, 6)
       END AS ccf
FROM m
"""


def _q_topn_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topn_agg rollup shape (operators/stats.py topn_with_rest): per
    day, the top-5 users by event count plus ONE '<rest>' row so the
    rows partition the day's total.  Deterministic ties (count desc,
    user asc); the only data-volume exchange is the (day, user) count."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stats import topn_with_rest

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    return topn_with_rest(ev, ["day"], "user_id", n=5)


_SQL_TOPN_USERS_DAILY = """
WITH counts AS (
  SELECT date_trunc('day', ts) AS day, user_id,
         count(*) AS weight
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY day
                               ORDER BY weight DESC, user_id ASC) AS rk
  FROM counts
)
SELECT day,
       CASE WHEN rk <= 5 THEN CAST(user_id AS VARCHAR)
            ELSE '<rest>' END AS entity,
       CAST(sum(weight) AS BIGINT) AS weight,
       min(CASE WHEN rk <= 5 THEN rk END) AS rank,
       count(*) AS n_entities
FROM ranked GROUP BY 1, 2
"""


def _q_rollup_month_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aligned month tier (operators/rollup.py calendar_tier):
    cascaded raw → 1h → 1d → date_trunc('month') — TimescaleDB's
    time_bucket('1 month').  Variable-width calendar buckets can't go
    through F.window's epoch-modulo math, but day boundaries nest
    exactly inside months under the pinned-UTC session, so the
    date_trunc cascade FROM the daily tier is exact; the month
    shuffle's input is the 1d tier (~1/1440 of raw)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import (
        calendar_tier,
        cascade_tier,
        tumbling_rollup,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t1h = tumbling_rollup(ev, ["user_id"], "ts", "value", "1 hour")
    t1d = cascade_tier(t1h, ["user_id"], "1 day")
    mon = calendar_tier(t1d, ["user_id"], "month")
    return mon.select(
        "user_id", "bucket_start", "turns", "vcount",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        F.round(F.col("vmin") + 1e-9, 2).alias("vmin"),
        F.round(F.col("vmax") + 1e-9, 2).alias("vmax"),
        F.round(F.col("vavg") + 1e-9, 6).alias("vavg"),
    )


_SQL_ROLLUP_MONTH = """
SELECT user_id, date_trunc('month', ts) AS bucket_start,
       count(*) AS turns, count(value) AS vcount,
       round(sum(value) + 1e-9, 2) AS vsum,
       round(min(value) + 1e-9, 2) AS vmin,
       round(max(value) + 1e-9, 2) AS vmax,
       round(sum(value) / count(value) + 1e-9, 6) AS vavg
FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


def _q_rollup_90s_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket() with an origin offset (operators/rollup.py
    tumbling_rollup(origin=...)): 90-second buckets anchored at
    :00:30 instead of :00:00 — F.window's startTime keeps it one
    epoch-modulo expression in the same single exchange."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = tumbling_rollup(
        ev, ["user_id"], "ts", "value", "90 seconds", origin="30 seconds"
    )
    return out.select(
        "user_id", "bucket_start", "turns",
        F.round(F.col("vsum") + 1e-9, 2).alias("vsum"),
        F.round(F.col("vmax") + 1e-9, 2).alias("vmax"),
    )


_SQL_ROLLUP_90S_OFFSET = """
SELECT user_id,
       make_timestamp((CAST(floor((epoch(ts) - 30) / 90) AS BIGINT) * 90 + 30)
                      * 1000000) AS bucket_start,
       count(*) AS turns,
       round(sum(value) + 1e-9, 2) AS vsum,
       round(max(value) + 1e-9, 2) AS vmax
FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


def _q_irate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus irate() analogue (operators/downsample.py irate):
    per (user, hour), the instantaneous per-second rate from the last
    two samples of the user's stream, counter-reset aware, with exact
    int64-microsecond timestamp deltas.  Lag-window + one max_by hash
    aggregate, whole-stage codegen end to end."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.downsample import irate

    ev = _t(spark, sf_dir, "events")
    out = irate(ev, ["user_id"], "ts", "value", "1 hour", "event_id")
    return out.select(
        "user_id", "bucket_start",
        F.round(F.col("rate") + 1e-9, 6).alias("rate"),
        "samples",
    )


_SQL_IRATE_1H = """
WITH s AS (
  SELECT user_id, ts, value, event_id,
         date_trunc('hour', ts) AS bucket_start,
         value - lag(value) OVER w AS dv,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS dt,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, date_trunc('hour', ts))
           AS samples
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, bucket_start,
       round(CASE WHEN dt > 0
                  THEN (CASE WHEN dv < 0 THEN value ELSE dv END) * 1e6 / dt
             END + 1e-9, 6) AS rate,
       samples
FROM s WHERE rn = 1
"""


def _q_acf_lag1_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's DENSE 1-minute activity
    curve (operators/stats.py activity_acf), computed from the sparse
    rolled tier: zeros contribute only to n, so conditional power
    sums over the span's two lag windows plus a sparse self-join for
    Σxy reconstruct the dense ACF exactly — no scaffold, no zero
    rows.  Integer sums, one float division."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import tumbling_rollup
    from peakmatch_xcorr_spark.operators.stats import activity_acf

    ev = _t(spark, sf_dir, "events")
    curve = tumbling_rollup(ev, ["user_id"], "ts", None, "1 minute")
    return activity_acf(curve, ["user_id"], "1 minute", lag=1)


_SQL_ACF_LAG1 = """
WITH t AS (
  SELECT user_id, CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS es,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), b AS (
  SELECT *, min(es) OVER (PARTITION BY user_id) AS mn,
         max(es) OVER (PARTITION BY user_id) AS mx
  FROM t
), s AS (
  SELECT user_id,
         CAST((max(mx) - min(mn)) / 60 AS BIGINT) AS n,
         sum(CASE WHEN es <= mx - 60 THEN v ELSE 0 END) AS sx,
         sum(CASE WHEN es <= mx - 60 THEN v*v ELSE 0 END) AS sxx,
         sum(CASE WHEN es >= mn + 60 THEN v ELSE 0 END) AS sy,
         sum(CASE WHEN es >= mn + 60 THEN v*v ELSE 0 END) AS syy
  FROM b GROUP BY 1
), p AS (
  SELECT a.user_id, sum(a.v * c.v) AS sxy
  FROM t a JOIN t c ON a.user_id = c.user_id AND a.es + 60 = c.es
  GROUP BY 1
)
SELECT s.user_id, s.n AS n_pairs,
       CASE WHEN s.n >= 2
             AND (s.n*s.sxx - s.sx*s.sx) * (s.n*s.syy - s.sy*s.sy) > 0
            THEN round((s.n*coalesce(p.sxy, 0) - s.sx*s.sy)
                 / sqrt(CAST((s.n*s.sxx - s.sx*s.sx)
                           * (s.n*s.syy - s.sy*s.sy) AS DOUBLE))
                 + 1e-9, 6)
       END AS acf
FROM s LEFT JOIN p ON s.user_id = p.user_id
"""


def _q_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each user's first 64 samples (word_len=8,
    alphabet=4) — the symbolic shape-preserving downsample.  Values
    are 2-decimal doubles, so the x100 int scaling is exact and every
    sum in the z-score is integer-exact: the oracle replays the same
    closed form on the same exact integers, making the SYMBOLS (not
    just rounded floats) hash-comparable across engines.  The 64-row
    cap also bounds the int64 power sums far inside the 2^53 envelope."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.downsample import sax_symbols

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    head = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .drop("rn")
    )
    out = sax_symbols(head, ["user_id"], "ts", "value", 8, 4, "event_id")
    return out.select(
        F.col("user_id").cast("long").alias("user_id"), "n_points", "word"
    )


_SQL_SAX_WORDS = """
WITH s AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS xi,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), h AS (
  SELECT user_id, xi, rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum(xi) OVER (PARTITION BY user_id) AS sx,
         sum(xi * xi) OVER (PARTITION BY user_id) AS sxx
  FROM s WHERE rn <= 64
), g AS (
  SELECT user_id, ((rn - 1) * 8) // n AS seg,
         sum(xi) AS seg_sum, count(*) AS seg_n,
         any_value(n) AS n, any_value(sx) AS sx, any_value(sxx) AS sxx
  FROM h GROUP BY user_id, ((rn - 1) * 8) // n
), z AS (
  SELECT user_id, seg, n,
         CASE WHEN n > 1 AND n * sxx - sx * sx > 0
              THEN (CAST(seg_sum AS DOUBLE) / seg_n
                    - CAST(sx AS DOUBLE) / n)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          / (n * (n - 1.0)))
              ELSE 0.0 END AS zv
  FROM g
)
SELECT user_id, any_value(n) AS n_points,
       string_agg(CASE WHEN zv < -0.6744897501960817 THEN 'a'
                       WHEN zv < 0.0 THEN 'b'
                       WHEN zv < 0.6744897501960817 THEN 'c'
                       ELSE 'd' END, '' ORDER BY seg) AS word
FROM z GROUP BY user_id
"""


def _q_holt_level_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level+trend) smoothing state after each user's
    first 3 samples (alpha=0.2, beta=0.3).  The Spark side runs the
    full O(1)-state streaming recursion; the oracle unrolls the same
    three steps literally (the closed form stays a short expression
    only for bounded prefixes — full-length parity vs the direct
    recursion is bit-exact in tests/test_downsample.py)."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.downsample import holt_smooth

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n3 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter(F.col("n") >= 3)
        .drop("rn", "n")
    )
    out = holt_smooth(n3, ["user_id"], "ts", "value", 0.2, 0.3, "event_id")
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        out.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 3)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.round(F.col("level") + 1e-9, 6).alias("level"),
            F.round(F.col("trend") + 1e-9, 6).alias("trend"),
        )
    )


_SQL_HOLT_LEVEL_3 = """
WITH s AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT user_id,
         max(CASE WHEN rn = 1 THEN value END) AS v1,
         max(CASE WHEN rn = 2 THEN value END) AS v2,
         max(CASE WHEN rn = 3 THEN value END) AS v3,
         count(*) AS n
  FROM s WHERE rn <= 3 GROUP BY user_id
), c2 AS (
  SELECT user_id, v1, v3, 0.2 * v2 + 0.8 * (v1 + 0.0) AS l2
  FROM p WHERE n >= 3
), c2b AS (
  SELECT user_id, v3, l2, 0.3 * (l2 - v1) + 0.7 * 0.0 AS b2 FROM c2
), c3 AS (
  SELECT user_id, l2, b2, 0.2 * v3 + 0.8 * (l2 + b2) AS l3 FROM c2b
)
SELECT user_id, round(l3 + 1e-9, 6) AS level,
       round(0.3 * (l3 - l2) + 0.7 * b2 + 1e-9, 6) AS trend
FROM c3
"""


def _q_holt_winters_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive (level+trend+seasonal, period=2) state
    after each user's first 4 samples (alpha=0.2, beta=0.3,
    gamma=0.4).  The Spark side runs the full O(period)-state
    streaming recursion (operators/downsample.py holt_winters_smooth);
    the oracle unrolls the same four steps literally — the zero-seed
    seasonal init is what keeps a bounded prefix closed-form.  Period
    2 (not 24) so the unroll actually exercises the seasonal feedback
    (s_{t-2} re-enters at t=3 and t=4); full-length parity vs the
    direct recursion is bit-exact in tests/test_downsample.py."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.downsample import holt_winters_smooth

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n4 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter(F.col("n") >= 4)
        .drop("rn", "n")
    )
    out = holt_winters_smooth(
        n4, ["user_id"], "ts", "value", 0.2, 0.3, 0.4, 2, "event_id"
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        out.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 4)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.round(F.col("level") + 1e-9, 6).alias("level"),
            F.round(F.col("trend") + 1e-9, 6).alias("trend"),
            F.round(F.col("seasonal") + 1e-9, 6).alias("seasonal"),
        )
    )


_SQL_HOLT_WINTERS_4 = """
WITH s AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT user_id,
         max(CASE WHEN rn = 1 THEN value END) AS v1,
         max(CASE WHEN rn = 2 THEN value END) AS v2,
         max(CASE WHEN rn = 3 THEN value END) AS v3,
         max(CASE WHEN rn = 4 THEN value END) AS v4,
         count(*) AS n
  FROM s WHERE rn <= 4 GROUP BY user_id
), c2 AS (
  SELECT user_id, v1, v2, v3, v4,
         0.2 * (v2 - 0.0) + 0.8 * (v1 + 0.0) AS l2
  FROM p WHERE n >= 4
), c2b AS (
  SELECT *, 0.3 * (l2 - v1) + 0.7 * 0.0 AS b2,
            0.4 * (v2 - l2) + 0.6 * 0.0 AS s2
  FROM c2
), c3 AS (
  SELECT *, 0.2 * (v3 - 0.0) + 0.8 * (l2 + b2) AS l3 FROM c2b
), c3b AS (
  SELECT *, 0.3 * (l3 - l2) + 0.7 * b2 AS b3 FROM c3
), c4 AS (
  SELECT *, 0.2 * (v4 - s2) + 0.8 * (l3 + b3) AS l4 FROM c3b
)
SELECT user_id, round(l4 + 1e-9, 6) AS level,
       round(0.3 * (l4 - l3) + 0.7 * b3 + 1e-9, 6) AS trend,
       round(0.4 * (v4 - l4) + 0.6 * s2 + 1e-9, 6) AS seasonal
FROM c4
"""


def _q_holt_winters_forecast_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step Holt-Winters forecast (period=2, hourly cadence) from
    each user's first 4 samples: f_h = l_4 + h*b_4 + s_{4+h-2}, ts =
    last_ts + h hours (operators/downsample.py holt_winters_forecast —
    the emit-after-exhaustion path whose output is |keys|*horizon
    rows, never |input|).  The oracle unrolls the same four recursion
    steps and extrapolates both horizons literally."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.downsample import (
        holt_winters_forecast,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    n4 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter(F.col("n") >= 4)
        .drop("rn", "n")
    )
    out = holt_winters_forecast(
        n4, ["user_id"], "ts", "value", 0.2, 0.3, 0.4, 2,
        horizon=2, step_seconds=3600, tiebreak="event_id",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts", "h",
        F.round(F.col("forecast") + 1e-9, 6).alias("forecast"),
    )


_SQL_HOLT_WINTERS_FORECAST_2 = """
WITH s AS (
  SELECT user_id, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT user_id,
         max(CASE WHEN rn = 1 THEN value END) AS v1,
         max(CASE WHEN rn = 2 THEN value END) AS v2,
         max(CASE WHEN rn = 3 THEN value END) AS v3,
         max(CASE WHEN rn = 4 THEN value END) AS v4,
         max(ts) AS ts4,
         count(*) AS n
  FROM s WHERE rn <= 4 GROUP BY user_id
), c2 AS (
  SELECT user_id, v1, v2, v3, v4, ts4,
         0.2 * (v2 - 0.0) + 0.8 * (v1 + 0.0) AS l2
  FROM p WHERE n >= 4
), c2b AS (
  SELECT *, 0.3 * (l2 - v1) + 0.7 * 0.0 AS b2,
            0.4 * (v2 - l2) + 0.6 * 0.0 AS s2
  FROM c2
), c3 AS (
  SELECT *, 0.2 * (v3 - 0.0) + 0.8 * (l2 + b2) AS l3 FROM c2b
), c3b AS (
  SELECT *, 0.3 * (l3 - l2) + 0.7 * b2 AS b3,
            0.4 * (v3 - l3) + 0.6 * 0.0 AS s3
  FROM c3
), c4 AS (
  SELECT *, 0.2 * (v4 - s2) + 0.8 * (l3 + b3) AS l4 FROM c3b
), c4b AS (
  SELECT *, 0.3 * (l4 - l3) + 0.7 * b3 AS b4,
            0.4 * (v4 - l4) + 0.6 * s2 AS s4
  FROM c4
)
SELECT user_id,
       ts4 + INTERVAL (h.h * 3600) SECOND AS ts,
       h.h AS h,
       round(l4 + h.h * b4 + CASE WHEN h.h = 1 THEN s3 ELSE s4 END
             + 1e-9, 6) AS forecast
FROM c4b CROSS JOIN (VALUES (1), (2)) AS h(h)
"""


def _q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order role-transition matrix over the event stream seen
    as turns (operators/transcripts.py role_transitions): counts and
    conditional probabilities of (role -> next role) under the stable
    (ts, event_id) turn order -- the Markov summary of conversational
    flow.  One conv-window exchange + one |alphabet|^2-row aggregate;
    probabilities are exact-count divisions."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.transcripts import (
        ordered_turns,
        role_transitions,
    )

    ev = _t(spark, sf_dir, "events")
    return role_transitions(ordered_turns(ev))


_SQL_ROLE_TRANSITIONS = """
WITH t AS (
  SELECT user_id AS conv_id, event_type AS from_role,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_role
  FROM events
), c AS (
  SELECT from_role, to_role, count(*) AS n
  FROM t WHERE to_role IS NOT NULL GROUP BY 1, 2
)
SELECT from_role, to_role, n,
       round(n / sum(n) OVER (PARTITION BY from_role) + 1e-9, 6) AS prob
FROM c
"""


def _q_response_latency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily view->click response-latency rollup
    (operators/transcripts.py response_latency_stats): for every
    click turn immediately following a view turn in the same
    conversation, the gap as exact int64 microseconds, bucketed by
    day with count / mean / DISCRETE p50+p95 (rank-pick, not
    interpolated -- the engines' continuous-percentile kernels differ
    in the last ulp on 1e11-us gaps, which the hash contract cannot
    absorb; a rank pick is integer-exact in both)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.transcripts import (
        ordered_turns,
        response_latency_stats,
    )

    ev = _t(spark, sf_dir, "events")
    return response_latency_stats(
        ordered_turns(ev), "view", "click", bucket="1 day"
    )


_SQL_RESPONSE_LATENCY_DAILY = """
WITH t AS (
  SELECT user_id, event_type AS role, ts,
         lag(event_type) OVER w AS prev_role,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT date_trunc('day', ts) AS bucket,
         epoch_us(ts) - epoch_us(prev_ts) AS gap_us
  FROM t WHERE role = 'click' AND prev_role = 'view'
), r AS (
  SELECT bucket, gap_us,
         row_number() OVER (PARTITION BY bucket ORDER BY gap_us) AS rn,
         count(*) OVER (PARTITION BY bucket) AS n
  FROM g
)
SELECT bucket, count(*) AS n,
       round(sum(gap_us) / count(*) / 1e6 + 1e-9, 6) AS avg_s,
       round(min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                      THEN gap_us END) / 1e6 + 1e-9, 6) AS p50_s,
       round(min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN gap_us END) / 1e6 + 1e-9, 6) AS p95_s
FROM r GROUP BY bucket
"""


def _q_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation Shannon entropy of the role mix
    (operators/transcripts.py behavior_entropy): two map-side
    combinable hash aggregates; the only float sum is <= 5 O(1)
    terms, rounded at 6 dp with the oracle nudge."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.transcripts import (
        behavior_entropy,
        ordered_turns,
    )

    ev = _t(spark, sf_dir, "events")
    return behavior_entropy(ordered_turns(ev))


_SQL_BEHAVIOR_ENTROPY = """
WITH c AS (
  SELECT user_id AS conv_id, event_type AS role, count(*) AS c
  FROM events GROUP BY 1, 2
), t AS (
  SELECT conv_id,
         CAST(sum(c) OVER (PARTITION BY conv_id) AS BIGINT) AS n_turns,
         -(c / sum(c) OVER (PARTITION BY conv_id))
           * log2(c / sum(c) OVER (PARTITION BY conv_id)) AS term
  FROM c
)
SELECT conv_id, max(n_turns) AS n_turns,
       round(sum(term) + 1e-9, 6) AS entropy_bits
FROM t GROUP BY conv_id
"""


def _q_role_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioural trigram mining (operators/transcripts.py
    role_ngrams): frequency of every length-3 role sequence over
    adjacent turns -- which interaction motifs dominate (retry storms
    vs funnel walks).  n-1 lead() columns on the shared conv window,
    then a <= |alphabet|^3-row aggregate."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.transcripts import (
        ordered_turns,
        role_ngrams,
    )

    ev = _t(spark, sf_dir, "events")
    return role_ngrams(ordered_turns(ev), n=3)


_SQL_ROLE_TRIGRAMS = """
WITH t AS (
  SELECT event_type AS r0,
         lead(event_type, 1) OVER w AS r1,
         lead(event_type, 2) OVER w AS r2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT concat_ws('>', r0, r1, r2) AS ngram, count(*) AS n
FROM t WHERE r2 IS NOT NULL GROUP BY 1
"""



def _q_hll_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked HLL: per-(day, event_type) distinct users
    estimated from a MERGEABLE register tier
    (sketches.hll_register_tier/hll_estimate) next to the exact count
    -- per-row evidence of the sketch's accuracy.  Unlike
    approx_count_distinct (rows-only `approx_distinct_users`; its
    registers are engine-internal), this sketch is built from integer
    codegen expressions on the repo's cross-engine md5 draw, the
    harmonic-mean denominator is an exact int64 sum, and the one libm
    call (linear counting's ln) is rounded at 6 dp -- so DuckDB
    replays it bit-for-bit and the driver HASH-checks an approximate
    algorithm."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.sketches import (
        hll_estimate,
        hll_register_tier,
    )

    ev = _t(spark, sf_dir, "events")
    regs = hll_register_tier(
        ev, "user_id", bucket="1 day", extra_keys=["event_type"]
    )
    est = hll_estimate(regs, ["bucket", "event_type"])
    exact = ev.groupBy(
        F.window("ts", "1 day").start.alias("bucket"), "event_type"
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return est.join(exact, ["bucket", "event_type"])


def _q_hll_range_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked HLL tier merge: the daily register tier merged
    down to one all-time sketch (groupBy-max union) next to a sketch
    built directly from the raw stream -- the two estimates are EQUAL
    (max of maxes), which is the merge-without-recall-loss contract
    that makes distinct-count tiers cascade like the rollup tiers
    (day -> month -> all-time) instead of rescanning raw data."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_register_tier,
    )

    ev = _t(spark, sf_dir, "events")
    daily = hll_register_tier(ev, "user_id", bucket="1 day")
    merged = hll_estimate(
        hll_merge(daily.drop("bucket"), []), []
    ).select(F.col("est_distinct").alias("est_merged"))
    # the direct side ALSO routes through hll_merge: a 3650-day bucket
    # is epoch-aligned, so a corpus straddling a window boundary (next
    # boundary ~2029-12) yields two buckets and duplicate idx rows
    # after drop("bucket") — hll_estimate counts rows as registers and
    # would silently inflate; max-merging first makes idx unique by
    # construction regardless of the corpus's time span (ADVICE r4)
    direct = hll_estimate(
        hll_merge(
            hll_register_tier(ev, "user_id", bucket="3650 days")
            .drop("bucket"),
            [],
        ),
        [],
    ).select(F.col("est_distinct").alias("est_direct"))
    return merged.crossJoin(direct)




def _hll_sql(bucket_expr: str, group_cols: str) -> str:
    """DuckDB register pipeline parameterized on bucketing; numeric
    constants are baked from the SAME sketches.py module values the
    Spark side uses, so the two texts cannot drift."""
    from peakmatch_xcorr_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_P,
        _HLL_M,
        _HLL_SCALE,
    )

    m = _HLL_M
    a_num = repr(HLL_ALPHA * m * m * float(1 << _HLL_SCALE))
    g = f"{group_cols}, " if group_cols else ""
    return f"""
WITH h AS (
  SELECT {bucket_expr} AS bucket, {g}
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hh
  FROM events
), r AS (
  SELECT bucket, {g}hh % {m} AS idx,
         {_HLL_SCALE} - length(format('{{:b}}', hh // {m})) AS rho
  FROM h
), regs AS (
  SELECT bucket, {g}idx, max(rho) AS r FROM r GROUP BY ALL
), s AS (
  SELECT bucket, {g}
         sum(1::BIGINT << ({_HLL_SCALE} - r)) AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY ALL
)
SELECT bucket, {g}
       round(CASE WHEN {a_num}
                       / ((s_present + ({m} - n_regs)
                           * {1 << _HLL_SCALE}::BIGINT)::DOUBLE)
                    <= {2.5 * m}
                   AND ({m} - n_regs) > 0
              THEN {float(m)} * ln({float(m)} / ({m} - n_regs))
              ELSE {a_num}
                   / ((s_present + ({m} - n_regs)
                       * {1 << _HLL_SCALE}::BIGINT)::DOUBLE)
         END + 1e-9, 6) AS est_distinct
FROM s
"""


_SQL_HLL_DISTINCT_DAILY = f"""
WITH est AS (
{_hll_sql("date_trunc('day', ts)", "event_type")}
), exact AS (
  SELECT date_trunc('day', ts) AS bucket, event_type,
         count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1, 2
)
SELECT est.bucket, est.event_type, est.est_distinct, exact.exact_users
FROM est JOIN exact USING (bucket, event_type)
"""


def _hll_range_merge_sql() -> str:
    """Both sides of the merge-equals-direct identity in one DuckDB
    text: side 'm' merges the daily register tier, side 'd' sketches
    the raw stream; constants baked from sketches.py."""
    from peakmatch_xcorr_spark.operators.sketches import (
        HLL_ALPHA,
        _HLL_M,
        _HLL_SCALE,
    )

    m = _HLL_M
    a_num = repr(HLL_ALPHA * m * m * float(1 << _HLL_SCALE))
    return f"""
WITH h AS (
  SELECT date_trunc('day', ts) AS bucket,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hh
  FROM events
), r AS (
  SELECT bucket, hh % {m} AS idx,
         {_HLL_SCALE} - length(format('{{:b}}', hh // {m})) AS rho
  FROM h
), daily AS (
  SELECT bucket, idx, max(rho) AS r FROM r GROUP BY 1, 2
), u AS (
  SELECT 'm' AS side, idx, max(r) AS r FROM daily GROUP BY 1, 2
  UNION ALL
  SELECT 'd' AS side, idx, max(rho) AS r FROM r GROUP BY 1, 2
), s AS (
  SELECT side,
         sum(1::BIGINT << ({_HLL_SCALE} - r)) AS s_present,
         count(*) AS n_regs
  FROM u GROUP BY 1
), e AS (
  SELECT side,
         round(CASE WHEN {a_num}
                 / ((s_present + ({m} - n_regs)
                     * {1 << _HLL_SCALE}::BIGINT)::DOUBLE) <= {2.5 * m}
               AND ({m} - n_regs) > 0
          THEN {float(m)} * ln({float(m)} / ({m} - n_regs))
          ELSE {a_num}
               / ((s_present + ({m} - n_regs)
                   * {1 << _HLL_SCALE}::BIGINT)::DOUBLE)
         END + 1e-9, 6) AS est
  FROM s
)
SELECT max(CASE WHEN side = 'm' THEN est END) AS est_merged,
       max(CASE WHEN side = 'd' THEN est END) AS est_direct
FROM e
"""


_SQL_HLL_RANGE_MERGE = _hll_range_merge_sql()


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed tf-idf
    (textstats.tfidf_top_terms) -- the relevance prestep for corpus
    exploration.  Hash-checked: the ranking orders by the ROUNDED
    weight with the token as tie-break, so both engines agree even
    when two weights collide at the last ulp."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


_SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(
      lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')),
      '\\s+'),
    x -> length(x) > 0)) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
), nn AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * (ln((1 + nn.n) / (1 + dfreq.df)) + 1) + 1e-9, 6)
           AS weight
  FROM tf JOIN dfreq USING (tok) CROSS JOIN nn
)
SELECT doc_id, rank, tok, weight FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY weight DESC, tok
  ) AS rank
  FROM w
) WHERE rank <= 3
"""


_BM25_QUERY = ["join", "hash", "spark", "window"]


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scores of every document against a fixed
    4-term query (textstats.bm25_scores, k1=1.2 b=0.75) -- eval-set
    mining / contamination triage.  All corpus statistics (df, N,
    avg len) reduce before broadcasting into the scorer; the per-doc
    sum is <= 4 float terms under the 6 dp rounding."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_QUERY)


_SQL_BM25_SEARCH = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(
      lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')),
      '\\s+'),
    x -> length(x) > 0)) AS tok
  FROM documents
), lens AS (
  SELECT doc_id, count(*) AS len_d FROM toks GROUP BY 1
), scalars AS (
  SELECT sum(len_d) AS tot, count(*) AS n FROM lens
), q AS (
  SELECT doc_id, tok FROM toks
  WHERE tok IN ('join', 'hash', 'spark', 'window')
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2
), dfreq AS (
  SELECT tok,
         ln(1 + (scalars.n - count(DISTINCT doc_id) + 0.5)
                / (count(DISTINCT doc_id) + 0.5)) AS idf,
         max(scalars.tot / scalars.n) AS avglen
  FROM q CROSS JOIN scalars
  GROUP BY tok, scalars.n, scalars.tot
), part AS (
  SELECT tf.doc_id,
         dfreq.idf * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len_d / dfreq.avglen))
           AS part
  FROM tf
  JOIN dfreq USING (tok)
  JOIN lens USING (doc_id)
)
SELECT doc_id, round(sum(part) + 1e-9, 6) AS score
FROM part GROUP BY doc_id
"""



def _q_hist_quantile_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style p90-from-histogram-tier per event type
    (stats.keyed_histogram + stats.histogram_quantile, 50 bins over
    [0, 500)) next to the exact DISCRETE p90 (rank-pick) -- per-row
    evidence of the tier estimate's accuracy.  The estimate reads
    |keys|*(n_bins+2) pre-aggregated rows, never raw data: the
    quantile analogue of reading rollup tiers instead of the turn
    stream."""
    _utc(spark)
    from pyspark.sql import Window

    from peakmatch_xcorr_spark.operators.stats import (
        histogram_quantile,
        keyed_histogram,
    )

    ev = _t(spark, sf_dir, "events")
    hist = keyed_histogram(ev, "value", ["event_type"], 0.0, 500.0, 50)
    est = histogram_quantile(hist, ["event_type"], 0.9, 0.0, 500.0, 50)
    wv = Window.partitionBy("event_type").orderBy("value")
    wc = Window.partitionBy("event_type")
    exact = (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.row_number().over(wv).alias("vrn"),
            F.count(F.lit(1)).over(wc).alias("vn"),
        )
        .groupBy("event_type")
        .agg(
            F.round(
                F.min(
                    F.when(
                        F.col("vrn")
                        == F.ceil(F.lit(0.9) * F.col("vn")).cast("long"),
                        F.col("value"),
                    )
                )
                + 1e-9,
                6,
            ).alias("exact_q")
        )
    )
    return est.join(exact, "event_type")


_SQL_HIST_QUANTILE_P90 = """
WITH h AS (
  SELECT event_type,
         CASE WHEN value < 0.0 THEN 0
              WHEN value >= 500.0 THEN 51
              ELSE CAST(floor((value - 0.0) / 10.0) + 1 AS INT) END AS bin,
         count(*) AS n
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), c AS (
  SELECT event_type, bin, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         0.9 * sum(n) OVER (PARTITION BY event_type) AS rank
  FROM h
), f AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rn
  FROM c WHERE cum >= rank
), est AS (
  SELECT event_type,
         round(CASE WHEN bin = 0 THEN 0.0
                    WHEN bin = 51 THEN 500.0
               ELSE (0.0 + (bin - 1) * 10.0)
                    + ((rank - (cum - n)) / n) * 10.0 END + 1e-9, 6)
           AS est_q
  FROM f WHERE rn = 1
), x AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS vrn,
         count(*) OVER (PARTITION BY event_type) AS vn
  FROM events WHERE value IS NOT NULL
), ex AS (
  SELECT event_type,
         round(min(CASE WHEN vrn = CAST(ceil(0.9 * vn) AS BIGINT)
                        THEN value END) + 1e-9, 6) AS exact_q
  FROM x GROUP BY 1
)
SELECT est.event_type, est.est_q, ex.exact_q
FROM est JOIN ex USING (event_type)
"""



def _q_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.py) over the embedding
    kNN similarity graph -- centrality picks the canonical
    representative of a near-dup cluster.  Two iterations, damping
    17/20, all arithmetic exact int64 (integer sums are
    order-independent where a float PageRank drifts ~1e-16 per
    iteration and eventually hash-mismatches), so the DuckDB replay
    is bit-identical."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.graph import pagerank, symmetrize_edges

    knn = _q_knn_edges(spark, sf_dir)
    return pagerank(symmetrize_edges(knn), iterations=2)


def _pagerank_sql() -> str:
    from peakmatch_xcorr_spark.operators.graph import PAGERANK_SCALE

    s = PAGERANK_SCALE
    base = (3 * s) // 20
    knn = _SQL_KNN_EDGES.strip().rstrip()
    return f"""
WITH knn AS (
{knn}
), e AS (
  SELECT id_a AS src, id_b AS dst FROM knn
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM knn
), deg AS (
  SELECT src, count(*) AS deg FROM e GROUP BY 1
), v AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
), r0 AS (
  SELECT node, {s}::BIGINT AS r FROM v
), c1 AS (
  SELECT e.dst AS node, sum(r0.r // deg.deg) AS sm
  FROM e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY 1
), r1 AS (
  SELECT v.node,
         CAST({base} + (17 * coalesce(c1.sm, 0)) // 20 AS BIGINT) AS r
  FROM v LEFT JOIN c1 USING (node)
), c2 AS (
  SELECT e.dst AS node, sum(r1.r // deg.deg) AS sm
  FROM e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY 1
), r2 AS (
  SELECT v.node,
         CAST({base} + (17 * coalesce(c2.sm, 0)) // 20 AS BIGINT) AS r
  FROM v LEFT JOIN c2 USING (node)
)
SELECT node, r AS rank_scaled,
       round(r / {float(s)} + 1e-9, 6) AS pagerank
FROM r2
"""


_SQL_PAGERANK_KNN = _pagerank_sql()



def _q_s8b_count_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple8b COUNT-tier codec round-trip, oracle-checked (the
    pack_roundtrip pattern for the counter column): the dense 1h count
    tier -- gap zeros included, exercising the 240-wide zero-run
    selectors -- is s8b+DoD packed per event_type, unpacked, and
    hash-compared against DuckDB's direct dense rollup."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.rollup import (
        pack_count_tier,
        unpack_count_tier,
    )
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    tier = dense.select(
        "event_type",
        F.timestamp_micros(F.col("b") * 3600_000_000).alias("bucket_start"),
        F.col("v").alias("turns"),
    )
    packed = pack_count_tier(tier, ["event_type"])
    return unpack_count_tier(packed, ["event_type"])


_SQL_S8B_COUNT_ROUNDTRIP = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
)
SELECT d0.event_type,
       make_timestamp(d0.b * 3600000000) AS bucket_start,
       COALESCE(c.v, 0) AS turns
FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
"""



def _q_props_field_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (operators/semistructured.py): the
    events table's JSON ``props`` bag has never been parsed by any
    query until now -- grouped stats of the numeric ``$.k`` field per
    event type, extracted JVM-side (get_json_object, codegen; NULL on
    malformed rows, never a task failure).  Exact int64 sums make the
    mean a single fixed-order division."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.semistructured import (
        json_field_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    return json_field_rollup(ev, "props", "$.k", ["event_type"])


_SQL_PROPS_FIELD_ROLLUP = """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
  FROM events
)
SELECT event_type, count(*) AS n, count(v) AS n_present,
       CAST(sum(v) AS BIGINT) AS sum_v, min(v) AS min_v, max(v) AS max_v,
       round(sum(v) / count(v) + 1e-9, 6) AS avg_v
FROM x GROUP BY event_type
"""



def _q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (textstats.unigram_surprisal):
    mean corpus-unigram surprisal per document.  Per-token surprisal
    is rounded once at the VOCAB level to integer micro-nats so the
    per-doc aggregation is an exact int64 sum -- a raw float sum over
    hundreds of occurrences drifts across engines at the 6 dp grain."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.textstats import unigram_surprisal

    docs = _t(spark, sf_dir, "documents")
    return unigram_surprisal(docs)


_SQL_UNIGRAM_SURPRISAL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    regexp_split_to_array(
      lower(regexp_replace(text, '[^\\p{L}\\p{N}_\\s'']', ' ', 'g')),
      '\\s+'),
    x -> length(x) > 0)) AS tok
  FROM documents
), tf AS (
  SELECT tok, count(*) AS tf FROM toks GROUP BY 1
), tot AS (SELECT sum(tf) AS total FROM tf),
lm AS (
  SELECT tok,
         CAST(round(-ln(tf / tot.total) * 1e6 + 1e-9, 0) AS BIGINT) AS unats
  FROM tf CROSS JOIN tot
)
SELECT toks.doc_id, count(*) AS n_tokens,
       round(sum(lm.unats) / count(*) / 1e6 + 1e-9, 6)
         AS mean_surprisal_nats
FROM toks JOIN lm USING (tok)
GROUP BY toks.doc_id
"""


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: near-dup components (ngram_jaccard_pairs ->
    connected_components) -> canonical representative per component
    (min doc_id) -> per-document keep/drop verdict over the WHOLE
    corpus -- the last step of the dedup pipeline a training-data run
    actually consumes (docs outside any component are their own
    canonical)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, threshold=0.5, k=5).select(
        "id_a", "id_b"
    )
    comp = connected_components(edges).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )
    canon = comp.groupBy("component").agg(F.min("doc_id").alias("canonical"))
    labeled = comp.join(canon, "component").select("doc_id", "canonical")
    return (
        docs.select("doc_id")
        .join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical", "doc_id").alias("canonical"),
            (
                F.coalesce("canonical", "doc_id") == F.col("doc_id")
            ).alias("kept"),
        )
    )


_SQL_DEDUP_CANONICAL = f"""
WITH comp AS (
{_SQL_DOC_COMPONENTS.strip()}
), canon AS (
  SELECT component, min(id) AS canonical FROM comp GROUP BY 1
), labeled AS (
  SELECT comp.id AS doc_id, canon.canonical
  FROM comp JOIN canon USING (component)
)
SELECT d.doc_id,
       COALESCE(labeled.canonical, d.doc_id) AS canonical,
       COALESCE(labeled.canonical, d.doc_id) = d.doc_id AS kept
FROM documents d LEFT JOIN labeled USING (doc_id)
"""



def _q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted exactly-k sample (trainprep.weighted_sample, A-ES
    exponential clocks): 20 documents drawn with probability rising in
    n_chars -- the curriculum/mixture sampler for weighted corpora.
    Clocks are quantized once to integer nanokeys so the ranking is an
    int64 comparison both engines replay bit-for-bit."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.trainprep import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, 20, "n_chars").select(
        "doc_id", "n_chars", "source"
    )


_SQL_WEIGHTED_SAMPLE_DOCS = """
WITH keyed AS (
  SELECT doc_id, n_chars, source,
         CAST(round(
           -ln((('0x' || substr(md5('wsample-v1:' || CAST(doc_id AS VARCHAR)),
                 1, 8))::BIGINT + 0.5) / 4294967296.0)
           / CAST(n_chars AS DOUBLE) * 1e9 + 1e-9, 0) AS BIGINT) AS wkey
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, n_chars, source
FROM keyed
QUALIFY row_number() OVER (ORDER BY wkey, doc_id) <= 20
"""



_ASAP_CANDIDATES = (1, 2, 3, 4, 6, 12)


def _q_asap_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASAP smoothing parameter search (downsample.asap_pick_window)
    over the per-event-type hourly dense tier: the window that
    minimizes roughness while preserving kurtosis, evaluated on a
    fixed candidate grid in ONE plan.  Integer window sums keep
    roughness bit-exact; selection compares ROUNDED stats so
    near-ties cannot flip across engines."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.downsample import asap_pick_window
    from peakmatch_xcorr_spark.operators.seasonal import dense_bucket_counts

    ev = _t(spark, sf_dir, "events")
    dense = dense_bucket_counts(ev, ["event_type"], "ts", "1 hour")
    return asap_pick_window(dense, ["event_type"], _ASAP_CANDIDATES)


def _asap_sql() -> str:
    dense = """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS b, count(*) AS v
  FROM events GROUP BY 1, 2
), sp AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1
), d0 AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM sp
), d AS (
  SELECT d0.event_type, d0.b, COALESCE(c.v, 0) AS v
  FROM d0 LEFT JOIN c ON c.event_type = d0.event_type AND c.b = d0.b
)"""
    parts, unions = [], []
    for w in _ASAP_CANDIDATES:
        parts.append(f""", sw{w} AS (
  SELECT event_type, b,
         sum(v) OVER (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS S,
         count(v) OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS cnt
  FROM d
), f{w} AS (
  SELECT event_type, S,
         S - lag(S) OVER (PARTITION BY event_type ORDER BY b) AS dd
  FROM (SELECT * FROM sw{w} WHERE cnt = {w})
), st{w} AS (
  SELECT event_type, {w} AS w,
         count(dd) AS nd, COALESCE(sum(dd), 0) AS d1,
         COALESCE(sum(dd * dd), 0) AS d2,
         count(S) AS ns,
         sum(CAST(S AS DOUBLE)) AS s1,
         sum(CAST(S AS DOUBLE) * CAST(S AS DOUBLE)) AS s2,
         sum(CAST(S AS DOUBLE) * CAST(S AS DOUBLE) * CAST(S AS DOUBLE)) AS s3,
         sum(CAST(S AS DOUBLE) * CAST(S AS DOUBLE) * CAST(S AS DOUBLE)
             * CAST(S AS DOUBLE)) AS s4
  FROM f{w} GROUP BY 1
)""")
        unions.append(f"SELECT * FROM st{w}")
    stats = f""", allw AS (
  SELECT event_type, w,
         round(sqrt(CAST(nd * d2 - d1 * d1 AS DOUBLE) / (nd * nd))
               / CAST(w AS DOUBLE) + 1e-9, 6) AS roughness,
         CASE WHEN (s2 / ns - (s1 / ns) * (s1 / ns)) > 0 THEN
           round((s4 / ns
                  - 4.0 * (s1 / ns) * (s3 / ns)
                  + 6.0 * (s1 / ns) * (s1 / ns) * (s2 / ns)
                  - 3.0 * (s1 / ns) * (s1 / ns) * (s1 / ns) * (s1 / ns))
                 / ((s2 / ns - (s1 / ns) * (s1 / ns))
                    * (s2 / ns - (s1 / ns) * (s1 / ns))) + 1e-9, 6)
         END AS kurtosis
  FROM ({" UNION ALL ".join(unions)})
  WHERE nd >= 2 AND ns >= 4
), raw AS (
  SELECT event_type, kurtosis AS kurtosis_raw FROM allw WHERE w = 1
)
SELECT event_type, w AS best_window, roughness, kurtosis, kurtosis_raw
FROM allw JOIN raw USING (event_type)
WHERE w = 1 OR (kurtosis IS NOT NULL AND kurtosis >= kurtosis_raw)
QUALIFY row_number() OVER (
  PARTITION BY event_type ORDER BY roughness, w
) = 1
"""
    return dense + "".join(parts) + stats


_SQL_ASAP_WINDOW = _asap_sql()



def _q_largest_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage report (stateagg.largest_gaps): per user the 3 longest
    silent intervals between consecutive events with their bounds --
    the WHICH-gaps detail behind heartbeat_uptime's dead-time sum.
    Exact int64 microsecond gaps; rank ties break on gap_start."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.stateagg import largest_gaps

    ev = _t(spark, sf_dir, "events")
    return largest_gaps(
        ev, "user_id", "ts", k=3, tiebreak_cols=("event_id",)
    )


_SQL_LARGEST_GAPS = """
WITH g AS (
  SELECT user_id, ts AS gap_start,
         lead(ts) OVER w AS gap_end,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       row_number() OVER (
         PARTITION BY user_id ORDER BY gap_us DESC, gap_start
       ) AS gap_rank,
       gap_start, gap_end, gap_us
FROM g WHERE gap_end IS NOT NULL
QUALIFY gap_rank <= 3
"""



def _q_snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-metadata query (sources/warehouse.py history): the
    snapshot chain of a two-append warehouse as a DataFrame --
    Iceberg's table.history UX, read from manifests only (no data
    file opened).  Hash-checked: the chain (version, parent,
    operation, live rows) is a pure function of the deterministic
    split, so DuckDB replays it from counts + literals."""
    import shutil
    import tempfile

    _utc(spark)
    from peakmatch_xcorr_spark.sources.warehouse import WarehouseTable

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = tempfile.mkdtemp(prefix="pxs_hist_q_")
    try:
        t = WarehouseTable(root, "events_src")
        t.append(ev.filter(F.col("user_id") % 3 != 0), job_id="backfill")
        t.append(ev.filter(F.col("user_id") % 3 == 0), job_id="ingest_1")
        out = t.history(spark).select(
            "version", "parent", "operation", "job_id", "live_rows"
        )
        # localCheckpoint, not collect+createDataFrame: blocks live in
        # the session's block manager, so the frame survives the temp
        # warehouse's deletion without a driver round-trip of pickled
        # rows (collect + re-parallelize measured ~2.5 s at sf0.1, and
        # every downstream action re-ran one Python task per core)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_SNAPSHOT_HISTORY = """
WITH c AS (
  SELECT count(*) FILTER (user_id % 3 != 0) AS a,
         count(*) AS total
  FROM events
)
SELECT 1 AS version, CAST(NULL AS INTEGER) AS parent,
       'append' AS operation, 'backfill' AS job_id, a AS live_rows FROM c
UNION ALL
SELECT 2, 1, 'append', 'ingest_1', total FROM c
"""



def _q_behavior_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence fingerprint groups: each user's full
    event-type sequence (stable turn order) is assembled into one
    string (transcripts.conversation_text) and md5-fingerprinted;
    users sharing a fingerprint had IDENTICAL behavior --
    conversation-level exact dedup via the turn-stream -> document
    bridge.  Deterministic because the assembly array-sorts on
    turn_idx before joining (bare collect_list order is
    partition-dependent)."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.transcripts import (
        conversation_text,
        ordered_turns,
    )

    ev = _t(spark, sf_dir, "events")
    txt = conversation_text(ordered_turns(ev))
    fp = txt.select(
        F.col("conv_id").alias("user_id"),
        "n_turns",
        F.md5("text").alias("seq_fp"),
    )
    counts = fp.groupBy("seq_fp").agg(F.count(F.lit(1)).alias("n_same"))
    return fp.join(counts, "seq_fp").select(
        "user_id", "n_turns", "seq_fp", "n_same"
    )


_SQL_BEHAVIOR_FINGERPRINT = """
WITH s AS (
  SELECT user_id,
         count(*) AS n_turns,
         md5(string_agg(event_type, '>' ORDER BY ts, event_id)) AS seq_fp
  FROM events GROUP BY user_id
), c AS (
  SELECT seq_fp, count(*) AS n_same FROM s GROUP BY 1
)
SELECT s.user_id, s.n_turns, s.seq_fp, c.n_same
FROM s JOIN c USING (seq_fp)
"""



def _q_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding table (similarity.pca_fit/pca_project):
    4-component projection, fitted from partition-local sufficient
    statistics (dim+dim^2 doubles per partition, the kmeans
    bounded-collect contract) and projected JVM-side.  Rows-only (the
    eigendecomposition has no SQL expression); determinism and
    numpy parity are pinned in tests/test_wide_operators.py, and the
    projection columns are rounded scalars so the driver's canon can
    sort+hash them."""
    _utc(spark)
    from peakmatch_xcorr_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    emb = _t(spark, sf_dir, "embeddings")
    mu, comps, _var = pca_fit(emb, k=4)
    out = pca_project(emb, mu, comps)
    return out.select(
        "vec_id",
        *[
            F.round(F.element_at("pca", i + 1) + 1e-9, 6).alias(f"p{i}")
            for i in range(4)
        ],
    )



# ------------------------------------------------------------ registry
# ONE table: query name -> (Spark callable, DuckDB oracle SQL | None).
# None = legitimately non-SQL (FFT, hashing, sketches, binary decode);
# the driver then records the weaker rows-only check.  Adding a query
# is one line here — the earlier per-section function-shadowing chain
# rebuilt the whole mapping at every layer and a mistake in one layer
# silently dropped every later registration.

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "rollup_1m": (_q_rollup_1m, _SQL_ROLLUP_1M),
    "rollup_1h_cascade": (_q_rollup_1h_cascade, _SQL_ROLLUP_1H),
    "rollup_1d_cascade": (_q_rollup_1d_cascade, _SQL_ROLLUP_1D),
    "rollup_15m_cascade": (_q_rollup_15m_cascade, _SQL_ROLLUP_15M),
    "activity_curve_1m": (_q_activity_curve, _SQL_ACTIVITY),
    "gapfill_locf_1h": (_q_gapfill_locf, _SQL_GAPFILL_LOCF),
    "gapfill_linear_1h": (_q_gapfill_linear, _SQL_GAPFILL_LINEAR),
    "tpch_q1": (_q_tpch_q1, _SQL_TPCH_Q1),
    "tpch_q3": (_q_tpch_q3, _SQL_TPCH_Q3),
    "tpch_q18": (_q_tpch_q18, _SQL_TPCH_Q18),
    "tpch_q12": (_q_tpch_q12, _SQL_TPCH_Q12),
    "tpch_q14": (_q_tpch_q14, _SQL_TPCH_Q14),
    "tpch_q15": (_q_tpch_q15, _SQL_TPCH_Q15),
    "tpch_q17": (_q_tpch_q17, _SQL_TPCH_Q17),
    "tpch_q19": (_q_tpch_q19, _SQL_TPCH_Q19),
    "tpch_q22": (_q_tpch_q22, _SQL_TPCH_Q22),
    "tpch_q4": (_q_tpch_q4, _SQL_TPCH_Q4),
    "tpch_q5": (_q_tpch_q5, _SQL_TPCH_Q5),
    "tpch_q10": (_q_tpch_q10, _SQL_TPCH_Q10),
    "tpch_q2": (_q_tpch_q2, _SQL_TPCH_Q2),
    "tpch_q6": (_q_tpch_q6, _SQL_TPCH_Q6),
    "tpch_q7": (_q_tpch_q7, _SQL_TPCH_Q7),
    "tpch_q8": (_q_tpch_q8, _SQL_TPCH_Q8),
    "tpch_q9": (_q_tpch_q9, _SQL_TPCH_Q9),
    "tpch_q11": (_q_tpch_q11, _SQL_TPCH_Q11),
    "tpch_q16": (_q_tpch_q16, _SQL_TPCH_Q16),
    "tpch_q20": (_q_tpch_q20, _SQL_TPCH_Q20),
    "tpch_q21": (_q_tpch_q21, _SQL_TPCH_Q21),
    "ivf_topk_exhaustive": (_q_ivf_topk_exhaustive, _SQL_IVF_TOPK_EXHAUSTIVE),
    "topk_per_group": (_q_topk_per_group, _SQL_TOPK),
    "sessionize": (_q_sessionize, _SQL_SESSIONIZE),
    "rolling_24h": (_q_rolling_24h, _SQL_ROLLING_24H),
    "dedup_exact": (_q_dedup_exact, _SQL_DEDUP_EXACT),
    "join_orders_customers": (_q_join_orders_customers, _SQL_JOIN_OC),
    "anti_join_no_orders": (_q_anti_join, _SQL_ANTI),
    "cosine_pairs": (_q_cosine_pairs, _SQL_COSINE_PAIRS),
    "cosine_pairs_blocked": (_q_cosine_pairs_blocked, _SQL_COSINE_PAIRS),
    "knn_edges_embeddings": (_q_knn_edges, _SQL_KNN_EDGES),
    "knn_edges_blocked": (_q_knn_edges_blocked, _SQL_KNN_EDGES),
    "ngram_jaccard": (_q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    "ngram_jaccard_capped": (_q_ngram_jaccard_capped, _SQL_NGRAM_JACCARD_CAPPED),
    "doc_components": (_q_doc_components, _SQL_DOC_COMPONENTS),
    "token_counts": (_q_token_counts, _SQL_TOKEN_COUNTS),
    "split_assignment": (_q_split_assignment, _SQL_SPLIT_ASSIGNMENT),
    "packed_chunks": (_q_packed_chunks, _SQL_PACKED_CHUNKS),
    "corpus_prep": (_q_corpus_prep, _SQL_CORPUS_PREP),
    "mixture_sample": (_q_mixture_sample, _SQL_MIXTURE_SAMPLE),
    "decontaminate": (_q_decontaminate, _SQL_DECONTAMINATE),
    "repetition_stats": (_q_repetition_stats, _SQL_REPETITION_STATS),
    "pii_scrub": (_q_pii_scrub, _SQL_PII_SCRUB),
    "vocab_counts": (_q_vocab_counts, _SQL_VOCAB_COUNTS),
    "corpus_prep_full": (_q_corpus_prep_full, _SQL_CORPUS_PREP_FULL),
    "deterministic_sample": (_q_deterministic_sample, _SQL_DETERMINISTIC_SAMPLE),
    "frequent_tokens": (_q_frequent_tokens, _SQL_FREQUENT_TOKENS),
    "quantile_sketch_values": (_q_quantile_sketch_values, _SQL_QUANTILE_SKETCH),
    "zorder_pruned_scan": (_q_zorder_pruned_scan, _SQL_ZORDER_PRUNED),
    "bloom_point_lookup": (_q_bloom_point_lookup, _SQL_BLOOM_POINT),
    "merge_upsert_tier": (_q_merge_upsert, _SQL_MERGE_UPSERT),
    "delete_users_tier": (_q_delete_users_tier, _SQL_DELETE_USERS),
    "time_travel_tier": (_q_time_travel_tier, _SQL_TIME_TRAVEL),
    "wap_publish_tier": (_q_wap_publish_tier, _SQL_WAP_PUBLISH),
    "changelog_tier": (_q_changelog_tier, _SQL_CHANGELOG),
    "realtime_rollup_1h": (_q_realtime_rollup_1h, _SQL_REALTIME_ROLLUP),
    "occupancy_curve": (_q_occupancy_curve, _SQL_OCCUPANCY),
    "funnel_steps": (_q_funnel_steps, _SQL_FUNNEL),
    "state_durations": (_q_state_durations, _SQL_STATE_DURATIONS),
    "heartbeat_uptime": (_q_heartbeat_uptime, _SQL_HEARTBEAT_UPTIME),
    "ohlc_1h": (_q_ohlc_1h, _SQL_OHLC_1H),
    "cohort_retention": (_q_cohort_retention, _SQL_COHORT_RETENTION),
    "tpch_q13": (_q_tpch_q13, _SQL_TPCH_Q13),
    "fingerprint_groups": (_q_fingerprint, _SQL_FINGERPRINT),
    "lang_id": (_q_lang_id, _SQL_LANG_ID),
    "quality_ratios": (_q_quality_ratios, _SQL_QUALITY_RATIOS),
    "cube_agg": (_q_cube_agg, _SQL_CUBE_AGG),
    "pivot_event_types": (_q_pivot_event_types, _SQL_PIVOT),
    "rollup_grouping_sets": (_q_rollup_grouping_sets, _SQL_ROLLUP_GS),
    "except_clicks_no_purchase": (_q_except_setop, _SQL_EXCEPT),
    "retention_1h": (_q_retention_1h, _SQL_RETENTION_1H),
    "salted_rollup_1h": (_q_salted_rollup, _SQL_SALTED_ROLLUP),
    "centre_distances": (_q_centre_distances, _SQL_CENTRE),
    "band_range_join": (_q_band_range_join, _SQL_BAND_JOIN),
    "distinct_counts": (_q_distinct_counts, _SQL_DISTINCT),
    "asof_join_clicks": (_q_asof_join, _SQL_ASOF),
    "asof_join_forward": (_q_asof_join_forward, _SQL_ASOF_FORWARD),
    "asof_join_nearest": (_q_asof_join_nearest, _SQL_ASOF_NEAREST),
    "interval_join_funnel": (_q_interval_join_funnel, _SQL_INTERVAL_JOIN),
    "time_weighted_avg_1h": (_q_time_weighted_avg, _SQL_TWA),
    "time_weighted_linear_1h": (_q_time_weighted_linear, _SQL_TWA_LINEAR),
    "overlap_activity": (_q_overlap_activity, _SQL_OVERLAP_ACTIVITY),
    "duration_in_1d": (_q_duration_in_1d, _SQL_DURATION_IN_1D),
    "stratified_sample_source": (_q_stratified_sample, _SQL_STRATIFIED_SAMPLE),
    "percentiles_by_type": (_q_percentiles, _SQL_PERCENTILES),
    "dedup_components_planted": (
        _q_dedup_components_planted, _SQL_DEDUP_COMPONENTS_PLANTED
    ),
    "lsh_incremental_planted": (
        _q_lsh_incremental_planted, _SQL_LSH_INCREMENTAL_PLANTED
    ),
    "lsh_multiprobe_planted": (
        _q_lsh_multiprobe_planted, _SQL_LSH_MULTIPROBE_PLANTED
    ),
    "pack_roundtrip": (_q_pack_roundtrip, _SQL_PACK_ROUNDTRIP),
    "lsh_near_dups": (_q_lsh_near_dups, _SQL_LSH_NEAR_DUPS),
    "dominant_freq_planted": (
        _q_dominant_freq_planted, _SQL_DOMINANT_FREQ_PLANTED
    ),
    "band_mean_planted": (_q_band_mean_planted, _SQL_BAND_MEAN_PLANTED),
    "m4_downsample_1h": (_q_m4_downsample, _SQL_M4),
    "lttb_downsample_3": (_q_lttb_downsample_3, _SQL_LTTB_3),
    "ewma_smooth": (_q_ewma_smooth, _SQL_EWMA),
    "counter_increase_1h": (_q_counter_increase, _SQL_COUNTER_INCREASE),
    "anomaly_zscore_1m": (_q_anomaly_zscore, _SQL_ANOMALY_ZSCORE),
    "seasonal_profile_24": (_q_seasonal_profile_24, _SQL_SEASONAL_PROFILE_24),
    "seasonal_anomaly_hod": (_q_seasonal_anomaly_hod, _SQL_SEASONAL_ANOMALY_HOD),
    "seasonal_robust_hod": (_q_seasonal_robust_hod, _SQL_SEASONAL_ROBUST_HOD),
    "changepoint_hourly": (_q_changepoint_hourly, _SQL_CHANGEPOINT_HOURLY),
    "motif_planted": (_q_motif_planted, _SQL_MOTIF_PLANTED),
    "dtw_warp_planted": (_q_dtw_warp_planted, _SQL_DTW_WARP_PLANTED),
    "pacf_hourly": (_q_pacf_hourly, _SQL_PACF_HOURLY),
    "cusum_hourly": (_q_cusum_hourly, _SQL_CUSUM_HOURLY),
    "theil_sen_hourly": (_q_theil_sen_hourly, _SQL_THEIL_SEN_HOURLY),
    "role_transitions": (_q_role_transitions, _SQL_ROLE_TRANSITIONS),
    "response_latency_daily": (
        _q_response_latency_daily, _SQL_RESPONSE_LATENCY_DAILY,
    ),
    "behavior_entropy": (_q_behavior_entropy, _SQL_BEHAVIOR_ENTROPY),
    "role_trigrams": (_q_role_trigrams, _SQL_ROLE_TRIGRAMS),
    "hll_distinct_daily": (_q_hll_distinct_daily, _SQL_HLL_DISTINCT_DAILY),
    "hll_range_merge": (_q_hll_range_merge, _SQL_HLL_RANGE_MERGE),
    "tfidf_top_terms": (_q_tfidf_top_terms, _SQL_TFIDF_TOP_TERMS),
    "bm25_search": (_q_bm25_search, _SQL_BM25_SEARCH),
    "hist_quantile_p90": (_q_hist_quantile_p90, _SQL_HIST_QUANTILE_P90),
    "pagerank_knn": (_q_pagerank_knn, _SQL_PAGERANK_KNN),
    "s8b_count_roundtrip": (
        _q_s8b_count_roundtrip, _SQL_S8B_COUNT_ROUNDTRIP,
    ),
    "props_field_rollup": (_q_props_field_rollup, _SQL_PROPS_FIELD_ROLLUP),
    "unigram_surprisal": (_q_unigram_surprisal, _SQL_UNIGRAM_SURPRISAL),
    "dedup_canonical": (_q_dedup_canonical, _SQL_DEDUP_CANONICAL),
    "weighted_sample_docs": (
        _q_weighted_sample_docs, _SQL_WEIGHTED_SAMPLE_DOCS,
    ),
    "asap_window_hourly": (_q_asap_window, _SQL_ASAP_WINDOW),
    "largest_gaps_user": (_q_largest_gaps, _SQL_LARGEST_GAPS),
    "snapshot_history": (_q_snapshot_history, _SQL_SNAPSHOT_HISTORY),
    "behavior_fingerprint": (
        _q_behavior_fingerprint, _SQL_BEHAVIOR_FINGERPRINT,
    ),
    "pca_embeddings": (_q_pca_embeddings, None),
    "binseg_hourly": (_q_binseg_hourly, _SQL_BINSEG_HOURLY),
    "period_detect_planted": (
        _q_period_detect_planted, _SQL_PERIOD_DETECT_PLANTED,
    ),
    "metric_corr_daily": (_q_metric_corr_daily, _SQL_METRIC_CORR),
    "trend_slope": (_q_trend_slope, _SQL_TREND_SLOPE),
    "value_histogram": (_q_value_histogram, _SQL_VALUE_HISTOGRAM),
    "rollup_month_calendar": (_q_rollup_month_calendar, _SQL_ROLLUP_MONTH),
    "rollup_90s_offset": (_q_rollup_90s_offset, _SQL_ROLLUP_90S_OFFSET),
    "irate_1h": (_q_irate_1h, _SQL_IRATE_1H),
    "acf_lag1_activity": (_q_acf_lag1_activity, _SQL_ACF_LAG1),
    "ccf_click_view_lag1": (_q_ccf_click_view, _SQL_CCF_CLICK_VIEW),
    "topn_users_daily": (_q_topn_users_daily, _SQL_TOPN_USERS_DAILY),
    "sax_words": (_q_sax_words, _SQL_SAX_WORDS),
    "holt_level_3": (_q_holt_level_3, _SQL_HOLT_LEVEL_3),
    "holt_winters_4": (_q_holt_winters_4, _SQL_HOLT_WINTERS_4),
    "holt_winters_forecast_2": (
        _q_holt_winters_forecast_2, _SQL_HOLT_WINTERS_FORECAST_2,
    ),
    # rows-only: FFT / hash-algorithm / sketch / binary-decode specific
    "dedup_xcorr_matches": (_q_dedup_xcorr_matches, None),
    "minhash_candidates": (_q_minhash_candidates, None),
    "minhash_planted_recall": (_q_minhash_planted_recall, _SQL_MINHASH_PLANTED),
    "simhash_fingerprints": (_q_simhash, None),
    "simhash_planted_recall": (_q_simhash_planted_recall, _SQL_SIMHASH_PLANTED),
    "dominant_freq": (_q_dominant_freq, None),
    "matrix_profile_hourly": (_q_matrix_profile_hourly, None),
    "band_mean_spectrum": (_q_band_mean_spectrum, None),
    "ivf_topk": (_q_ivf_topk, None),
    "multimodal_image_features": (_q_multimodal_features, None),
    "multimodal_audio_features": (_q_multimodal_audio, None),
    "multimodal_frame_sample": (_q_multimodal_frames, None),
    "percentiles_approx": (_q_percentiles_approx, None),
    "approx_distinct_users": (_q_approx_distinct_users, None),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
