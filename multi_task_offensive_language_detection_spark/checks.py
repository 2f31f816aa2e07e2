"""Driver correctness surface: one (Spark query, DuckDB oracle SQL) pair
per implemented operator from SURVEY.md §2.

Conventions that keep the driver's compare deterministic:
- every computed column is aliased identically on both sides;
- floating aggregates either go through an exact DECIMAL(18,2)
  accumulation (money sums) or are rounded to 6 decimals (ratios) —
  double summation order is engine-dependent, decimals and rounding
  aren't;
- top-k / dedup picks are tie-broken by a key column;
- regexes are RE2-safe (no backrefs/lookaheads) so Java regex and
  DuckDB RE2 agree. Java-regex-only ops (char-run backrefs) and
  hash-dependent ops (xxhash64 minhash/simhash) are rows-only.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions import text as FT
from .functions.arrays import dot
from .functions.scrub import MENTION_RE, scrub_pii
from .operators import dedup, metrics, quality, similarity
from .operators.quality import STOPWORDS
from .sources.testdata import load_table
from .streaming import jobs as stream_jobs

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def check(name: str, sql: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate @check key {name!r}: a second registration would "
                "silently shadow the first in QUERIES/ORACLES"
            )
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf: str, name: str) -> DataFrame:
    return load_table(spark, sf, name)


#: pinned kernel-output side tables for formerly rows-only keys
#: (tools/build_pinned_oracles.py; corpus_sig-sliced like the flagship
#: fixture, defined up here because their oracles interpolate the paths
#: at decoration time)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIXTURE_DATA_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures", "data")
_HASHTAG_FIXTURE = os.path.join(_FIXTURE_DATA_DIR, "hashtag_segments.parquet")
_PCA_FIXTURE = os.path.join(_FIXTURE_DATA_DIR, "pca_projections.parquet")


# =========================================================================
# §2.1/2.2 scans, projections, filters
# =========================================================================


@check("scan_documents", "SELECT doc_id, text, lang, source, n_chars FROM documents")
def scan_documents(spark, sf):
    return _t(spark, sf, "documents").select("doc_id", "text", "lang", "source", "n_chars")


# project_rename retired in r6 (rotation capacity: the stream_interval_join
# key replaced it): bare select/alias projection stays hash-covered by the
# aliased projections of nearly every other key — scan_documents, the
# TPC-H trio, join_then_agg all rename columns on the hash.


# filter_notnull retired in r5 (rotation capacity is exactly 2×DRIVER_WINDOW
# keys and the decontamination key replaced it): IS NOT NULL predicates stay
# hash-covered by `null_handling` (F17b) and by the WHERE clauses of a dozen
# other keys; the trivial standalone projection added no distinct coverage.


@check(
    "dedup_decontaminate",
    """
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'),
                         x -> x <> '') AS t
      FROM documents),
    g AS (
      -- range() is EXCLUSIVE of its upper bound: the last gram starts at
      -- len-3, so the bound is len-4+2 (an off-by-one here silently
      -- drops every document's tail gram — caught by the r5 gate)
      SELECT doc_id, array_to_string(list_slice(t, i, i + 3), ' ') AS gram
      FROM tok, LATERAL unnest(range(1, len(t) - 4 + 2)) AS u(i)
      WHERE len(t) >= 4),
    ref AS (SELECT DISTINCT gram FROM g WHERE doc_id < 25),
    bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ref USING (gram)
            WHERE g.doc_id >= 25)
    SELECT doc_id FROM documents
    WHERE doc_id >= 25 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def dedup_decontaminate(spark, sf):
    """D10 — benchmark decontamination as a FULL-oracle key: docs < 25
    play the held-out benchmark, the rest are training rows; any shared
    token 4-gram disqualifies (production default is 13 — the tiny
    synthetic corpus needs n=4 for a discriminating hit rate: 41/475
    contaminated at sf0.01). The engine matches grams by xxhash64 while
    the oracle matches the gram STRINGS — hash collisions would surface
    as a hash mismatch here, so the check also guards the gram-hash
    integrity. Tokenization is ASCII-\\W splitting on both engines."""
    from .operators import dedup as D

    d = _t(spark, sf, "documents").select("doc_id", "text")
    ref = d.filter(F.col("doc_id") < 25)
    train = d.filter(F.col("doc_id") >= 25)
    return D.decontaminate(train, ref, "text", "doc_id", n=4).select("doc_id")


@check(
    "filter_length",
    "SELECT doc_id, n_chars FROM documents WHERE n_chars BETWEEN 100 AND 400",
)
def filter_length(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("n_chars").between(100, 400))
        .select("doc_id", "n_chars")
    )


@check(
    "filter_conjunctive",
    "SELECT o_orderkey FROM orders "
    "WHERE o_totalprice > 100000 AND o_orderpriority = '1-URGENT'",
)
def filter_conjunctive(spark, sf):
    o = _t(spark, sf, "orders")
    return o.filter(
        (F.col("o_totalprice") > 100000) & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey")


@check(
    "filter_hierarchy",
    """
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 'OFF' ELSE 'NOT' END AS label_a,
           CASE WHEN lang = 'en'
                THEN CASE WHEN n_chars > 250 THEN 'TIN' ELSE 'UNT' END
           END AS label_b
    FROM documents
    """,
)
def filter_hierarchy(spark, sf):
    """P3 — the nested when-chain hierarchy (B computed only where A)."""
    d = _t(spark, sf, "documents")
    a = F.when(F.col("lang") == "en", F.lit("OFF")).otherwise(F.lit("NOT"))
    b = F.when(
        a == "OFF",
        F.when(F.col("n_chars") > 250, F.lit("TIN")).otherwise(F.lit("UNT")),
    ).otherwise(F.lit(None).cast("string"))
    return d.select("doc_id", a.alias("label_a"), b.alias("label_b"))


# =========================================================================
# §2.7 set ops / splits / dedup
# =========================================================================


@check("dedup_text", "SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text")
def dedup_text(spark, sf):
    return dedup.exact_dedup(_t(spark, sf, "documents"), "text", "doc_id")


@check(
    "win_dedup_rownum",
    """
    SELECT doc_id, text FROM (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def win_dedup_rownum(spark, sf):
    return dedup.window_dedup(
        _t(spark, sf, "documents").select("doc_id", "text"), "text", "doc_id"
    )


@check(
    "union_by_name",
    "SELECT doc_id, lang FROM documents WHERE source = 'src0' "
    "UNION ALL SELECT doc_id, lang FROM documents WHERE source = 'src1'",
)
def union_by_name(spark, sf):
    d = _t(spark, sf, "documents")
    a = d.filter(F.col("source") == "src0").select("doc_id", "lang")
    b = d.filter(F.col("source") == "src1").select("lang", "doc_id")  # shuffled order
    return a.unionByName(b)


@check("split_hash_mod", "SELECT doc_id FROM documents WHERE doc_id % 10 < 8")
def split_hash_mod(spark, sf):
    """U2 — deterministic hash-mod split (xxhash64 at scale; id-mod here
    because the oracle engine lacks xxhash64)."""
    return (
        _t(spark, sf, "documents")
        .filter(F.pmod(F.col("doc_id"), F.lit(10)) < 8)
        .select("doc_id")
    )


@check(
    "set_except",
    "SELECT doc_id FROM documents EXCEPT ALL "
    "SELECT doc_id FROM documents WHERE lang = 'en'",
)
def set_except(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id").exceptAll(d.filter(F.col("lang") == "en").select("doc_id"))


@check(
    "set_intersect",
    "SELECT c_nationkey AS nationkey FROM customer "
    "INTERSECT SELECT s_nationkey FROM supplier",
)
def set_intersect(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


# =========================================================================
# §2.3 joins
# =========================================================================


@check(
    "join_broadcast_inner",
    "SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey",
)
def join_broadcast_inner(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner"
    ).select("c_custkey", "n_name")


@check(
    "join_then_agg",
    """
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_then_agg(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@check(
    "join_left",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@check(
    "join_semi",
    "SELECT c_custkey FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def join_semi(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@check(
    "join_anti",
    "SELECT c_custkey FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def join_anti(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@check(
    "join_range",
    """
    SELECT s_suppkey, c_custkey
    FROM supplier JOIN customer
      ON s_nationkey = c_nationkey
     AND c_acctbal BETWEEN s_acctbal - 100 AND s_acctbal + 100
    """,
)
def join_range(spark, sf):
    """J4 — equi + range join: the equi key keeps it sort-merge-able, the
    band predicate applies post-join (no O(n²) nested loop)."""
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    return s.join(
        c,
        (s.s_nationkey == c.c_nationkey)
        & c.c_acctbal.between(s.s_acctbal - 100, s.s_acctbal + 100),
    ).select("s_suppkey", "c_custkey")


# =========================================================================
# §2.4 aggregations
# =========================================================================


@check(
    "join_bucketed",
    """
    SELECT c.c_custkey,
           any_value(c.c_acctbal) AS c_acctbal,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_bucketed(spark, sf):
    """Bucketed co-located join (operators/bucketed.py): both sides are
    written bucketBy(8, key) through the session catalog, so the join
    plans with ZERO Exchange nodes — the storage-layout answer to a
    recurring large⋈large shuffle at 100 TB (plan-locked in
    tests/test_plan_shape.py). The oracle is the same join from the raw
    tables; bucketing must change the plan, never the result."""
    from .operators.bucketed import bucketed_equijoin, write_bucketed

    c = _t(spark, sf, "customer").select("c_custkey", "c_acctbal")
    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    write_bucketed(c, "bkt_customer", "c_custkey", 8)
    write_bucketed(o, "bkt_orders", "c_custkey", 8)
    j = bucketed_equijoin(spark, "bkt_customer", "bkt_orders", "c_custkey")
    return j.groupBy("c_custkey").agg(
        F.any_value("c_acctbal").alias("c_acctbal"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_spend"),
    )


@check("agg_label_counts", "SELECT lang, count(*) AS n FROM documents GROUP BY lang")
def agg_label_counts(spark, sf):
    return _t(spark, sf, "documents").groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


@check(
    "agg_class_weights",
    """
    WITH c AS (SELECT lang, count(*) AS n_c FROM documents GROUP BY lang),
         t AS (SELECT sum(n_c) AS n, count(*) AS k FROM c)
    SELECT lang, round(n / (k * n_c), 6) AS weight FROM c, t
    """,
)
def agg_class_weights(spark, sf):
    """A2 — w_c = N / (k·n_c); the tiny per-class frame is crossJoined
    (broadcast) with the single-row grand total."""
    c = _t(spark, sf, "documents").groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    t = c.agg(F.sum("n_c").alias("n"), F.count(F.lit(1)).alias("k"))
    return c.crossJoin(F.broadcast(t)).select(
        "lang", F.round(F.col("n") / (F.col("k") * F.col("n_c")), 6).alias("weight")
    )


# gold/pred columns for the metric-kernel checks: binary en-vs-other task,
# pred from a stopword rule — expressible identically in both engines.
_PRED_SQL = (
    "CASE WHEN length(regexp_extract(lower(text), '(\\b(the|and|of|to|is)\\b)')) > 0 "
    "THEN 'en' ELSE 'other' END"
)
_GOLD_SQL = "CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END"


def _gold_pred(spark, sf):
    d = _t(spark, sf, "documents")
    pred = F.when(
        quality.stopword_hits(F.col("text"), ("the", "and", "of", "to", "is")) > 0,
        F.lit("en"),
    ).otherwise(F.lit("other"))
    gold = F.when(F.col("lang") == "en", F.lit("en")).otherwise(F.lit("other"))
    return d.select(gold.alias("gold"), pred.alias("pred"))


@check(
    "agg_accuracy",
    f"SELECT round(avg(CASE WHEN {_GOLD_SQL} = {_PRED_SQL} THEN 1.0 ELSE 0.0 END), 6)"
    " AS accuracy FROM documents",
)
def agg_accuracy(spark, sf):
    return metrics.accuracy(_gold_pred(spark, sf)).select(
        F.round("accuracy", 6).alias("accuracy")
    )


@check(
    "agg_confusion",
    f"SELECT {_GOLD_SQL} AS gold, {_PRED_SQL} AS pred, count(*) AS n "
    "FROM documents GROUP BY 1, 2",
)
def agg_confusion(spark, sf):
    return metrics.confusion(_gold_pred(spark, sf))


_F1_ORACLE = f"""
WITH d AS (SELECT {_GOLD_SQL} AS gold, {_PRED_SQL} AS pred FROM documents),
     cls AS (SELECT DISTINCT gold AS cls FROM d UNION SELECT DISTINCT pred FROM d),
     m AS (
       SELECT cls,
              (SELECT count(*) FROM d WHERE gold = cls AND pred = cls) AS tp,
              (SELECT count(*) FROM d WHERE pred = cls) AS n_pred,
              (SELECT count(*) FROM d WHERE gold = cls) AS n_gold
       FROM cls),
     prf AS (
       SELECT cls,
              CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0.0 END AS p,
              CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0.0 END AS r
       FROM m)
SELECT cls, round(p, 6) AS precision, round(r, 6) AS recall,
       round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
FROM prf
"""


@check("agg_f1_per_class", _F1_ORACLE)
def agg_f1_per_class(spark, sf):
    return metrics.f1_per_class(_gold_pred(spark, sf)).select(
        "cls",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


_MACRO_F1_ORACLE = f"""
WITH d AS (SELECT {_GOLD_SQL} AS gold, {_PRED_SQL} AS pred FROM documents),
     cls AS (SELECT DISTINCT gold AS cls FROM d UNION SELECT DISTINCT pred FROM d),
     m AS (
       SELECT cls,
              (SELECT count(*) FROM d WHERE gold = cls AND pred = cls) AS tp,
              (SELECT count(*) FROM d WHERE pred = cls) AS n_pred,
              (SELECT count(*) FROM d WHERE gold = cls) AS n_gold
       FROM cls),
     prf AS (
       SELECT cls,
              CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0.0 END AS p,
              CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0.0 END AS r
       FROM m)
SELECT round(avg(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END), 6)
  AS macro_f1 FROM prf
"""


@check("agg_macro_f1", _MACRO_F1_ORACLE)
def agg_macro_f1(spark, sf):
    return metrics.macro_f1(_gold_pred(spark, sf)).select(
        F.round("macro_f1", 6).alias("macro_f1")
    )


@check(
    "agg_mean_std",
    "SELECT l_returnflag, round(avg(l_quantity), 6) AS mean_qty, "
    "round(stddev_samp(l_quantity), 6) AS std_qty "
    "FROM lineitem GROUP BY l_returnflag",
)
def agg_mean_std(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        )
    )


@check(
    "agg_distinct",
    "SELECT count(DISTINCT l_partkey) AS n_parts, "
    "count(DISTINCT l_suppkey) AS n_supps FROM lineitem",
)
def agg_distinct(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@check("agg_approx_distinct")  # rows-only: HLL sketches differ per engine
def agg_approx_distinct(spark, sf):
    """A8 scale path — approx_count_distinct (HLL++, constant memory)."""
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


@check(
    "agg_rollup",
    "SELECT lang, source, count(*) AS n FROM documents GROUP BY ROLLUP (lang, source)",
)
def agg_rollup(spark, sf):
    return _t(spark, sf, "documents").rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )


@check(
    "topk_terms",
    """
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def topk_terms(spark, sf):
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@check(
    "sort_by_key",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
def sort_by_key(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


# =========================================================================
# §2.5 windows
# =========================================================================


@check(
    "win_rank",
    """
    SELECT c_custkey,
           rank() OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS rnk
    FROM customer
    """,
)
def win_rank(spark, sf):
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return _t(spark, sf, "customer").select(
        "c_custkey", F.rank().over(w).alias("rnk")
    )


@check(
    "win_lag_gap",
    """
    SELECT event_id,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_s
    FROM events
    """,
)
def win_lag_gap(spark, sf):
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s"),
    )


@check(
    "win_moving_avg",
    """
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
             AS mavg
    FROM events
    """,
)
def win_moving_avg(spark, sf):
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    return _t(spark, sf, "events").select(
        "event_id", F.round(F.avg("value").over(w), 6).alias("mavg")
    )


# =========================================================================
# §2.8 scalar functions
# =========================================================================


@check(
    "str_normalize",
    "SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm "
    "FROM documents",
)
def str_normalize(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", FT.normalize_ws(F.lower(F.col("text"))).alias("norm"))


@check(
    "str_mask_url",
    """
    SELECT doc_id,
           regexp_replace('see https://ex.com/' || doc_id || ' and www.x.org ' || text,
                          '(https?://\\S+|www\\.\\S+)', 'URL', 'g') AS masked
    FROM documents
    """,
)
def str_mask_url(spark, sf):
    d = _t(spark, sf, "documents")
    synth = F.concat(
        F.lit("see https://ex.com/"), F.col("doc_id"), F.lit(" and www.x.org "), F.col("text")
    )
    return d.select("doc_id", FT.mask_urls(synth).alias("masked"))


@check(
    "str_mask_user",
    """
    SELECT doc_id,
           regexp_replace('@user' || doc_id || ' hello @world ' || text,
                          '@\\w+', '@USER', 'g') AS masked
    FROM documents
    """,
)
def str_mask_user(spark, sf):
    d = _t(spark, sf, "documents")
    synth = F.concat(F.lit("@user"), F.col("doc_id"), F.lit(" hello @world "), F.col("text"))
    return d.select(
        "doc_id", F.regexp_replace(synth, MENTION_RE, "@USER").alias("masked")
    )


@check(
    "str_tokenize_count",
    "SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens "
    "FROM documents",
)
def str_tokenize_count(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", FT.token_count(F.col("text")).alias("n_tokens"))


@check(
    "str_truncate",
    "SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') "
    "AS head FROM documents",
)
def str_truncate(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", FT.truncate_tokens(F.col("text"), 5).alias("head"))


@check(
    "str_caps_ratio",
    """
    WITH s AS (SELECT doc_id,
                      upper(substr(text, 1, 20)) || substr(text, 21) AS t
               FROM documents)
    SELECT doc_id,
           round(CASE WHEN length(regexp_replace(t, '[^A-Za-z]', '', 'g')) = 0
                 THEN 0.0
                 ELSE length(regexp_replace(t, '[^A-Z]', '', 'g')) * 1.0
                      / length(regexp_replace(t, '[^A-Za-z]', '', 'g')) END, 6)
             AS caps_ratio
    FROM s
    """,
)
def str_caps_ratio(spark, sf):
    d = _t(spark, sf, "documents")
    synth = F.concat(F.upper(F.substring("text", 1, 20)), F.expr("substring(text, 21)"))
    return d.select("doc_id", F.round(FT.caps_ratio(synth), 6).alias("caps_ratio"))


@check(
    "str_tok_repeat",
    """
    SELECT doc_id,
           round(1.0 - len(list_distinct(string_split_regex(trim(text), '\\s+'))) * 1.0
                     / len(string_split_regex(trim(text), '\\s+')), 6) AS rep_ratio
    FROM documents
    """,
)
def str_tok_repeat(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", F.round(FT.rep_tok_ratio(F.col("text")), 6).alias("rep_ratio"))


_PII_SYNTH_SQL = (
    "'contact user' || doc_id || '@example.com or 555-123-4567 ssn 123-45-6789 "
    "ip 10.0.0.' || (doc_id % 255) || ' ' || text"
)
_PII_SCRUB_SQL = f"""
SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace({_PII_SYNTH_SQL},
           '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
           '(https?://[^ ]+|www\\.[^ ]+)', 'URL', 'g'),
           '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
           '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
           '(\\+?1[-. ])?(\\(\\d{{3}}\\)[ ]?|\\d{{3}}[-. ])\\d{{3}}[-. ]\\d{{4}}\\b|\\b\\d{{10}}\\b', '<PHONE>', 'g'),
           '@\\w+', '@USER', 'g') AS scrubbed
FROM documents
"""


@check("str_pii_scrub", _PII_SCRUB_SQL)
def str_pii_scrub(spark, sf):
    d = _t(spark, sf, "documents")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id"),
        F.lit("@example.com or 555-123-4567 ssn 123-45-6789 ip 10.0.0."),
        F.pmod(F.col("doc_id"), F.lit(255)),
        F.lit(" "),
        F.col("text"),
    )
    return d.select("doc_id", scrub_pii(synth).alias("scrubbed"))


@check("str_char_run")  # rows-only: Java-regex backreference, not RE2-safe
def str_char_run(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        FT.has_char_run(F.concat(F.lit("wooooow "), F.col("text")), 5).alias("has_run"),
        F.round(FT.rep_char_ratio(F.col("text")), 6).alias("rep_char_ratio"),
    )


@check(
    "json_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events",
)
def json_extract(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


@check(
    "array_dot",
    """
    SELECT vec_id,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS norm2
    FROM embeddings
    """,
)
def array_dot(spark, sf):
    e = _t(spark, sf, "embeddings")
    return e.select(
        "vec_id", F.round(dot(F.col("embedding"), F.col("embedding")), 4).alias("norm2")
    )


@check(
    "date_trunc_counts",
    "SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s, "
    "count(*) AS n FROM events GROUP BY 1",
)
def date_trunc_counts(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_s")
    ).agg(F.count(F.lit(1)).alias("n"))


# =========================================================================
# quality / curation operators
# =========================================================================


def _stopword_hits_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


_LANG_HEUR_SQL = "SELECT doc_id, " + (
    "CASE "
    + " ".join(
        # mirror the engine's strict-> argmax with first-name tie win:
        # lang L wins iff hits(L) > hits(M) for all M before L and ≥... —
        # simpler: computed via greatest chain below
        []
    )
)

# build the argmax CASE programmatically (first language in sorted order
# wins ties, matching quality.langid_heuristic)
_langs = sorted(STOPWORDS)
_hits_cols = ", ".join(f"{_stopword_hits_sql(lg)} AS h_{lg}" for lg in _langs)
_best = "0"
_case = "'und'"
for lg in _langs:
    _case = f"CASE WHEN h_{lg} > {_best} THEN '{lg}' ELSE {_case} END"
    _best = f"greatest(h_{lg}, {_best})"
# note: chain built so EARLIER langs win ties ⇒ iterate and nest such that
# later langs need strict '>' over running max — same as engine loop.
_LANG_HEUR_SQL = f"""
WITH h AS (SELECT doc_id, {_hits_cols} FROM documents)
SELECT doc_id, {_case} AS lang_guess FROM h
"""


@check("lang_heuristic", _LANG_HEUR_SQL)
def lang_heuristic(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", quality.langid_heuristic(F.col("text")).alias("lang_guess"))


@check(
    "token_count_bpe",
    """
    SELECT doc_id,
           len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'))
             AS n_bpe
    FROM documents
    """,
)
def token_count_bpe(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", quality.bpe_ish_token_count(F.col("text")).alias("n_bpe"))


@check("doc_fingerprint")  # rows-only: xxhash64 is Spark-specific
def doc_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", quality.doc_fingerprint(F.col("text")).alias("fingerprint"))


def _quality_sql() -> str:
    sw_pat = r"\b(" + "|".join(STOPWORDS["en"]) + r")\b"
    return f"""
    WITH q AS (
      SELECT doc_id, text,
             greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END, 1) AS n_tok,
             len(regexp_extract_all(lower(text), '{sw_pat}')) AS sw,
             length(text) AS n,
             length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS punct,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS dig,
             length(regexp_replace(text, '\\s', '', 'g')) AS alpha
      FROM documents)
    SELECT doc_id,
           round(least(sw * 1.0 / n_tok * 3.0, 1.0) * 0.4
                 + CASE WHEN alpha * 1.0 / n_tok BETWEEN 3.0 AND 10.0
                        THEN 1.0 ELSE 0.3 END * 0.3
                 + (1.0 - least(CASE WHEN n = 0 THEN 0.0 ELSE punct * 2.0 / n END
                                + CASE WHEN n = 0 THEN 0.0 ELSE dig * 2.0 / n END,
                                1.0)) * 0.3, 6) AS quality
    FROM q
    """


@check("quality_score", _quality_sql())
def quality_score_check(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", quality.quality_score(F.col("text")).alias("quality"))


# =========================================================================
# dedup & similarity (scale ops)
# =========================================================================


def _docs_with_mutants(spark, sf) -> DataFrame:
    """documents ∪ a truncated mutant of each en doc — guarantees real
    near-dup pairs to find."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    mut = (
        _t(spark, sf, "documents")
        .filter(F.col("lang") == "en")
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, 1, greatest(length(text) - 8, 1))").alias("text"),
        )
    )
    return d.unionByName(mut)


@check(
    "dedup_ngram_jaccard",
    """
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, greatest(length(text) - 8, 1)) FROM documents
      WHERE lang = 'en'),
    sh AS (
      SELECT doc_id AS k,
             list_distinct(list_transform(
               range(1, greatest(length(text) - 2, 0) + 1),
               i -> substr(text, CAST(i AS INT), 3))) AS s
      FROM docs)
    SELECT a.k AS k1, b.k AS k2,
           round(len(list_filter(a.s, x -> list_contains(b.s, x))) * 1.0
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON b.k = a.k + 1000000
    WHERE len(list_filter(a.s, x -> list_contains(b.s, x))) * 1.0
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard on doc↔mutant pairs (blocked by construction)."""
    docs = _docs_with_mutants(spark, sf)
    a = docs.select(F.col("doc_id").alias("k1"), dedup.char_shingles(F.col("text")).alias("s1"))
    b = docs.select((F.col("doc_id") - 1000000).alias("k1"), F.col("doc_id").alias("k2"),
                    dedup.char_shingles(F.col("text")).alias("s2"))
    j = dedup.jaccard(F.col("s1"), F.col("s2"))
    return (
        a.join(b, "k1")
        .select("k1", "k2", j.alias("j_raw"))
        .filter(F.col("j_raw") >= 0.8)  # filter pre-rounding, like the oracle
        .select("k1", "k2", F.round("j_raw", 6).alias("jaccard"))
    )


@check("dedup_minhash_lsh")  # rows-only: xxhash64 minhashes are Spark-specific
def dedup_minhash_lsh(spark, sf):
    """5-char shingles + 8 bands × 8 rows: same-vocabulary word salads
    share most 3-grams (everything becomes a candidate), but 5-grams span
    word boundaries so only true near-dups collide in a band."""
    return dedup.minhash_lsh_pairs(
        _docs_with_mutants(spark, sf), "doc_id", "text", n=5, verify_threshold=0.5
    ).select("k1", "k2", F.round("jaccard", 6).alias("jaccard"))


@check(
    "table_snapshot_read",
    """
    WITH v1 AS (
      SELECT 1 AS snap, lang, doc_id FROM documents WHERE doc_id < 250),
    v2 AS (
      SELECT 2 AS snap, lang, doc_id FROM documents
      WHERE (doc_id < 250 AND lang <> 'en')
         OR (doc_id >= 250 AND lang = 'en')),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT snap, lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM u GROUP BY snap, lang
    """,
)
def table_snapshot_read(spark, sf):
    """Iceberg-shaped snapshot store (sources/snapshots.py): append a
    slice of documents as snapshot 1, dynamic-partition-overwrite the
    'en' partition as snapshot 2, then TIME-TRAVEL both snapshots and
    aggregate. The oracle reconstructs both versions relationally —
    what's on the hash is snapshot isolation itself: the overwrite must
    not leak into the as-of-1 read, and untouched partitions must carry
    into 2 unchanged."""
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotStore

    d = _t(spark, sf, "documents").select("doc_id", "lang", "text")
    tmp = tempfile.mkdtemp(prefix="snap_tbl_")
    try:
        store = SnapshotStore(tmp, "lang")
        s1 = store.append(d.filter(F.col("doc_id") < 250))
        s2 = store.overwrite_partitions(
            d.filter((F.col("doc_id") >= 250) & (F.col("lang") == "en"))
        )
        out = (
            store.read(spark, as_of=s1)
            .withColumn("snap", F.lit(1))
            .unionByName(store.read(spark, as_of=s2).withColumn("snap", F.lit(2)))
            .groupBy("snap", "lang")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("sum_ids"))
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(out, "snap int, lang string, n long, sum_ids long")


@check(
    "sample_token_budget",
    """
    WITH c AS (
      SELECT doc_id, lang, n_chars,
             sum(n_chars) OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents)
    SELECT doc_id, lang, n_chars FROM c WHERE cum <= 20000
    """,
)
def sample_token_budget(spark, sf):
    """Budgeted corpus selection (operators/quality.select_to_budget):
    per language, keep the longest documents while the running
    character total stays within 20k — the absolute-token-target
    counterpart of rate-based sampling in corpus mixing. One keyed
    window; the doc_id tiebreak makes the cut deterministic."""
    from .operators.quality import select_to_budget

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return select_to_budget(
        d,
        "lang",
        "n_chars",
        20000,
        order_cols=[F.col("n_chars").desc(), F.col("doc_id")],
    )


@check(
    "sample_mixture",
    """
    WITH cnt AS (
      SELECT source, count(*) AS n FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY source),
    r AS (
      SELECT source,
             least(1.0, (60.0 * CASE source
                 WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                 WHEN 'src2' THEN 0.125 ELSE 0.125 END / 1.0) / n) AS rate
      FROM cnt)
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON d.source = r.source
    WHERE (d.doc_id * 2654435761) % 1000000 < r.rate * 1000000.0
    """,
)
def sample_mixture(spark, sf):
    """Q7 — deterministic mixture sampling (operators/quality.
    sample_to_mixture): keep ~60 rows at a 0.5/0.25/0.125/0.125 source
    mix via per-group hash rates; src0's target exceeds its population,
    pinning the rate-1.0 cap, and sources outside the weight dict are
    dropped. The oracle mirrors the rate arithmetic step for step
    (binary weights sum to exactly 1.0, so both engines compute
    bit-identical doubles and the bucket<rate·1e6 comparison cannot
    straddle). Selection uses the injectable Knuth-hash bucket because
    the oracle engine lacks xxhash64 (split_hash_mod precedent); the
    xxhash64 default path is pytest-pinned in tests/test_curation.py."""
    from .operators.quality import sample_to_mixture

    d = _t(spark, sf, "documents").select("doc_id", "source")
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1_000_000))
    return sample_to_mixture(
        d,
        "source",
        "doc_id",
        weights={"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125},
        budget_rows=60,
        bucket=bucket,
    ).select("doc_id", "source")


@check(
    "dedup_substring_spans",
    """
    WITH g0 AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 19, 0) + 1)) AS pos
      FROM documents),
    g AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                 substr(text, CAST(pos AS INT), 20) AS gram
          FROM g0),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
    i AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                      THEN 0 ELSE 1 END AS ni
          FROM h),
    s AS (SELECT doc_id, pos,
                 sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
          FROM i)
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + 20 - min(pos) AS span_len
    FROM s GROUP BY doc_id, island
    """,
)
def dedup_substring_spans(spark, sf):
    """Exact substring-duplication spans (operators/dedup.py — the
    Lee-et-al exact-substring signal as hash-groupBy + gaps-and-islands):
    maximal spans whose 20-grams occur in ≥2 distinct documents. Run in
    exact mode (winnow_w=1) so the DuckDB oracle — which groups the
    gram STRINGS — reproduces every span boundary; the winnowed scale
    path is covered by the offset-robustness pytest."""
    return dedup.substring_dup_spans(
        _t(spark, sf, "documents"), "doc_id", "text", k=20, winnow_w=1
    )


@check("dedup_incremental_lsh")  # rows-only: xxhash64 banding, like minhash_lsh
def dedup_incremental_lsh(spark, sf):
    """Incremental corpus dedup (operators/dedup.py lsh_index_*): the
    documents table is written once as a persisted LSH index, then the
    mutant batch is signed and queried against it — the corpus is never
    re-shingled. Equality with the monolithic pair set (including the
    combined bucket-cap decision and two-append additivity) is pinned by
    tests/test_dedup_similarity.py; this key exercises the same path
    end-to-end under the driver."""
    import shutil
    import tempfile

    d = _t(spark, sf, "documents").select("doc_id", "text")
    mut = (
        _t(spark, sf, "documents")
        .filter(F.col("lang") == "en")
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, 1, greatest(length(text) - 8, 1))").alias("text"),
        )
    )
    tmp = tempfile.mkdtemp(prefix="lsh_idx_")
    try:
        dedup.lsh_index_write(d, "doc_id", "text", tmp, n=5)
        rows = (
            dedup.lsh_index_query(mut, "doc_id", "text", tmp, n=5, verify_threshold=0.5)
            .select("k_new", "k_old", F.round("jaccard", 6).alias("jaccard"))
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "k_new long, k_old long, jaccard double")


@check("dedup_simhash")  # rows-only: FNV hash bits are engine-specific
def dedup_simhash(spark, sf):
    return dedup.simhash_pairs(_docs_with_mutants(spark, sf), "doc_id", "text")


@check(
    "udtf_sentence_explode",
    """
    WITH m AS (SELECT doc_id,
                      substr(text, 1, 40) || '. ' || substr(text, 41, 40)
                        || '. ' || CAST(doc_id AS VARCHAR) AS mtext
               FROM documents WHERE doc_id < 300),
    p AS (SELECT doc_id, string_split(mtext, '. ') AS parts FROM m)
    SELECT doc_id,
           CAST(unnest(generate_series(1, len(parts))) - 1 AS INT) AS idx,
           unnest(parts) AS sentence
    FROM p
    """,
)
def udtf_sentence_explode(spark, sf):
    """X3 via a REAL Spark 4 Python UDTF (operators/udtfs.py): register,
    LATERAL-correlate, emit (idx, sentence) per row. The input is
    synthesized multi-sentence (the raw documents contain no '. '
    separators, which would reduce the check to an identity explode);
    the split rule is deliberately SQL-mirrorable so the oracle verifies
    the UDTF machinery itself — registration, lateral correlation,
    per-row ordinality, NULL-skip."""
    from .operators.udtfs import register_all

    register_all(spark)
    (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 40),
                F.lit(". "),
                F.substring("text", 41, 40),
                F.lit(". "),
                F.col("doc_id").cast("string"),
            ).alias("mtext"),
        )
        .createOrReplaceTempView("_udtf_docs")
    )
    return spark.sql(
        "SELECT doc_id, s.idx, s.sentence "
        "FROM _udtf_docs, LATERAL sentence_split(mtext) AS s"
    )


@check(
    "embedding_pca_project",
    f"""
    SELECT vec_id, pc0, pc1, pc2, pc3
    FROM read_parquet('{_PCA_FIXTURE}')
    WHERE corpus_sig = (SELECT CAST(sum(vec_id *
            CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
          FROM embeddings)
    """,
)
def embedding_pca_project(spark, sf):
    """Distributed PCA (operators/linalg.py): per-partition second-moment
    partials → Spark-side element-wise reduce → driver eigh at d=64 →
    broadcast projection in one Arrow matrix multiply. Full oracle via
    the pinned side table (tools/build_pinned_oracles.py) — no SQL does
    eigendecomposition, so the fixture pins the engine's projections
    (rounded to 4: cross-partition float-sum order is run-dependent at
    1e-12) and tests/test_linalg.py proves the SAME kernel against a
    from-scratch numpy reference, with a fixture drift guard alongside.
    The pinned sign convention makes projections deterministic."""
    from .operators.linalg import pca_fit, pca_project

    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    model = pca_fit(e, "embedding", k=4)
    return pca_project(e, "embedding", model).select(
        "vec_id",
        *[F.round(F.col("pca")[j], 4).alias(f"pc{j}") for j in range(4)],
    )


_EMB_NEARDUP_SQL = """
WITH base AS (
  SELECT vec_id AS k, embedding AS v, vec_id % 50 AS blk FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> x * CAST(1.5 AS FLOAT)),
         vec_id % 50
  FROM embeddings
),
pairs AS (
  SELECT a.k AS k1, b.k AS k2,
         list_sum(list_transform(list_zip(a.v, b.v),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cos
  FROM base a JOIN base b ON a.blk = b.blk AND a.k < b.k
)
SELECT k1, k2, round(cos, 4) AS cosine FROM pairs WHERE cos >= 0.9
"""


@check("dedup_embedding_cosine", _EMB_NEARDUP_SQL)
def dedup_embedding_cosine(spark, sf):
    """Embedding near-dup via blocked exact cosine: planted near-dups are
    1.5-scaled copies (cosine exactly 1 up to float noise, far from the
    0.9 threshold; random 64-dim gaussian pairs sit ≪0.9, so no boundary
    flips cross engines). Blocking = vec_id mod 50 — the shape of the
    LSH-bucket-then-verify scale path with a deterministic block."""
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    scale = F.lit(1.5).cast("float")
    mut = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * scale).alias("embedding"),
    )
    base = e.unionByName(mut).withColumn(
        "blk", F.pmod(F.col("vec_id") % 1000000, F.lit(50))
    )
    return dedup.embedding_neardup_pairs(
        base, "vec_id", "embedding", threshold=0.9, block_col="blk"
    ).select("k1", "k2", F.round("cosine", 4).alias("cosine"))


@check("dedup_exact_docs", "SELECT text, min(doc_id) AS doc_id FROM "
       "(SELECT doc_id, text FROM documents UNION ALL "
       "SELECT doc_id + 1000000, text FROM documents) GROUP BY text")
def dedup_exact_docs(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return dedup.exact_dedup(d.unionByName(dup), "text", "doc_id")


_QUERY_VEC = [((i * 37) % 13 - 6) / 7.0 for i in range(64)]  # fixed literal query

_ANN_ORACLE = f"""
WITH q AS (SELECT {str(_QUERY_VEC)}::DOUBLE[] AS qv),
     s AS (
       SELECT vec_id,
              list_sum(list_transform(range(1, 65),
                i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * qv[CAST(i AS INT)]))
              / (sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS c
       FROM embeddings, q)
SELECT vec_id, round(c, 6) AS cosine FROM s
ORDER BY c DESC, vec_id LIMIT 10
"""


@check("ann_brute_topk", _ANN_ORACLE)
def ann_brute_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    r = similarity.brute_force_topk(e, "embedding", _QUERY_VEC, k=10)
    return r.select("vec_id", F.round("cosine", 6).alias("cosine"))


@check("ann_lsh_topk")  # rows-only: bucket pruning is recall<1 by design
def ann_lsh_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    r = similarity.lsh_topk(e, "embedding", _QUERY_VEC, k=10)
    return r.select("vec_id", F.round("cosine", 6).alias("cosine"))


# =========================================================================
# streaming-shaped (batch oracles)
# =========================================================================


@check(
    "stream_tumbling",
    """
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS bucket_start_s,
           event_type, count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf):
    r = stream_jobs.tumbling_counts(_t(spark, sf, "events"))
    return r.select(
        "bucket_start_s", "event_type", "n", F.round("sum_value", 4).alias("sum_value")
    )


@check(
    "stream_session",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_s,
           CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end_s,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark, sf):
    """T3 — session_window, oracled by a gaps-and-islands SQL rewrite."""
    r = stream_jobs.session_counts(_t(spark, sf, "events"))
    return r.select(
        "user_id",
        "session_start_s",
        "session_end_s",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


@check(
    "stream_interval_join",
    """
    SELECT l.user_id AS user_id,
           l.event_id AS left_event_id, r.event_id AS right_event_id,
           CAST(floor(epoch(l.ts)) AS BIGINT) AS left_ts_s,
           CAST(floor(epoch(r.ts)) AS BIGINT) AS right_ts_s
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
)
def stream_interval_join(spark, sf):
    """T7 — stream-stream interval join (streaming/jobs.py
    stream_stream_interval_join), driven through the OPERATOR itself:
    withWatermark is a no-op on batch inputs (Catalyst's
    EliminateEventTimeWatermark), so the identical code path that runs
    under Structured Streaming yields the batch interval self-join the
    oracle expresses directly. Even events pair with the odd events of
    the same user within the following hour; replay parity between this
    batch shape and a real two-stream run is pinned in
    tests/test_streaming.py."""
    from .streaming import jobs as _jobs

    e = _t(spark, sf, "events")
    return _jobs.stream_stream_interval_join(
        e.filter(F.col("event_id") % 2 == 0),
        e.filter(F.col("event_id") % 2 == 1),
        within="1 hour",
    )


@check("pipeline_documents")  # rows-only: langid/ppl UDFs aren't SQL
def pipeline_documents(spark, sf):
    """The flagship pipeline over the documents stand-in (SURVEY.md M1),
    through the PRODUCTION shape: salted repartition BEFORE scoring —
    without it the sf0.1 table is one 580 KB parquet file, so the whole
    Arrow stage ran as ONE task with 31 cores idle (the r4 verdict
    flagged the single-task harness shape; production always salts,
    plans/pipeline.py)."""
    from .artifacts_build import build_all
    from .plans.pipeline import salted_repartition, score_transcripts

    d = _t(spark, sf, "documents").withColumnRenamed("text", "transcript")
    d = salted_repartition(d, spark.sparkContext.defaultParallelism, key="doc_id")
    scored = score_transcripts(d, "transcript", build_all())
    return scored.select(
        "doc_id", "keep", "label_a", "drop_reason", "scrubbed_transcript"
    )


def _pii_sc_ctes() -> str:
    """The shared pii → nrm → sc CTE block (exact PII chain,
    normalization, and every SQL-recomputable score) used by both
    flagship oracles below."""
    from .lexicons import PROFANITY

    prof_pat = r"\\b(" + "|".join(PROFANITY) + r")\\b"
    return f"""pii AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                 '(https?://[^ ]+|www\\.[^ ]+)', 'URL', 'g'),
                 '\\b(\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g'),
                 '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
                 '(\\+?1[-. ])?(\\(\\d{{3}}\\)[ ]?|\\d{{3}}[-. ])\\d{{3}}[-. ]\\d{{4}}\\b|\\b\\d{{10}}\\b', '<PHONE>', 'g'),
                 '@\\w+', '@USER', 'g') AS pii
      FROM documents),
    nrm AS (
      SELECT doc_id, text, pii,
             trim(regexp_replace(lower(pii), '\\s+', ' ', 'g')) AS norm
      FROM pii),
    sc AS (
      SELECT doc_id, text, pii, norm,
             length(text) AS n_chars,
             CASE WHEN length(norm) = 0 THEN 0
                  ELSE len(string_split(norm, ' ')) END AS n_tokens,
             CASE WHEN length(norm) = 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(string_split(norm, ' '))) * 1.0
                           / len(string_split(norm, ' ')) END AS rep_tok,
             CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0
                       / length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END AS caps,
             len(regexp_extract_all(norm, '{prof_pat}')) AS prof
      FROM nrm)"""


def _rules_pipeline_sql() -> str:
    """DuckDB mirror of the rules-only flagship variant below — the exact
    PII chain, normalization, token/caps/toxicity scores and gate priority,
    minus the two model gates (langid/ppl, which are not SQL)."""
    from .lexicons import PROFANITY, THRESHOLDS as TH

    prof_pat = r"\\b(" + "|".join(PROFANITY) + r")\\b"
    gate = f"""CASE WHEN n_chars < {TH["len_min_chars"]} OR n_chars > {TH["len_max_chars"]}
                     THEN 'length'
                WHEN rep_tok > {TH["rep_tok_ratio_max"]} THEN 'repetition'
                WHEN caps > {TH["caps_ratio_max"]} THEN 'caps'
                WHEN prof >= {TH["toxicity_max_hits"]}
                     OR prof * 1.0 >= {TH["toxicity_max_density"]} * greatest(n_tokens, 1)
                     THEN 'toxicity'
                ELSE NULL END"""
    return f"""
    WITH {_pii_sc_ctes()}
    SELECT doc_id,
           {gate} AS drop_reason,
           ({gate}) IS NULL AS keep,
           CASE WHEN prof > 0
                THEN regexp_replace(pii, '(?i){prof_pat}', '<PROFANITY>', 'g')
                ELSE pii END AS scrubbed_transcript,
           round(caps, 6) AS caps_ratio,
           round(rep_tok, 6) AS rep_tok_ratio,
           n_tokens,
           prof AS profanity_hits
    FROM sc
    """


#: committed side table of the fused UDF's non-SQL kernel outputs
#: (tools/build_flagship_fixture.py; keyed by (corpus_sig, doc_id) so one
#: static SQL string serves every scale factor)
_FLAGSHIP_FIXTURE = os.path.join(_FIXTURE_DATA_DIR, "flagship_scores.parquet")


def _full_pipeline_sql() -> str:
    """DuckDB mirror of the COMPLETE flagship decision (VERDICT r3 #5):
    every deterministic gate recomputed from scratch (same CTEs as the
    rules oracle) plus the three kernel columns no ANSI SQL can derive —
    langid lang/conf, perplexity, and the Java-backref char-run flag —
    read from the pinned fixture parquet. What this verifies end-to-end:
    the full six-gate priority order (length → langid → repetition →
    caps → perplexity → toxicity), threshold application, and keep/drop
    derivation over the production UDF's actual outputs."""
    from .lexicons import THRESHOLDS as TH

    gate = f"""CASE WHEN n_chars < {TH["len_min_chars"]} OR n_chars > {TH["len_max_chars"]}
                     THEN 'length'
                WHEN lang <> 'en' THEN 'langid'
                WHEN rep_char_run OR rep_tok > {TH["rep_tok_ratio_max"]}
                     THEN 'repetition'
                WHEN caps > {TH["caps_ratio_max"]} THEN 'caps'
                WHEN ppl > {TH["ppl_max"]} THEN 'perplexity'
                WHEN prof >= {TH["toxicity_max_hits"]}
                     OR prof * 1.0 >= {TH["toxicity_max_density"]} * greatest(n_tokens, 1)
                     THEN 'toxicity'
                ELSE NULL END"""
    return f"""
    WITH fx AS (
      SELECT doc_id, lang, conf, ppl, rep_char_run
      FROM read_parquet('{_FLAGSHIP_FIXTURE}')
      WHERE corpus_sig = (SELECT sum(doc_id * n_chars) FROM documents)),
    {_pii_sc_ctes()},
    j AS (
      SELECT sc.doc_id, sc.n_chars, sc.n_tokens, sc.rep_tok, sc.caps,
             sc.prof, fx.lang, fx.conf, fx.ppl, fx.rep_char_run
      FROM sc JOIN fx ON sc.doc_id = fx.doc_id)
    SELECT doc_id,
           {gate} AS drop_reason,
           ({gate}) IS NULL AS keep,
           lang,
           round(conf, 6) AS conf,
           round(ppl, 6) AS ppl
    FROM j
    """


@check("pipeline_documents_rules", _rules_pipeline_sql())
def pipeline_documents_rules(spark, sf):
    """The flagship's deterministic-rules slice as a FULL-ORACLE key: the
    same PII scrub → normalize → heuristic scores → first-failing-gate
    decision the pipeline runs, restricted to SQL-expressible gates
    (length / token-repetition / caps / toxicity; langid+perplexity
    gates stay under the rows-only flagship key + pytest goldens).

    The token metrics (n_tokens / rep_tok_ratio / profanity_hits) come
    from the PRODUCTION fused Arrow UDF (operators/scoring.py) — the
    exact code path score_transcripts ships — not from standalone JVM
    helpers, so this driver row catches drift in the UDF kernels (e.g.
    the 16-char-prefix token hash: exact-distinct on this data, where
    no token exceeds 16 chars; a kernel regression that conflates
    distinct tokens would hash-mismatch the exact-distinct DuckDB
    mirror). Same thresholds, same gate priority as the pipeline."""
    from .artifacts_build import build_all
    from .lexicons import THRESHOLDS as TH
    from .functions.scrub import scrub_profanity
    from .operators.scoring import combined_scores_udf

    arts = build_all()
    d = _t(spark, sf, "documents")
    raw = F.col("text")
    d = d.withColumn("_pii", scrub_pii(raw))
    d = d.withColumn(
        "_py", combined_scores_udf(arts["langid"], arts["lm"])(raw, F.col("_pii"))
    )
    d = d.withColumns(
        {
            "_n_chars": F.length(raw),
            "_n_tokens": F.col("_py.n_tokens"),
            "_rep_tok": F.col("_py.rep_tok_ratio"),
            "_caps": F.col("_py.caps_ratio"),
            "_prof": F.col("_py.prof_hits"),
        }
    )
    length_bad = (F.col("_n_chars") < TH["len_min_chars"]) | (
        F.col("_n_chars") > TH["len_max_chars"]
    )
    toxic = (F.col("_prof") >= TH["toxicity_max_hits"]) | (
        F.col("_prof").cast("double")
        >= TH["toxicity_max_density"] * F.greatest(F.col("_n_tokens"), F.lit(1)).cast("double")
    )
    reason = (
        F.when(length_bad, F.lit("length"))
        .when(F.col("_rep_tok") > TH["rep_tok_ratio_max"], F.lit("repetition"))
        .when(F.col("_caps") > TH["caps_ratio_max"], F.lit("caps"))
        .when(toxic, F.lit("toxicity"))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.select(
        "doc_id",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
        F.when(F.col("_prof") > 0, scrub_profanity(F.col("_pii")))
        .otherwise(F.col("_pii"))
        .alias("scrubbed_transcript"),
        F.round(F.col("_caps"), 6).alias("caps_ratio"),
        F.round(F.col("_rep_tok"), 6).alias("rep_tok_ratio"),
        F.col("_n_tokens").alias("n_tokens"),
        F.col("_prof").alias("profanity_hits"),
    )


@check("pipeline_documents_full", _full_pipeline_sql())
def pipeline_documents_full(spark, sf):
    """The COMPLETE flagship decision as a full-oracle key: the
    production score_transcripts path (fused Arrow UDF + native gates),
    with langid + perplexity + char-run included — the two model gates
    that pipeline_documents_rules had to leave out. The oracle recomputes
    every deterministic gate in SQL and reads the pinned kernel columns
    (tests/fixtures/data/flagship_scores.parquet) for the rest; the
    kernel VALUES are guarded against drift by
    tests/test_golden_decisions.py::test_flagship_fixture_matches_live_kernels
    (regenerate with tools/build_flagship_fixture.py after any
    artifact/kernel change — ARTIFACT_VERSION bumps invalidate it)."""
    from .artifacts_build import build_all
    from .plans.pipeline import score_transcripts

    d = _t(spark, sf, "documents").withColumnRenamed("text", "transcript")
    scored = score_transcripts(d, "transcript", build_all())
    return scored.select(
        "doc_id",
        "drop_reason",
        "keep",
        F.col("scores.langid_lang").alias("lang"),
        F.round("scores.langid_conf", 6).alias("conf"),
        F.round("scores.ppl", 6).alias("ppl"),
    )


def _stateful_session_sql() -> str:
    """Oracle for the applyInPandasWithState check below — a pure-SQL
    replay of the batch-driven custom-session semantics: the check feeds
    the stream in two time-halves, so a user's first-half state closes
    at the post-batch-1 no-data microbatch IFF its last event is more
    than the gap older than the batch-1 watermark (max first-half ts);
    users whose state survives merge their second-half events into the
    same session. Sentinel batches close everything at the end, which
    does not change any emitted row — only WHEN it is emitted."""
    return """
    WITH b AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value,
             (SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
                    + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2
              FROM events) AS split_s
      FROM events),
    h1 AS (SELECT user_id, count(*) AS n, sum(value) AS s,
                  min(ep) AS mn, max(ep) AS mx
           FROM b WHERE ep <= split_s GROUP BY user_id),
    h2 AS (SELECT user_id, count(*) AS n, sum(value) AS s,
                  min(ep) AS mn, max(ep) AS mx
           FROM b WHERE ep > split_s GROUP BY user_id),
    wm AS (SELECT max(ep) AS wm1 FROM b WHERE ep <= split_s),
    split_users AS (  -- first-half state timed out before second half
      SELECT h1.user_id FROM h1, wm WHERE h1.mx + 1800 < wm.wm1),
    sessions AS (
      SELECT user_id, n, s, mn, mx FROM h1
      WHERE user_id IN (SELECT user_id FROM split_users)
      UNION ALL
      SELECT user_id, n, s, mn, mx FROM h2
      WHERE user_id IN (SELECT user_id FROM split_users)
      UNION ALL
      SELECT COALESCE(h1.user_id, h2.user_id) AS user_id,
             COALESCE(h1.n, 0) + COALESCE(h2.n, 0) AS n,
             COALESCE(h1.s, 0) + COALESCE(h2.s, 0) AS s,
             least(COALESCE(h1.mn, h2.mn), COALESCE(h2.mn, h1.mn)) AS mn,
             greatest(COALESCE(h1.mx, h2.mx), COALESCE(h2.mx, h1.mx)) AS mx
      FROM h1 FULL OUTER JOIN h2 USING (user_id)
      WHERE COALESCE(h1.user_id, h2.user_id) NOT IN
            (SELECT user_id FROM split_users))
    SELECT user_id, n AS n_events, round(s, 4) AS sum_value,
           mn AS session_start_s, mx AS session_end_s
    FROM sessions
    """


@check("stateful_session_stats", _stateful_session_sql())
def stateful_session_stats_check(spark, sf):
    """T6 as a driver key — the custom applyInPandasWithState operator
    driven end-to-end through real streaming machinery: three
    availableNow runs over one checkpoint (first-half events, second
    half, then a far-future sentinel), so cross-run state persistence,
    event-time timeout emission, and exact per-session stats are all on
    the hash. Output rows are identical whichever batch's timeout emits
    them (the docstring of _stateful_session_sql explains the replay)."""
    import shutil
    import tempfile

    from .streaming.jobs import run_available_now, stateful_session_stats

    ev = _t(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    lo, hi = ev.agg(
        F.floor(F.unix_timestamp(F.min("ts"))), F.floor(F.unix_timestamp(F.max("ts")))
    ).collect()[0]
    split_s = (int(lo) + int(hi)) // 2
    tmp = tempfile.mkdtemp(prefix="t6_check_")
    try:
        src = os.path.join(tmp, "src")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")

        def feed(df):
            df.coalesce(1).write.mode("append").parquet(src)

        def run():
            stream = stateful_session_stats(
                spark.readStream.schema(ev.schema).parquet(src), gap_minutes=30
            )
            run_available_now(stream, ckpt, out)

        feed(ev.filter(F.unix_timestamp("ts") <= split_s))
        run()
        feed(ev.filter(F.unix_timestamp("ts") > split_s))
        run()
        # sentinel advances the watermark past every real session's
        # timeout; its own (negative-id) session stays open and is
        # filtered from the result
        feed(
            spark.createDataFrame(
                [(-1, 0.0)], "user_id long, value double"
            ).select(
                "user_id",
                F.timestamp_seconds(F.lit(int(hi) + 30 * 60 + 3600)).alias("ts"),
                "value",
            )
        )
        run()
        res = spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        res, "user_id long, n_events long, sum_value double, "
        "session_start_s long, session_end_s long"
    ).select(
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        "session_start_s",
        "session_end_s",
    )


def _avi_sample_sql() -> str:
    """Oracle for the AVI frame-sampling check: the synthetic clip
    geometry is a pure function of doc_id, so the surviving
    (clip_id, frame_idx) set and each emitted BMP's exact byte length
    (54-byte header + 4-byte-aligned BGR rows) are SQL-derivable even
    though the pixel bytes themselves are pinned by the bit-exact codec
    tests instead."""
    return """
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 3 AS w,
             3 + doc_id % 2 AS h,
             3 + doc_id % 7 AS n_frames
      FROM documents WHERE doc_id < 300)
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           CAST(unnest(range(0, CAST((n_frames + 1) // 2 AS BIGINT))) * 2
                AS INT) AS frame_idx,
           54 + ((w * 3 + 3) // 4) * 4 * h AS frame_len
    FROM g
    """


@check("avi_frame_sample", _avi_sample_sql())
def avi_frame_sample(spark, sf):
    """Video-column plumbing as a driver key: synthesize a deterministic
    uncompressed AVI per document (geometry and frame count derived from
    doc_id) in a distributed pandas UDF, demux + sample every 2nd frame
    with the from-scratch RIFF parser (multimodal/binary_ops.sample_frames),
    and emit each kept frame's BMP byte length. The oracle recomputes the
    expected frame set and byte geometry; pixel-level fidelity is pinned
    by tests/test_multimodal.py's bit-exact round-trips."""
    from .multimodal.binary_ops import sample_frames, synthetic_avi_udf

    make_avi = synthetic_avi_udf()
    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", make_avi(F.col("doc_id")))
    )
    return sample_frames(d, every_n=2).select(
        "clip_id", "frame_idx", F.length("frame_bytes").alias("frame_len")
    )


@check(
    "image_resize_stats",
    """
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           true AS ok, 8 AS width, 6 AS height, 3 AS channels,
           round(CAST((doc_id * 37) % 256 AS DOUBLE), 6) AS mean_intensity
    FROM documents WHERE doc_id < 300
    """,
)
def image_resize_stats(spark, sf):
    """Image resize plumbing as a driver key: synthesize constant-fill
    BMPs per document (multimodal/binary_ops.synthetic_bmp_udf — fill
    and dims are pure functions of doc_id), nearest-neighbor resize to
    6×8 (resize_images), then decode the RESIZED bytes back through
    with_image_features. Constant fill makes the resized mean exact, so
    the whole decode→resize→re-encode→decode chain sits on the hash;
    pixel-exactness on non-constant images is pinned by
    tests/test_multimodal.py against a numpy reference."""
    from .multimodal.binary_ops import (
        resize_images,
        synthetic_bmp_udf,
        with_image_features,
    )

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", synthetic_bmp_udf()(F.col("doc_id")))
    )
    r = resize_images(d, 6, 8)
    return with_image_features(r, bytes_col="resized").select(
        "clip_id",
        F.col("image_meta.ok").alias("ok"),
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.channels").alias("channels"),
        F.round("image_meta.mean_intensity", 6).alias("mean_intensity"),
    )


@check(
    "audio_resample_stats",
    """
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           true AS ok,
           CAST(400 + (doc_id % 5) * 80 AS INT) AS n_samples,
           round(1024.0 * power(2, doc_id % 3) / 32768.0, 9) AS rms,
           round((400 + (doc_id % 5) * 80) / 8.0, 6) AS dur_ms_decoded
    FROM documents WHERE doc_id < 300
    """,
)
def audio_resample_stats(spark, sf):
    """Audio resample plumbing on the hash: the synthetic ±A square
    waves (operators/audio.synthetic_pcm_udf, 16 kHz) downsample to
    8 kHz by picking exactly the even samples (t_out = 2k on the linear
    grid), leaving a CONSTANT +A signal — so n_samples, RMS and
    duration of the decode→resample→re-decode chain all have closed
    forms. Interpolation exactness on arbitrary signals is pinned
    against an independent numpy reference in tests/test_audio.py."""
    from .operators.audio import resample_clips, synthetic_pcm_udf, with_audio_stats

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", synthetic_pcm_udf()(F.col("doc_id")))
        .withColumn(
            "codec",
            F.when(F.col("doc_id") % 2 == 0, F.lit("pcm_s16le")).otherwise(
                F.lit("wav-pcm16")
            ),
        )
        .withColumn("sr_hz", F.lit(16000))
    )
    rs = resample_clips(d, 8000).select(
        "clip_id",
        F.col("audio_rs.bytes").alias("bytes"),
        F.lit("pcm_s16le").alias("codec"),
        F.col("audio_rs.sr_hz").alias("sr_hz"),
    )
    return with_audio_stats(rs).select(
        "clip_id",
        F.col("audio.ok").alias("ok"),
        F.col("audio.n_samples").alias("n_samples"),
        F.round("audio.rms", 9).alias("rms"),
        F.round("audio.dur_ms_decoded", 6).alias("dur_ms_decoded"),
    )


def _audio_stats_sql() -> str:
    """Oracle for the audio decode check: the synthetic waveform's RMS
    and duration have exact closed forms (power-of-two amplitude square
    wave — operators/audio.synthetic_pcm_udf), so even the floating
    stats compare exactly after rounding."""
    return """
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           true AS ok,
           CAST(800 + (doc_id % 5) * 160 AS INT) AS n_samples,
           round(1024.0 * power(2, doc_id % 3) / 32768.0, 9) AS rms,
           round((800 + (doc_id % 5) * 160) / 16.0, 6) AS dur_ms_decoded
    FROM documents WHERE doc_id < 300
    """


@check("audio_decode_stats", _audio_stats_sql())
def audio_decode_stats(spark, sf):
    """F19 as a driver key: synthesize deterministic PCM16 payloads per
    document (raw pcm_s16le for even ids, RIFF/WAVE for odd — both
    decode paths), decode with the from-scratch numpy codec
    (operators/audio.decode_stats_udf), and compare sample counts, RMS,
    and decoded duration against their closed forms. Bit-level decode
    fidelity vs stdlib audioop is pinned by tests/test_audio.py."""
    from .operators.audio import synthetic_pcm_udf, with_audio_stats

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", synthetic_pcm_udf()(F.col("doc_id")))
        .withColumn(
            "codec",
            F.when(F.col("doc_id") % 2 == 0, F.lit("pcm_s16le")).otherwise(
                F.lit("wav-pcm16")
            ),
        )
        .withColumn("sr_hz", F.lit(16000))
    )
    return with_audio_stats(d).select(
        "clip_id",
        F.col("audio.ok").alias("ok"),
        F.col("audio.n_samples").alias("n_samples"),
        F.round("audio.rms", 9).alias("rms"),
        F.round("audio.dur_ms_decoded", 6).alias("dur_ms_decoded"),
    )


@check(
    "audio_vad_stats",
    """
    WITH g AS (
      SELECT doc_id,
             doc_id % 4 AS lead,
             10 + doc_id % 7 AS speech,
             doc_id % 3 AS tail
      FROM documents WHERE doc_id < 300)
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           true AS ok,
           CAST(lead + speech + tail AS INT) AS n_frames,
           CAST(speech AS INT) AS n_speech_frames,
           round(CAST(speech AS DOUBLE) / (lead + speech + tail), 6)
             AS speech_ratio,
           round(CAST(lead * 10 AS DOUBLE), 6) AS lead_trim_ms,
           round(CAST((lead + speech) * 10 AS DOUBLE), 6) AS tail_keep_ms
    FROM g
    """,
)
def audio_vad_stats(spark, sf):
    """Energy-based VAD on the hash: synthesize frame-aligned
    silence|speech|silence clips per document
    (operators/audio.synthetic_speech_pcm_udf — segment lengths are pure
    functions of doc_id), run the framing VAD
    (operators/audio.vad_stats_udf), and compare frame counts, speech
    ratio, and the lead/tail trim points against their closed forms.
    Silent frames have EXACTLY zero energy and speech frames sit orders
    of magnitude above the threshold, so the classification is
    knife-edge-free; behaviour on partial frames and undecodable
    payloads is pinned in tests/test_audio.py."""
    from .operators.audio import synthetic_speech_pcm_udf, with_vad_stats

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", synthetic_speech_pcm_udf()(F.col("doc_id")))
        .withColumn("codec", F.lit("pcm_s16le"))
        .withColumn("sr_hz", F.lit(16000))
    )
    return with_vad_stats(d).select(
        "clip_id",
        F.col("vad.ok").alias("ok"),
        F.col("vad.n_frames").alias("n_frames"),
        F.col("vad.n_speech_frames").alias("n_speech_frames"),
        F.round("vad.speech_ratio", 6).alias("speech_ratio"),
        F.round("vad.lead_trim_ms", 6).alias("lead_trim_ms"),
        F.round("vad.tail_keep_ms", 6).alias("tail_keep_ms"),
    )


@check(
    "audio_chunk_stats",
    """
    WITH g AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n,
             1024.0 * power(2, doc_id % 3) AS amp
      FROM documents WHERE doc_id < 300),
    c AS (
      SELECT doc_id, n, amp,
             unnest(range(0, CAST(floor((n + 319) / 320) AS INT))) AS chunk_idx
      FROM g)
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           round(CAST(chunk_idx * 20 AS DOUBLE), 6) AS start_ms,
           CAST(least(320, n - 320 * chunk_idx) AS INT) AS n_samples,
           round(amp / 32768.0, 9) AS rms
    FROM c
    """,
)
def audio_chunk_stats(spark, sf):
    """Fixed-window chunking (training-data segmentation) on the hash:
    the synthetic square waves (operators/audio.synthetic_pcm_udf) split
    into 20 ms windows via operators/audio.chunk_clips — chunk count,
    start offsets, last-partial length, and per-chunk RMS (constant
    |amplitude| ⇒ exact power-of-two closed form) are all SQL-derivable
    from doc_id. The re-encoded chunk BYTES round-trip bit-exactly in
    tests/test_audio.py; both decode paths (raw/WAV) are exercised."""
    from .operators.audio import chunk_clips, synthetic_pcm_udf

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", synthetic_pcm_udf()(F.col("doc_id")))
        .withColumn(
            "codec",
            F.when(F.col("doc_id") % 2 == 0, F.lit("pcm_s16le")).otherwise(
                F.lit("wav-pcm16")
            ),
        )
        .withColumn("sr_hz", F.lit(16000))
    )
    return chunk_clips(d, 20).select(
        "clip_id",
        "chunk_idx",
        F.round("start_ms", 6).alias("start_ms"),
        "n_samples",
        F.round("rms", 9).alias("rms"),
    )


@check(
    "audio_normalize_stats",
    """
    WITH g AS (
      SELECT doc_id,
             CAST(800 + (doc_id % 5) * 160 AS INT) AS n,
             1024.0 * power(2, doc_id % 3) / 32768.0 AS a
      FROM documents WHERE doc_id < 300)
    SELECT CAST(doc_id AS VARCHAR) AS clip_id,
           round(least(0.1 / a, 0.99 / a), 6) AS gain,
           round(a, 9) AS rms_before,
           round(a * least(0.1 / a, 0.99 / a), 9) AS rms_after,
           CAST(0 AS INT) AS clipped,
           n AS n_out
    FROM g
    """,
)
def audio_normalize_stats(spark, sf):
    """M8 — loudness normalization (operators/audio.normalize_clips) on
    the hash: the synthetic ±A square waves have rms = peak = A/32768
    with A a power of two, so gain = min(target/rms, ceiling/peak) and
    rms_after = rms·gain are EXACT closed forms — a·(0.1/a) is the
    double 0.1 bit-for-bit in both engines because a is a power of two
    (scaling by 2^k never rounds), and the capped gain can't clip
    (clipped = 0 by construction). n_out pins that the payload was
    re-encoded at full length. The peak mode, the cap actually binding,
    and silence/garbage passthrough are pytest-pinned in
    tests/test_audio.py."""
    from .operators.audio import normalize_clips, synthetic_pcm_udf

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").cast("string").alias("clip_id"), "doc_id")
        .withColumn("bytes", synthetic_pcm_udf()(F.col("doc_id")))
        .withColumn(
            "codec",
            F.when(F.col("doc_id") % 2 == 0, F.lit("pcm_s16le")).otherwise(
                F.lit("wav-pcm16")
            ),
        )
        .withColumn("sr_hz", F.lit(16000))
    )
    n = normalize_clips(d, target_rms=0.1)
    return n.select(
        "clip_id",
        F.round("audio_norm.gain", 6).alias("gain"),
        F.round("audio_norm.rms_before", 9).alias("rms_before"),
        F.round("audio_norm.rms_after", 9).alias("rms_after"),
        F.col("audio_norm.clipped").alias("clipped"),
        (F.length("audio_norm.bytes") / 2).cast("int").alias("n_out"),
    )


@check(
    "str_hashtag_segment",
    f"""
    SELECT doc_id, segmented
    FROM read_parquet('{_HASHTAG_FIXTURE}')
    WHERE corpus_sig = (SELECT sum(doc_id * n_chars) FROM documents)
    """,
)
def str_hashtag_segment(spark, sf):
    """F5 — hashtag segmentation: synthesize a #CamelCase + #concatenated
    hashtag per document, segment both via the greedy longest-match
    dictionary UDF. Full oracle via the pinned side table
    (tools/build_pinned_oracles.py) — the greedy dictionary walk isn't
    SQL, so the fixture pins the engine's segmentation (deterministic
    given the vocab artifact); semantics are independently pinned by the
    goldens in tests/test_text_ops.py, drift guard alongside."""
    from .operators.hashtag import segment_hashtags, synth_hashtags_col

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", segment_hashtags(synth_hashtags_col()).alias("segmented")
    )


@check(
    "grouped_zscore",
    """
    SELECT event_id,
           round(CASE WHEN stddev_samp(value) OVER w IS NULL
                       OR stddev_samp(value) OVER w = 0 THEN 0.0
                 ELSE (value - avg(value) OVER w) / stddev_samp(value) OVER w
                 END, 6) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def grouped_zscore_check(spark, sf):
    """X1 — applyInPandas grouped-map, cross-checked against the SQL
    window formulation of the same standardization."""
    from .operators.grouped import grouped_zscore

    e = _t(spark, sf, "events").select("event_id", "user_id", "value")
    return grouped_zscore(e, "user_id", "value").select(
        "event_id", F.round("zscore", 6).alias("zscore")
    )


@check(
    "str_demojize",
    # oracle: replace() chain over the same pinned table subset used in
    # the synthesized input — engine runs the full translate-map UDF
    """
    SELECT doc_id,
           replace(replace('fire ' || chr(128293) || ' and joy ' || chr(128514)
                           || ' ' || text,
                   chr(128293), ':fire:'),
                   chr(128514), ':face_with_tears_of_joy:') AS demojized
    FROM documents
    """,
)
def str_demojize(spark, sf):
    from .operators.emoji import demojize_udf

    d = _t(spark, sf, "documents")
    synth = F.concat(
        F.lit("fire \U0001F525 and joy \U0001F602 "), F.col("text")
    )
    return d.select("doc_id", demojize_udf(synth).alias("demojized"))


@check(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))
                    * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE)
             AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape — the canonical scan→filter→wide-agg: one pushed
    shipdate predicate, partial+final hash aggregation over two
    low-cardinality keys, eight aggregates in one pass. Money sums
    accumulate in DECIMAL (order-independent), averages round to 6."""
    li = _t(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@check(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf):
    """TPC-H Q5 shape: the 6-table star-join cascade. Dimension chain
    region→nation→supplier broadcasts (pruned BEFORE the fact joins so
    the ASIA filter cuts the build side, not the probe); fact side
    lineitem⋈orders shuffles on orderkey; the customer join carries the
    c_nationkey = s_nationkey same-nation condition. Decimal accumulation
    for engine-independent sums."""
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf, "customer")
    li = _t(spark, sf, "lineitem")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(cust),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (1 - F.col("l_discount").cast("decimal(8,4)"))
        )
        .cast("double")
        .alias("revenue")
    )


@check(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(l_discount AS DOUBLE) BETWEEN CAST(0.049 AS DOUBLE)
                                         AND CAST(0.071 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark, sf):
    """TPC-H Q6 shape: pure filter→agg, every predicate pushed to the
    parquet scan (float discount compared in DOUBLE on both engines so
    the BETWEEN boundaries can't flip cross-engine)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").cast("double").between(0.049, 0.071)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(8,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@check(
    "agg_pivot_confusion",
    f"""
    SELECT gold,
           count(*) FILTER (WHERE pred = 'en') AS pred_en,
           count(*) FILTER (WHERE pred = 'other') AS pred_other
    FROM (SELECT {_GOLD_SQL} AS gold, {_PRED_SQL} AS pred FROM documents)
    GROUP BY gold
    """,
)
def agg_pivot_confusion(spark, sf):
    """A4 pivot form: confusion matrix as wide columns."""
    return (
        _gold_pred(spark, sf)
        .groupBy("gold")
        .pivot("pred", ["en", "other"])
        .count()
        .fillna(0)
        .select(
            "gold",
            F.col("en").alias("pred_en"),
            F.col("other").alias("pred_other"),
        )
    )


@check(
    "agg_cube",
    "SELECT lang, source, count(*) AS n FROM documents GROUP BY CUBE (lang, source)",
)
def agg_cube(spark, sf):
    return _t(spark, sf, "documents").cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )


@check(
    "explode_posexplode",
    """
    SELECT doc_id, pos, token
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token,
                 CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos
          FROM documents WHERE n_chars < 150)
    WHERE token <> ''
    """,
)
def explode_posexplode(spark, sf):
    """X3 UDTF surface: positional explode of token arrays."""
    d = _t(spark, sf, "documents").filter(F.col("n_chars") < 150)
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .filter(F.col("token") != "")
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "token")
    )


@check(
    "join_asof",
    """
    SELECT event_id,
           CAST(floor(epoch(last_purchase_ts)) AS BIGINT) AS last_purchase_s
    FROM (
      SELECT event_id, event_type,
             max(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_purchase_ts
      FROM events)
    WHERE event_type = 'click'
    """,
)
def join_asof(spark, sf):
    """J5 — as-of semantics (latest prior 'purchase' per user for every
    'click') via the running-last-value window formulation: no join at
    all, one shuffle on user_id — the scalable as-of pattern."""
    e = _t(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_purchase = F.max(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        e.withColumn("lp", last_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            F.unix_timestamp("lp").alias("last_purchase_s"),
        )
    )


@check(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf):
    """Exact interpolated percentiles (approx sketches differ per engine,
    so the check uses the exact form; the 100 TB path is
    approx_percentile, same API shape)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
    )


@check("ann_ivf_topk")  # rows-only: IVF probing is recall<1 by design
def ann_ivf_topk(spark, sf):
    """IVF ANN — coarse-quantizer lists probed before exact ranking (the
    scale path when the table is written clustered by list id)."""
    from .operators.similarity import ivf_topk, train_ivf_centroids

    e = _t(spark, sf, "embeddings")
    cent = train_ivf_centroids(e, "embedding", n_centroids=8, sample_rows=500)
    return ivf_topk(e, "embedding", _QUERY_VEC, cent, k=10, n_probe=3).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )


@check(
    "str_levenshtein",
    """
    SELECT doc_id,
           levenshtein(substr(text, 1, 12), substr(text, 3, 12)) AS dist
    FROM documents
    """,
)
def str_levenshtein(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.levenshtein(F.substring("text", 1, 12), F.expr("substring(text, 3, 12)")).alias(
            "dist"
        ),
    )


# map_from_json retired in r6 (rotation capacity: the audio_normalize_stats
# key replaced it): typed JSON field extraction stays hash-covered by
# json_extract (get_json_object + from_json struct form over the same
# events.props column); F16 keeps a full-oracle row through that key.


# date_parts retired in r6 (rotation capacity: the sample_mixture key
# replaced it): calendar-part extraction stays hash-covered by
# date_trunc_counts (F18's other key) and by every epoch-second cast in
# the window/streaming keys; year/month/dow/hour remain pytest-covered.


@check(
    "array_ops",
    """
    SELECT vec_id,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
           len(list_filter(embedding, x -> x > 0)) AS n_pos
    FROM embeddings
    """,
)
def array_ops(spark, sf):
    e = _t(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        F.round(F.array_max("embedding").cast("double"), 6).alias("vmax"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("vmin"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
    )


@check(
    "win_analytics",
    """
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS prank,
           first_value(c_custkey) OVER w AS top_cust
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_analytics(spark, sf):
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return _t(spark, sf, "customer").select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.first("c_custkey").over(w).alias("top_cust"),
    )


@check(
    "tpch_q3_shipping_priority",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_s
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark, sf):
    """Q3 shape: selective dim filter → 3-way join → agg → top-k.
    Catalyst broadcast-joins the filtered customer side."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(8,4)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("orderdate_s"),
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@check("scan_clips")  # rows-only: the clips store isn't a driver table
def scan_clips(spark, sf):
    """S7 — the Iceberg-shaped clips store surface (write → partition
    listing → pruned scan), demonstrated on a small deterministic table
    regenerated per invocation (a cached /tmp table from a previous —
    possibly different-code — run could mask a writer regression)."""
    import tempfile

    from .sources.clips import list_parts, read_clips, write_clips

    path = tempfile.mkdtemp(prefix="mtold_scan_clips_") + "/clips"
    df = spark.range(200).select(
        F.format_string("clip_%012d", F.col("id")).alias("clip_id"),
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(16000).cast("int").alias("sr_hz"),
        (F.lit(1000) + F.pmod(F.col("id") * 37, F.lit(5000)))
        .cast("int")
        .alias("dur_ms"),
        F.lit("pcm_s16le").alias("codec"),
        F.concat(F.lit("the quiet hill turned gold sample "), F.col("id")).alias(
            "transcript"
        ),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("part_id"),
    )
    write_clips(df, path)
    parts = list_parts(path)
    assert parts == [0, 1, 2, 3]
    return read_clips(spark, path).select(
        "clip_id", "sr_hz", "dur_ms", "codec", "transcript", "part_id"
    )


@check(
    "unpivot_melt",
    # portable long-form oracle (UNION ALL) — semantics of UNPIVOT/melt
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS name,
           round(l_quantity, 6) AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 6)
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', round(l_tax, 6)
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def unpivot_melt(spark, sf):
    """Spark 4 unpivot/melt — wide metric columns to (name, value) long
    form, the inverse of A4's pivot. Narrow op: no shuffle, row count
    × n_cols, scales trivially."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("quantity"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "discount", "tax"],
        "name",
        "value",
    ).select(
        "l_orderkey", "l_linenumber", "name", F.round("value", 6).alias("value")
    )


@check(
    "merge_upsert",
    """
    WITH updates AS (
      SELECT c_custkey, c_name,
             round(c_acctbal + 1000.0, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'new customer', 0.00
      FROM customer WHERE c_custkey % 7 = 0
    ),
    all_rows AS (
      SELECT c_custkey, c_name, c_acctbal, 2 AS _src FROM updates
      UNION ALL
      SELECT c_custkey, c_name, round(c_acctbal, 2), 1 FROM customer
    )
    SELECT c_custkey, c_name, c_acctbal
    FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
                                       ORDER BY _src DESC) AS rn
          FROM all_rows)
    WHERE rn = 1
    """,
)
def merge_upsert(spark, sf):
    """MERGE INTO semantics (update-matched + insert-new, updates win)
    composed from stock operators: tag sources, union, keep-highest-
    priority row per key via a window — the standard upsert pattern for
    engines without a native MERGE (one shuffle on the merge key; at
    Iceberg-table scale the same plan runs partition-pruned)."""
    from .operators import upsert

    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 1000.0, 2).alias("c_acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 7 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("new customer").alias("c_name"),
                F.lit(0.00).alias("c_acctbal"),
            )
        )
    )
    return upsert.merge_upsert(c, updates, ["c_custkey"])


def _cluster_pairs(spark, sf) -> DataFrame:
    """Deterministic near-dup edge list over documents: every en doc is
    paired with a +1e6 mutant; every 3rd also with a +2e6 mutant (star
    components of size 2-3 — multi-hop leaf↔leaf paths included)."""
    en = _t(spark, sf, "documents").filter(F.col("lang") == "en").select("doc_id")
    p1 = en.select(
        F.col("doc_id").alias("k1"), (F.col("doc_id") + 1000000).alias("k2")
    )
    p2 = (
        en.filter(F.col("doc_id") % 3 == 0)
        .select(F.col("doc_id").alias("k1"), (F.col("doc_id") + 2000000).alias("k2"))
    )
    return p1.unionByName(p2)


@check(
    "graph_connected_components",
    """
    WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en')
    SELECT doc_id AS node, doc_id AS comp FROM en
    UNION ALL SELECT doc_id + 1000000, doc_id FROM en
    UNION ALL SELECT doc_id + 2000000, doc_id FROM en WHERE doc_id % 3 = 0
    """,
)
def graph_connected_components(spark, sf):
    """Connected components by iterative min-label propagation — the
    transitive-closure step between near-dup PAIR generation and
    cluster-level dedup. On the star graph here the oracle closure is
    enumerable without recursion; multi-hop chains are pinned by
    tests/test_cluster.py."""
    from .operators.cluster import connected_components

    return connected_components(_cluster_pairs(spark, sf))


@check(
    "dedup_cluster_keep_best",
    # the mutants always lose (strictly lower quality), isolated non-en
    # docs pass through — cluster dedup must recover EXACTLY the originals
    "SELECT doc_id, n_chars AS quality FROM documents",
)
def dedup_cluster_keep_best(spark, sf):
    """End-to-end cluster dedup: corpus ∪ two generations of mutants,
    near-dup edges as in graph_connected_components, keep the best-
    quality representative per component."""
    from .operators.cluster import keep_best_per_cluster

    d = _t(spark, sf, "documents").select("doc_id", F.col("n_chars").alias("quality"))
    en = d.join(
        _t(spark, sf, "documents").filter(F.col("lang") == "en").select("doc_id"),
        "doc_id",
    )
    mut1 = en.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        (F.col("quality") - 8).alias("quality"),
    )
    mut2 = en.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        (F.col("quality") - 16).alias("quality"),
    )
    corpus = d.unionByName(mut1).unionByName(mut2)
    return keep_best_per_cluster(
        corpus, _cluster_pairs(spark, sf), "doc_id", "quality"
    )


@check(
    "join_full_outer",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_custkey % 5 = 0) c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_custkey % 3 = 0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark, sf):
    """J3 completion — full outer keeps unmatched rows of BOTH sides
    (sort-merge at scale; null-padded minority sides)."""
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") % 5 == 0)
    o = _t(spark, sf, "orders").filter(F.col("o_custkey") % 3 == 0)
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@check(
    "null_handling",
    """
    SELECT doc_id,
           coalesce(NULLIF(lang, 'en'), 'OTHER') AS lang_other,
           CASE WHEN n_chars % 7 = 0 THEN NULL ELSE n_chars END AS gappy,
           coalesce(CASE WHEN n_chars % 7 = 0 THEN NULL ELSE n_chars END, -1)
             AS filled,
           (CASE WHEN n_chars % 7 = 0 THEN NULL ELSE n_chars END) IS NULL
             AS was_null
    FROM documents
    """,
)
def null_handling(spark, sf):
    """Engine null surface: nullif / coalesce / isNull as native exprs
    (na.fill and na.drop compile to exactly these)."""
    d = _t(spark, sf, "documents")
    gappy = F.when(F.col("n_chars") % 7 == 0, F.lit(None)).otherwise(F.col("n_chars"))
    return d.select(
        "doc_id",
        F.coalesce(F.nullif(F.col("lang"), F.lit("en")), F.lit("OTHER")).alias(
            "lang_other"
        ),
        gappy.alias("gappy"),
        F.coalesce(gappy, F.lit(-1)).alias("filled"),
        gappy.isNull().alias("was_null"),
    )


# =========================================================================
# registration order
# =========================================================================
# The driver samples correctness keys in REGISTRATION order (it checks
# exactly the first DRIVER_WINDOW keys), so registration order is a
# correctness-coverage lever. Rounds 1-2 hand-maintained a priority
# tuple; it is now GENERATED from the recorded CORRECTNESS_r*.json
# history: keys that have never had a driver row go first, then
# oldest-verified-first, ties broken by original registration order.
# With W=50 and ~79 keys this guarantees every key gets a fresh driver
# row at least every other round (enforced by tests/test_rotation.py).

#: how many keys the driver's correctness gate samples per round
DRIVER_WINDOW = 50


def correctness_history(repo_root: str | None = None) -> dict[str, int]:
    """key → latest round number with a recorded driver correctness row,
    from the driver-written CORRECTNESS_r{N}.json files at the repo root.
    Keys absent from every file map to nothing (treated as round -1)."""
    import glob as _glob
    import json as _json
    import re as _re

    root = repo_root or _REPO_ROOT
    last: dict[str, int] = {}
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = _json.load(f)
        except (OSError, ValueError):  # pragma: no cover - defensive
            continue
        if not isinstance(data, dict):  # pragma: no cover - defensive
            continue
        for k in data:
            last[k] = max(last.get(k, -1), rnd)
    return last


def correctness_red(repo_root: str | None = None) -> set[str]:
    """Keys whose MOST RECENT driver row is red: any explicit False in
    rows/schema/hash match, or an error other than the by-design
    ``no_oracle`` marker of rows-only keys. A red key must re-run in
    the very next round — one-round latency on a red cell is the
    difference between 'fixed' and 'claimed fixed' (r5 verdict)."""
    import glob as _glob
    import json as _json
    import re as _re

    root = repo_root or _REPO_ROOT
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(_glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = _json.load(f)
        except (OSError, ValueError):  # pragma: no cover - defensive
            continue
        if not isinstance(data, dict):  # pragma: no cover - defensive
            continue
        for k, row in data.items():
            if isinstance(row, dict) and (
                k not in latest or rnd >= latest[k][0]
            ):
                latest[k] = (rnd, row)

    def _is_red(row: dict) -> bool:
        if any(
            row.get(f) is False for f in ("rows_match", "schema_match", "hash_match")
        ):
            return True
        return row.get("err") not in (None, "no_oracle")

    return {k for k, (_, row) in latest.items() if _is_red(row)}


def oracle_fingerprint(sql: str) -> str:
    """Whitespace-insensitive fingerprint of an oracle SQL string, used
    to detect 'the oracle changed after its last driver row' — such a
    key needs driver re-confirmation just like a stale one. The checkout
    path is replaced by a fixed token first: oracles that read a pinned
    fixture embed its absolute path, and a copy of the repo at another
    path must hash the same."""
    import hashlib as _hashlib

    sql = sql.replace(_REPO_ROOT, "<repo>")
    return _hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()[:16]


_FPRINT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_fingerprints.json")


def oracle_changed_keys(
    oracles: dict[str, str] | None = None, path: str | None = None
) -> set[str]:
    """Keys whose CURRENT oracle SQL no longer matches the fingerprint
    recorded at their last green driver row (tools/record_oracle_fingerprints.py
    maintains the committed store). Keys with no recorded fingerprint are
    treated as unchanged — never-verified keys are fast-tracked by their
    own rule, and the bootstrap run records everything else."""
    import json as _json

    if oracles is None:
        oracles = ORACLES
    p = path or _FPRINT_PATH
    try:
        with open(p) as f:
            recorded = _json.load(f)
    except (OSError, ValueError):
        return set()
    return {
        k
        for k, sql in oracles.items()
        if k in recorded and recorded[k].get("fp") != oracle_fingerprint(sql)
    }


def rotation_order(
    registered: list[str],
    last: dict[str, int] | None = None,
    red: set[str] | None = None,
    changed: set[str] | None = None,
) -> list[str]:
    """Registration order for the driver window, most-urgent first:

    1. RED keys (latest driver row failed) — a red cell may never wait
       out a round;
    2. never-verified keys (new operators always land inside the window);
    3. keys whose oracle SQL changed since their last driver row
       (the fingerprint store says the last green row no longer vouches
       for the current oracle);
    4. everything else ascending by last-verified round (stalest first).

    sorted() is stable, so equal-urgency keys keep their decorator
    order — the rotation is deterministic given the same history files.
    When ``last`` is passed explicitly (unit tests), red/changed default
    to empty instead of being read from disk."""
    if last is None:
        last = correctness_history()
        if red is None:
            red = correctness_red()
        if changed is None:
            changed = oracle_changed_keys()
    red = red or set()
    changed = changed or set()
    idx = {k: i for i, k in enumerate(registered)}
    return sorted(
        registered,
        key=lambda k: (
            0 if k in red else 1,
            0 if last.get(k, -1) < 0 else 1,
            0 if k in changed else 1,
            last.get(k, -1),
            idx[k],
        ),
    )


_ORDER = rotation_order(list(QUERIES))
QUERIES = {k: QUERIES[k] for k in _ORDER}
ORACLES = {k: ORACLES[k] for k in QUERIES if k in ORACLES}
