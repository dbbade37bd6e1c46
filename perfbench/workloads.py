"""Workload definitions owned by the benchmark.

The query list, SQL text, datapipe call parameters and rule set live
here and nowhere else, so a change to the repository's own bench scripts
or driver entry module cannot change what this benchmark runs.  Each batch query is a callable ``(spark, catalog) -> DataFrame``
that goes through the package's public surface: ``compile_sql`` for the
dialect queries and the ``ekuiper_spark.datapipe`` functions for the
``dp_*`` ones.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ORD = ["ts", "event_id"]

# name -> (ekuiper SQL, compile_sql keyword arguments)
DIALECT: dict[str, tuple[str, dict]] = {
    "q_filter_project": (
        "SELECT event_id, event_type, value FROM events WHERE value > 100", {}),
    "q_groupby_agg_having": (
        "SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_v, "
        "floor(round(sum(value), 4) / count(*) * 10000 + 0.5) / 10000 AS avg_v, "
        "min(value) AS min_v, max(value) AS max_v "
        "FROM events GROUP BY user_id HAVING count(*) > 5", {}),
    "q_tpch_q1_like": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, "
        "round(sum(l_extendedprice), 4) AS sum_base, "
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc, "
        "round(avg(l_quantity), 4) AS avg_qty, count(*) AS n "
        "FROM lineitem WHERE l_shipdate <= cast('1998-09-02', 'datetime') "
        "GROUP BY l_returnflag, l_linestatus", {}),
    "q_tumbling_window_filter": (
        "SELECT window_start() AS w_start, count(*) AS n, "
        "round(sum(value), 4) AS sum_v FROM events "
        "GROUP BY TUMBLINGWINDOW(hh, 1) FILTER(WHERE event_type = 'error')", {}),
    "q_hopping_window": (
        "SELECT window_start() AS w_start, count(*) AS n, "
        "floor(avg(value) * 100 + 0.5) / 100 AS avg_v FROM events "
        "GROUP BY HOPPINGWINDOW(mi, 60, 30)", {}),
    "q_session_window": (
        "SELECT user_id, window_start() AS s_start, window_end() AS s_end, "
        "count(*) AS n, round(sum(value), 4) AS sum_v FROM events "
        "GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)", {}),
    "q_sliding_window": (
        "SELECT event_id, sum(floor(value * 100 + 0.5)) / count(*) / 100 AS avg_1h, "
        "count(*) AS n_1h FROM events GROUP BY SLIDINGWINDOW(hh, 1)",
        {"order_cols": _ORD}),
    "q_count_window": (
        "SELECT count(*) AS n, round(sum(value), 4) AS sum_v, "
        "min(ts) AS first_ts, max(ts) AS last_ts "
        "FROM events GROUP BY COUNTWINDOW(100)", {"order_cols": _ORD}),
    "q_join_multi": (
        "SELECT r.r_name, n.n_name, count(*) AS n_cust, "
        "round(sum(c.c_acctbal), 4) AS sum_bal FROM customer c "
        "INNER JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "INNER JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY r.r_name, n.n_name", {}),
    "q_tpch_q5_like": (
        "SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) "
        "AS revenue FROM customer c "
        "INNER JOIN orders o ON c.c_custkey = o.o_custkey "
        "INNER JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "INNER JOIN supplier s ON l.l_suppkey = s.s_suppkey "
        "INNER JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "INNER JOIN region r ON n.n_regionkey = r.r_regionkey "
        "WHERE r.r_name = 'ASIA' GROUP BY n.n_name", {}),
    "q_state_window": (
        "SELECT user_id, count(*) AS n, min(ts) AS w_open, max(ts) AS w_close "
        "FROM events GROUP BY STATEWINDOW(event_type = 'signup', "
        "event_type = 'purchase', user_id)", {"order_cols": _ORD}),
    "q_sliding_trigger": (
        "SELECT event_id, count(*) AS n_1h FROM events "
        "GROUP BY SLIDINGWINDOW(hh, 1) OVER (WHEN event_type = 'error')",
        {"order_cols": _ORD}),
    "q_analytic_lag_latest": (
        "SELECT event_id, value, lag(value) OVER (PARTITION BY user_id) AS prev_v, "
        "latest(CASE WHEN event_type = 'purchase' THEN value END) "
        "OVER (PARTITION BY user_id) AS last_purchase, "
        "round(acc_sum(value) OVER (PARTITION BY user_id), 4) AS running_sum "
        "FROM events WHERE user_id < 10", {"order_cols": _ORD}),
}


def _dialect(name: str) -> Callable[[SparkSession, object], DataFrame]:
    from ekuiper_spark import compile_sql

    sql, kw = DIALECT[name]
    return lambda spark, cat: compile_sql(spark, sql, cat, **kw)


def _row_number_topk(spark: SparkSession, cat) -> DataFrame:
    from pyspark.sql import Window

    df = cat.load(spark, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


def _docs(spark: SparkSession, cat) -> DataFrame:
    return cat.load(spark, "documents")


def _dedup_exact(spark, cat):
    from ekuiper_spark.datapipe.dedup import exact_dup_groups

    docs = _docs(spark, cat)
    # verbatim copies of the first ten documents make the groups non-empty
    dup = docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 100000)
    return exact_dup_groups(docs.unionByName(dup))


def _dedup_jaccard(spark, cat):
    from ekuiper_spark.datapipe.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, cat), threshold=0.8)


def _dedup_minhash(spark, cat):
    from ekuiper_spark.datapipe.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, cat), num_hashes=48, bands=16, verify_threshold=0.8)


def _text_quality(spark, cat):
    from ekuiper_spark.datapipe.textstats import text_profile

    return text_profile(_docs(spark, cat))


def _sim_topk(spark, cat):
    from ekuiper_spark.datapipe.similarity import cosine_topk

    df = cat.load(spark, "embeddings")
    qv = [float(x) for x in df.filter(F.col("vec_id") == 0).first()["embedding"]]
    return cosine_topk(df.filter(F.col("vec_id") != 0), qv, k=10)


def _decontam(spark, cat):
    from ekuiper_spark.datapipe.decontam import contamination_profile

    docs = _docs(spark, cat).select("doc_id", "text")
    eval_df = docs.orderBy("doc_id").limit(50).select(F.col("doc_id").alias("eval_id"), "text")
    return contamination_profile(docs, eval_df, n=8)


def _paragraph_dedup(spark, cat):
    from ekuiper_spark.datapipe.dedup import drop_duplicate_paragraphs

    return drop_duplicate_paragraphs(_docs(spark, cat).select("doc_id", "text"))


# the 21 headline queries, in pass order
HEADLINE: dict[str, Callable[[SparkSession, object], DataFrame]] = {
    **{n: _dialect(n) for n in [
        "q_filter_project", "q_groupby_agg_having", "q_tpch_q1_like",
        "q_tumbling_window_filter", "q_hopping_window", "q_session_window",
        "q_sliding_window", "q_count_window", "q_join_multi", "q_tpch_q5_like",
        "q_state_window",
    ]},
    "q_row_number_topk": _row_number_topk,
    "dp_dedup_exact": _dedup_exact,
    "dp_dedup_jaccard": _dedup_jaccard,
    "dp_dedup_minhash_lsh": _dedup_minhash,
    "dp_text_quality": _text_quality,
    "dp_sim_topk_bruteforce": _sim_topk,
    "dp_decontam": _decontam,
    "dp_paragraph_dedup": _paragraph_dedup,
    "q_sliding_trigger": _dialect("q_sliding_trigger"),
    "q_analytic_lag_latest": _dialect("q_analytic_lag_latest"),
}

# stream over the generated events table, registered through POST /streams
EVENTS_STREAM_DDL = (
    'CREATE STREAM ev (event_id BIGINT, ts DATETIME, user_id BIGINT, '
    'event_type STRING, value FLOAT, props STRING) '
    'WITH (DATASOURCE="{path}", FORMAT="parquet")'
)

# rule_deploy: id -> (SQL, rule options); every rule writes to a nop sink
DEPLOY_RULES: dict[str, tuple[str, dict]] = {
    "r_filter": ("SELECT event_id, event_type, value FROM ev WHERE value > 150",
                 {"output_mode": "append"}),
    "r_tumbling": ("SELECT event_type, window_start() AS w_start, count(*) AS n, "
                   "round(sum(value), 4) AS sum_v FROM ev "
                   "GROUP BY event_type, TUMBLINGWINDOW(hh, 1)",
                   {"output_mode": "complete"}),
    "r_lag": ("SELECT user_id, event_id, value, "
              "lag(value) OVER (PARTITION BY user_id) AS prev_value FROM ev",
              {"output_mode": "append", "order_cols": _ORD}),
    "r_session": ("SELECT user_id, window_start() AS s_start, count(*) AS n, "
                  "round(sum(value), 4) AS sum_v FROM ev "
                  "GROUP BY user_id, SESSIONWINDOW(mi, 30)",
                  {"output_mode": "complete"}),
    "r_count": ("SELECT count(*) AS n, round(sum(value), 4) AS sum_v, "
                "min(ts) AS first_ts, max(ts) AS last_ts "
                "FROM ev GROUP BY COUNTWINDOW(100)",
                {"output_mode": "append", "order_cols": _ORD}),
    "r_sliding": ("SELECT event_id, count(*) AS n_w, round(sum(value), 4) AS sum_w "
                  "FROM ev GROUP BY SLIDINGWINDOW(hh, 1)",
                  {"output_mode": "append", "order_cols": _ORD}),
    "r_state": ("SELECT user_id, count(*) AS n, min(ts) AS w_open, max(ts) AS w_close "
                "FROM ev GROUP BY STATEWINDOW(event_type = 'signup', "
                "event_type = 'purchase', user_id)",
                {"output_mode": "append", "order_cols": _ORD}),
}

