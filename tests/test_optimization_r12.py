"""Pins for the round-12 optimizations: cache lifecycle, catalog scan-cache
invalidation, the deferred capped-session bounds, and the PySpark
private-attribute dependency."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from ekuiper_spark.catalog import Catalog, StreamDef
from ekuiper_spark.translator import compile_sql


SF = "/root/testdata/sf0.01"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_dedup_release_caches_returns_to_baseline(spark):
    """Compile + execute the three persisting dedup ops twice in one
    session; release_caches() must return the cache registry to baseline
    (VERDICT r11 item 6)."""
    from ekuiper_spark.datapipe import release_caches
    from ekuiper_spark.datapipe.dedup import (
        drop_duplicate_paragraphs,
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    release_caches()
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for _ in range(2):
        jaccard_pairs(docs, threshold=0.8).count()
        minhash_lsh_pairs(docs, num_hashes=16, bands=8, verify_threshold=0.8).count()
        drop_duplicate_paragraphs(docs).count()
    assert _n_persistent(spark) > 0
    # blocking=True: waits for block removal, so the baseline check is
    # deterministic (the non-blocking default flaked once under heavy
    # host load — one RDD still listed after a 5 s poll)
    assert release_caches(blocking=True) > 0
    for _ in range(100):
        if _n_persistent(spark) == 0:
            break
        time.sleep(0.1)
    assert _n_persistent(spark) == 0
    # idempotent on an empty registry
    assert release_caches() == 0


def test_scan_cache_invalidated_on_reregister(spark, tmp_path):
    """register() of a def over a changed path must drop the cached scan
    plan — appended/rewritten files become visible (ADVICE r11, medium)."""
    p = str(tmp_path / "t.parquet")
    spark.range(0, 5).select(F.col("id").alias("v")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    cat = Catalog()
    cat.register(StreamDef(name="t", path=p, kind="scan"))
    assert cat.load(spark, "t").count() == 5
    # rewrite the table in place: the old cached InMemoryFileIndex pins
    # the deleted files; re-register must invalidate it
    spark.range(0, 9).select(F.col("id").alias("v")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    cat.register(StreamDef(name="t", path=p, kind="scan"))
    assert cat.load(spark, "t").count() == 9
    # explicit full clear also works
    cat.clear_scan_cache()
    assert cat.load(spark, "t").count() == 9


def test_scan_cache_unregister_invalidates(spark, tmp_path):
    p = str(tmp_path / "u.parquet")
    spark.range(0, 3).select(F.col("id").alias("v")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    cat = Catalog()
    cat.register(StreamDef(name="u", path=p, kind="scan"))
    cat.load(spark, "u").count()
    cat.unregister("u")
    spark.range(0, 7).select(F.col("id").alias("v")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    cat.register(StreamDef(name="u", path=p, kind="scan"))
    assert cat.load(spark, "u").count() == 7


def test_capped_session_agg_plan_has_no_end_bound_window(spark, catalog):
    """Aggregated capped SESSIONWINDOW derives its bounds from min/max
    aggregates: one Sort, no whole-group max Window, and fewer Window
    passes than the pre-r12 shape (10 Window + 2 Sort)."""
    df = compile_sql(
        spark,
        "SELECT user_id, window_start() AS ws, window_end() AS we, "
        "count(*) AS n FROM events GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)",
        catalog,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_window = plan.count("Window [")
    n_sort = plan.count("Sort [")
    assert 0 < n_window <= 6, f"expected <=6 Window passes, got {n_window}:\n{plan}"
    assert n_sort == 1, f"expected a single Sort, got {n_sort}:\n{plan}"


def test_capped_session_agg_values_unchanged(spark, catalog):
    """The deferred-bounds construction is value-identical to the window
    struct built pre-agg (oracle replica of the q_session_window shape is
    the full gate; this pins a handful of concrete sessions)."""
    df = compile_sql(
        spark,
        "SELECT user_id, window_start() AS s_start, window_end() AS s_end, "
        "count(*) AS n, round(sum(value), 4) AS sum_v FROM events "
        "GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)",
        catalog,
    )
    rows = df.filter(F.col("user_id") == 1).orderBy("s_start").collect()
    assert rows, "expected sessions for user 1"
    for r in rows:
        assert r["s_start"] < r["s_end"]
        assert r["n"] >= 1
    # sessions of one key never overlap
    for a, b in zip(rows, rows[1:]):
        assert a["s_start"] < b["s_start"]


def test_session_agg_arg_window_meta_falls_back(spark, catalog):
    """An aggregate ARGUMENT reading the window struct (min(window_end()))
    needs the pre-agg struct — the deferred path must stand down."""
    df = compile_sql(
        spark,
        "SELECT user_id, min(window_end()) AS first_end, count(*) AS n "
        "FROM events GROUP BY user_id, SESSIONWINDOW(mi, 120, 30)",
        catalog,
    )
    rows = df.limit(5).collect()
    assert rows and all(r["first_end"] is not None for r in rows)
    # the same holds for an aggregate argument in ORDER BY
    df = compile_sql(
        spark,
        "SELECT user_id, window_start() AS ws, count(*) AS n FROM events "
        "GROUP BY user_id, SESSIONWINDOW(mi, 120, 30) "
        "ORDER BY min(window_start()), user_id",
        catalog,
    )
    rows = df.collect()
    assert rows
    assert [(r["ws"], r["user_id"]) for r in rows] == sorted(
        (r["ws"], r["user_id"]) for r in rows
    )


def test_pyspark_debugging_cache_attr_exists():
    """session._disable_dataframe_debugging pokes a PRIVATE PySpark
    attribute; a PySpark upgrade that renames it must fail loudly here
    instead of silently regressing compile time (ADVICE r11)."""
    import pyspark.errors.utils as peu

    assert hasattr(peu, "_enable_debugging_cache"), (
        "pyspark.errors.utils._enable_debugging_cache is gone — update "
        "ekuiper_spark.session._disable_dataframe_debugging for this "
        "PySpark version (the conf-at-build path still applies)"
    )
