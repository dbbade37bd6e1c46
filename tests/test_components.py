"""Connected components + cluster-level near-dedup.

Oracle: a driver-side union-find over the same pair list — the ground
truth for transitive closure on small graphs.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from ekuiper_spark.datapipe.components import (
    connected_components,
    dup_clusters,
    near_dedup,
)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    return {x: find(x) for x in list(parent)}


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_cc_chain_and_islands(spark):
    # chain 1-2-3-4, pair 10-11, singleton edge 20-21, reversed order input
    pairs = [(2, 1), (3, 2), (4, 3), (11, 10), (20, 21)]
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = _labels(connected_components(pdf))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(20, 70))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        want = _union_find(edges)
        pdf = spark.createDataFrame(edges, "id_a long, id_b long")
        got = _labels(connected_components(pdf))
        assert got == want, f"trial {trial}"


def test_cc_string_ids(spark):
    pdf = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string"
    )
    got = _labels(connected_components(pdf))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_empty(spark):
    pdf = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pdf).count() == 0


def test_dup_clusters_membership(spark):
    pdf = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    rows = {r["component"]: r for r in dup_clusters(pdf).collect()}
    assert rows[1]["ids"] == [1, 2, 3] and rows[1]["n"] == 3
    assert rows[7]["ids"] == [7, 8] and rows[7]["n"] == 2


def test_near_dedup_end_to_end(spark, catalog):
    """Corpus near-dedup with the exact-jaccard detector: kept set =
    corpus minus non-representative members of each transitive cluster."""
    from ekuiper_spark.datapipe.dedup import jaccard_pairs

    d = catalog.load(spark, "documents")
    pairs = jaccard_pairs(d, threshold=0.8)
    plist = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    labels = _union_find(plist)
    expect_drop = {x for x, c in labels.items() if x != c}

    kept = near_dedup(d, pairs=pairs)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert kept_ids == all_ids - expect_drop
    # representatives (cluster min) all survive
    assert {c for c in labels.values()} <= kept_ids


def test_near_dedup_default_detector_runs(spark, catalog):
    d = catalog.load(spark, "documents").limit(200)
    kept = near_dedup(d)
    assert 0 < kept.count() <= 200


_DUCK_CLUSTER_ORACLE = r"""
WITH RECURSIVE n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
           '[.,;:!?''"()\[\]{}<>-]', '', 'g'), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), s AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i:i+2], ' ')
                        for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS shingles
  FROM n
), e AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM s
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
         any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT id_a, id_b FROM p WHERE shared / (n_a + n_b - shared) >= 0.8
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
), cc AS (
  SELECT id, min(r) AS component FROM reach GROUP BY id
)
SELECT component, count(*) AS n, list_sort(list(id)) AS ids
FROM cc GROUP BY component ORDER BY component
"""


def test_dup_clusters_vs_duckdb_recursive_oracle(spark, catalog):
    """Cross-engine value check: Spark star-contraction clusters over the
    exact-jaccard pair graph == DuckDB WITH RECURSIVE transitive closure
    on the same fixture."""
    import duckdb

    from ekuiper_spark.datapipe.dedup import jaccard_pairs

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = {
        r[0]: (r[1], list(r[2]))
        for r in con.execute(_DUCK_CLUSTER_ORACLE).fetchall()
    }

    d = catalog.load(spark, "documents")
    got = {
        r["component"]: (r["n"], list(r["ids"]))
        for r in dup_clusters(jaccard_pairs(d, threshold=0.8)).collect()
    }
    assert got == want


def test_cc_releases_superseded_round_checkpoints(spark):
    """Each round localCheckpoint()s its edges; only the final round's
    checkpoint (which the lazy result reads) may outlive the call."""
    jsc = spark.sparkContext._jsc.sc()
    # a 40-node path needs several star rounds to converge
    pdf = spark.createDataFrame([(i, i + 1) for i in range(39)], "id_a long, id_b long")
    before = jsc.getPersistentRDDs().size()
    got = _labels(connected_components(pdf))
    assert got == {i: 0 for i in range(40)}
    assert jsc.getPersistentRDDs().size() <= before + 1
