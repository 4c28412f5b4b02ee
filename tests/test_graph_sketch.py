"""Ground-truth tests for the round-5 additions beyond the oracle mirror:

- pagerank: closed-form ranks on constructed graphs (the DuckDB oracle
  only proves both engines run the same recurrence; these prove the
  recurrence is PageRank), mass conservation, and dangling handling.
- hh01: batching-invariance — the candidate pass sees different Arrow
  batch splits depending on partitioning, and the final output must not
  (the superset-then-exact-recount contract), plus equality with the
  direct full groupBy.
- dq02: injected quasi-identifier groups below/above k.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from api_etl_pipeline_spark.ops.advanced import HH_K, hh01_heavy_hitter_tokens
from api_etl_pipeline_spark.ops.graph import pagerank
from api_etl_pipeline_spark.ops.quality import K_ANON, dq02_k_anonymity
from tests.conftest import SF_DIR


def _ranks(df) -> dict:
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_two_node_cycle_is_uniform(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    ranks = _ranks(pagerank(edges))
    # symmetric graph: uniform is the exact fixpoint from the uniform init
    assert ranks["a"] == pytest.approx(0.5, abs=1e-12)
    assert ranks["b"] == pytest.approx(0.5, abs=1e-12)


def test_pagerank_star_closed_form(spark):
    # a->c, b->c; c dangling. With uniform dangling redistribution the
    # hand-iterated 5-round values are checked exactly below.
    edges = spark.createDataFrame(
        [("a", "c", 1.0), ("b", "c", 1.0)], "src string, dst string, w double"
    )
    d, n = 0.85, 3
    r = {v: 1 / n for v in "abc"}
    for _ in range(5):
        dang = r["c"]
        r = {
            "a": (1 - d) / n + d * (dang / n),
            "b": (1 - d) / n + d * (dang / n),
            "c": (1 - d) / n + d * (r["a"] + r["b"] + dang / n),
        }
    got = _ranks(pagerank(edges))
    for v in "abc":
        assert got[v] == pytest.approx(r[v], abs=1e-12), v


def test_pagerank_conserves_mass(spark):
    edges = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0), ("a", "c", 1.0)],
        "src string, dst string, w double",
    )
    total = pagerank(edges).agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)


def test_hh01_invariant_to_batching(spark):
    base = hh01_heavy_hitter_tokens(spark, SF_DIR)
    got = {(r["token"], r["cnt"]) for r in base.collect()}
    assert got, "heavy-hitter set empty at test SF — threshold miscalibrated"

    # direct exact computation (single groupBy, no sketch)
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    n = toks.count()
    exact = {
        (r["token"], r["cnt"])
        for r in toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * HH_K > F.lit(n))
        .collect()
    }
    assert got == exact


def test_dq02_flags_only_small_groups(spark, tmp_path):
    rows = [
        # 6 identical quasi-tuples -> k-anonymous at k=5, must NOT appear
        *[(i, f"c{i}", 1, 1500.0, "AUTO") for i in range(6)],
        # 2 identical quasi-tuples -> violating group of size 2
        (10, "x", 2, 2500.0, "BUILDING"),
        (11, "y", 2, 2600.0, "BUILDING"),
        # singleton -> violating group of size 1
        (12, "z", 3, -100.0, "MACHINERY"),
    ]
    schema = (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "customer.parquet"))
    out = {
        (r["c_nationkey"], r["c_mktsegment"], r["acctbal_band"]): r["group_size"]
        for r in dq02_k_anonymity(spark, str(tmp_path)).collect()
    }
    assert out == {(2, "BUILDING", 2): 2, (3, "MACHINERY", -1): 1}
    assert all(v < K_ANON for v in out.values())


def test_bfs_chain_with_branch_and_unreachable(spark):
    from api_etl_pipeline_spark.ops.graph import bfs_distances

    # a -> b -> c, a -> d; e -> a (e unreachable FROM a); f isolated edge g->f
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d"), ("e", "a"), ("g", "f")],
        "src string, dst string",
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 1}


def test_bfs_cycle_terminates_with_min_dist(spark):
    from api_etl_pipeline_spark.ops.graph import bfs_distances

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")],
        "src string, dst string",
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, "a").collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_respects_hop_cap(spark):
    from api_etl_pipeline_spark.ops.graph import bfs_distances

    chain = [(f"n{i}", f"n{i+1}") for i in range(12)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    got = bfs_distances(edges, "n0", max_hops=3)
    assert got.agg(F.max("dist")).first()[0] == 3
    assert got.count() == 4


def test_triangle_stats_k4_and_path(spark):
    from api_etl_pipeline_spark.ops.graph import triangle_stats

    # K4: 4 nodes, 6 edges, C(3,2)*4=12 wedges, 4 triangles, clustering 1.0
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    row = triangle_stats(
        spark.createDataFrame(k4, "a bigint, b bigint")
    ).first()
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"], row["n_triangles"]) == (4, 6, 12, 4)
    assert row["global_clustering"] == 1.0

    # path a-b-c: 1 wedge, no triangle
    row = triangle_stats(
        spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    ).first()
    assert (row["n_wedges"], row["n_triangles"], row["global_clustering"]) == (1, 0, 0.0)


def test_triangle_stats_skewed_hub(spark):
    from api_etl_pipeline_spark.ops.graph import triangle_stats

    # hub 0 connected to 1..10, plus one closing edge (1,2):
    # triangles = 1; wedges = C(10,2) + 10 one-wedge spokes... spokes have
    # deg 1 (except 1 and 2 with deg 2) -> wedges = 45 + 1 + 1 = 47
    edges = [(0, i) for i in range(1, 11)] + [(1, 2)]
    row = triangle_stats(
        spark.createDataFrame(edges, "a bigint, b bigint")
    ).first()
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (11, 11, 1)
    assert row["n_wedges"] == 47


def test_weighted_median_boundary_convention(spark, tmp_path):
    from api_etl_pipeline_spark.ops.advanced import x26_weighted_median

    schema = (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string"
    )
    rows = [
        # group A: qty-weighted median of (10x1, 20x2, 30x1) -> 20
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "A", "O"),
        (2, 1, 1, 1, 2.0, 20.0, 0.0, 0.0, "A", "O"),
        (3, 1, 1, 1, 1.0, 30.0, 0.0, 0.0, "A", "O"),
        # group B: exact boundary (10x2, 20x2) -> lower median 10
        (4, 1, 1, 1, 2.0, 10.0, 0.0, 0.0, "B", "O"),
        (5, 1, 1, 1, 2.0, 20.0, 0.0, 0.0, "B", "O"),
    ]
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["l_returnflag"]: r["weighted_median_price"]
        for r in x26_weighted_median(spark, str(tmp_path)).collect()
    }
    assert out == {"A": 20.0, "B": 10.0}


def test_weighted_median_bucket_boundaries_match_oracle(spark, tmp_path):
    """The median-bucket search at its edges, against x26's DuckDB
    oracle: the median is the FIRST price of its bucket (A), and
    2 * cumw == total lands exactly on a bucket's LAST price (B, and C
    with fractional weights whose double sums would miss the tie)."""
    import duckdb

    from api_etl_pipeline_spark.ops import advanced
    from api_etl_pipeline_spark.registry import all_queries

    w = advanced.X26_BUCKET_WIDTH
    schema = (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string"
    )
    weights = {
        # bucket 0 ends at cumw 3 (2*3 < 9); bucket 1 opens at cumw 6
        "A": [(w * 0.25, 2.0), (w * 0.75, 1.0), (w * 1.0, 3.0),
              (w * 1.5, 1.0), (w * 2.25, 2.0)],
        # bucket 0 ends at cumw 3 == total / 2; bucket 1 must not win
        "B": [(w * 0.1, 1.0), (w - 0.01, 2.0), (w * 1.0, 2.0),
              (w * 3.0, 1.0)],
        # 0.1 + 0.2 == 0.3 == 0.6 / 2 only in exact decimal
        "C": [(w - 0.02, 0.1), (w - 0.01, 0.2), (w * 1.0, 0.3)],
    }
    rows = []
    for flag, pws in weights.items():
        for price, qty in pws:
            rows.append((len(rows), 1, 1, 1, qty, price, 0.0, 0.0, flag, "O"))
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        r["l_returnflag"]: r["weighted_median_price"]
        for r in advanced.x26_weighted_median(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{tmp_path}/lineitem.parquet/*.parquet'"
    )
    oracle = dict(con.execute(all_queries()["x26_weighted_median"].oracle).fetchall())
    con.close()
    assert got == oracle == {"A": w * 1.0, "B": w - 0.01, "C": w - 0.01}


def test_bfs_generic_over_bigint_nodes(spark):
    # the dd04-style reuse: node ids are bigints, not strings
    from api_etl_pipeline_spark.ops.graph import bfs_distances

    edges = spark.createDataFrame(
        [(10, 20), (20, 30)], "src bigint, dst bigint"
    )
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, 10).collect()}
    assert got == {10: 0, 20: 1, 30: 2}
