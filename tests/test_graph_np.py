"""Parity pins for the numpy driver route (operators.graph_np): every
routed operator must return BIT-IDENTICAL rows to the distributed
fixpoint on the same graph. The route is toggled via
SPARK_GRAFT_GRAPH_DRIVER_EDGES (0 = distributed, large = routed)."""

import os

import pytest
from pyspark.sql import functions as F

from databridge_etl_tools_spark.operators import graph as G


@pytest.fixture(scope="module")
def spark():
    from databridge_etl_tools_spark.session import get_session

    s = get_session("test-graph-np")
    yield s


def _both(monkeypatch_env, fn):
    """Run fn() with the route disabled and enabled; return both
    sorted row lists."""
    os.environ["SPARK_GRAFT_GRAPH_DRIVER_EDGES"] = "0"
    try:
        dist = sorted(map(tuple, fn().collect()))
    finally:
        os.environ["SPARK_GRAFT_GRAPH_DRIVER_EDGES"] = "100000000"
    try:
        routed = sorted(map(tuple, fn().collect()))
    finally:
        del os.environ["SPARK_GRAFT_GRAPH_DRIVER_EDGES"]
    return dist, routed


def _purchase_edges(spark, weighted=False):
    """The real query graph at sf0.001 (both directions; dangling-free
    bidirectional shape)."""
    sf = "/root/testdata/sf0.001"
    from databridge_etl_tools_spark.registry import table

    ord_ = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    j = ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"])
    if weighted:
        pairs = j.groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        ).agg(F.count(F.lit(1)).cast("long").alias("w"))
        return pairs.selectExpr("a as src", "b as dst", "w").unionByName(
            pairs.selectExpr("b as src", "a as dst", "w")
        )
    pairs = j.select(
        (F.col("o_custkey") * 2).alias("a"),
        (F.col("l_suppkey") * 2 + 1).alias("b"),
    )
    return pairs.selectExpr("a as src", "b as dst").unionByName(
        pairs.selectExpr("b as src", "a as dst")
    )


def _synthetic(spark):
    """Directed graph with dangling nodes, a hub, duplicate edges and
    a self-loop — the cases the np twin must not fumble."""
    rows = [
        (1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 5),
        (5, 5), (6, 4), (1, 2),  # dup edge; node 2→ nothing? 2→3 exists
        (7, 1),  # 7 dangles in-degree only? no: 7 has out-edge; 8 below dangles
        (1, 8),  # 8 is dangling (no out-edges)
    ]
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_unweighted_parity(spark):
    for edges_fn in (lambda: _purchase_edges(spark), lambda: _synthetic(spark)):
        dist, routed = _both(None, lambda: G.pagerank(edges_fn(), iters=4))
        assert dist == routed
        assert len(dist) > 0


def test_pagerank_weighted_parity(spark):
    dist, routed = _both(
        None,
        lambda: G.pagerank(_purchase_edges(spark, weighted=True), iters=4, weight_col="w"),
    )
    assert dist == routed


def test_pagerank_seeded_parity(spark):
    seeds = spark.createDataFrame([(3,), (99999,)], "node long")

    def run():
        return G.pagerank(_synthetic(spark), iters=4, seeds=seeds)

    dist, routed = _both(None, run)
    assert dist == routed


def test_pagerank_string_nodes_routed(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string",
    )
    dist, routed = _both(None, lambda: G.pagerank(edges, iters=3))
    assert dist == routed


def test_label_propagation_parity(spark):
    dist, routed = _both(
        None, lambda: G.label_propagation(_purchase_edges(spark), iters=3)
    )
    assert dist == routed


def test_label_propagation_weighted_tie_parity(spark):
    # two equal-weight labels compete for node 3 — tie must go to the
    # smallest label on both paths
    edges = spark.createDataFrame(
        [(1, 3, 5), (2, 3, 5), (3, 1, 1), (3, 2, 1), (4, 3, 2), (3, 4, 2)],
        "src long, dst long, w long",
    )
    dist, routed = _both(
        None, lambda: G.label_propagation(edges, iters=4, weight_col="w")
    )
    assert dist == routed


def test_connected_components_parity(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10), (5, 5)],
        "src long, dst long",
    )
    dist, routed = _both(None, lambda: G.connected_components(edges, iters=4))
    assert dist == routed


def test_bfs_parity(spark):
    sources = spark.createDataFrame([(3,), (12345678,)], "node long")

    def run():
        return G.bfs_distances(_purchase_edges(spark), sources, max_hops=3)

    dist, routed = _both(None, run)
    assert dist == routed


def test_shortest_paths_parity(spark):
    edges = spark.createDataFrame(
        [(1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 10), (3, 4, 20), (9, 9, 1)],
        "src long, dst long, w long",
    )
    sources = spark.createDataFrame([(1,)], "node long")

    def run():
        return G.shortest_paths_bounded(edges, sources, max_hops=3)

    dist, routed = _both(None, run)
    assert dist == routed


def test_kcore_parity(spark):
    for kw in ({}, {"weight_col": "w"}):
        edges = _purchase_edges(spark, weighted=bool(kw))
        dist, routed = _both(
            None, lambda: G.kcore(edges, k=3, rounds=4, **kw)
        )
        assert dist == routed


def test_coreness_parity(spark):
    dist, routed = _both(
        None, lambda: G.coreness(_purchase_edges(spark), k_max=3, rounds=4)
    )
    assert dist == routed


def test_triangles_parity(spark):
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1),
            (3, 4), (4, 3), (4, 5), (5, 4), (5, 3), (3, 5),
            (6, 7), (7, 6),
        ],
        "src long, dst long",
    )
    dist, routed = _both(None, lambda: G.triangle_counts(edges))
    assert dist == routed
    # and on the real bipartite purchase graph (zero triangles is the
    # interesting degenerate: bincount/coalesce parity)
    dist, routed = _both(
        None, lambda: G.triangle_counts(_purchase_edges(spark))
    )
    assert dist == routed


def test_budget_zero_disables_route(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_EDGES", "0")
    from databridge_etl_tools_spark.operators import route

    assert route.budget("graph") == 0
    # over-budget graphs must take the distributed loop and still work
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_EDGES", "2")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    out = G.pagerank(edges, iters=2).collect()
    assert len(out) == 3


def test_bounded_collect_maxresultsize_falls_back(spark):
    """The one-pass bounded collect must treat Spark's
    driver.maxResultSize abort as an over-budget signal (return None
    → distributed path), not an error — that abort is the memory
    guard that replaced the CollectLimit probe (r15)."""
    from databridge_etl_tools_spark.operators import route

    df = spark.createDataFrame([(1, 2)], "src long, dst long")

    class _Boom:
        def select(self, *a):
            return self

        def toArrow(self):
            raise Exception(
                "Total size of serialized results of 3 tasks (1126.0 "
                "MiB) is bigger than spark.driver.maxResultSize"
            )

    assert route.collect_bounded(_Boom(), 10) is None
    # a genuine over-budget row count still falls back post-collect
    assert route.collect_bounded(df, 0) is None
    # and an in-budget collect routes
    got = route.collect_bounded(df, 10)
    assert got is not None and got.column("src").to_pylist() == [1]


def test_shared_item_pairs_parity(spark):
    rows = [
        (1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 10), (3, 11),
        (4, 10), (4, 11), (5, 10), (5, 12), (1, 10),  # dup row
    ]
    df = spark.createDataFrame(rows, "p long, c long")
    dist, routed = _both(
        None, lambda: G.shared_item_pairs(df, "p", "c", min_shared=2)
    )
    assert dist == routed
    # (10, 11) share items 1..4; (10, 12) share 1 and 5
    assert (10, 11) in routed and (10, 12) in routed


def test_shared_item_pairs_parity_real(spark):
    from pyspark.sql import functions as F

    from databridge_etl_tools_spark.registry import table

    sf = "/root/testdata/sf0.001"
    ord_ = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    cp = ord_.join(li, ord_["o_orderkey"] == li["l_orderkey"]).select(
        F.col("l_partkey").alias("p"), F.col("o_custkey").alias("c")
    )
    dist, routed = _both(
        None, lambda: G.shared_item_pairs(cp, "p", "c", min_shared=2)
    )
    assert dist == routed


def test_shared_item_triangles_parity_one_collect(spark, monkeypatch):
    """Triangles over the shared-item graph: routed == distributed ==
    triangle_counts over shared_item_pairs, and the routed pairs feed
    the numpy count directly — one bounded collect, not two."""
    from databridge_etl_tools_spark.operators import route

    # members 10, 11, 12 pairwise share items 1 and 2 (one triangle);
    # 13 shares two items with 10 only
    rows = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (2, 12),
            (3, 10), (3, 13), (4, 10), (4, 13), (5, 11)]
    df = spark.createDataFrame(rows, "p long, c long")

    def via_pairs():
        co = G.shared_item_pairs(df, "p", "c", min_shared=2)
        return G.triangle_counts(
            co.selectExpr("a as src", "b as dst").unionByName(
                co.selectExpr("b as src", "a as dst")
            )
        )

    dist, routed = _both(
        None, lambda: G.shared_item_triangles(df, "p", "c", min_shared=2)
    )
    assert dist == routed == sorted(map(tuple, via_pairs().collect()))
    assert routed == [(10, 1), (11, 1), (12, 1), (13, 0)]

    calls = []
    real = route.collect_bounded
    monkeypatch.setattr(
        route, "collect_bounded", lambda *a: calls.append(1) or real(*a)
    )
    G.shared_item_triangles(df, "p", "c", min_shared=2).collect()
    assert len(calls) == 1
