"""LPA communities and sampled Brandes betweenness on fixtures with known
ground truth."""

from owl_n4j_spark.operators.graph_analytics import (
    betweenness_sampled,
    label_propagation,
)


def _edges(spark, pairs):
    return spark.createDataFrame([(str(a), str(b)) for a, b in pairs],
                                 "src string, dst string")


def test_lpa_disconnected_components(spark):
    """Two disconnected triangles -> two uniform communities."""
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)])
    comm = {r["vertex"]: r["community"]
            for r in label_propagation(e, max_iter=4).collect()}
    assert comm["1"] == comm["2"] == comm["3"]
    assert comm["4"] == comm["5"] == comm["6"]
    assert comm["1"] != comm["4"]


def test_lpa_deterministic(spark):
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)])
    a = sorted(map(tuple, label_propagation(e, max_iter=5).collect()))
    b = sorted(map(tuple, label_propagation(e, max_iter=5).collect()))
    assert a == b


def test_betweenness_path_graph(spark):
    """Path a-b-c-d-e, all sources: exact betweenness b=3, c=4, d=3,
    endpoints 0 (standard unordered-pair counts)."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    scores = {r["vertex"]: r["score"]
              for r in betweenness_sampled(
                  e, sources=["a", "b", "c", "d", "e"]).collect()}
    assert abs(scores["c"] - 4.0) < 1e-9
    assert abs(scores["b"] - 3.0) < 1e-9
    assert abs(scores["d"] - 3.0) < 1e-9
    assert "a" not in scores or abs(scores.get("a", 0.0)) < 1e-9


def test_betweenness_star_center(spark):
    """Star: center carries all pairwise shortest paths. For k=4 leaves:
    center betweenness = C(4,2) = 6."""
    e = _edges(spark, [("c", "l1"), ("c", "l2"), ("c", "l3"), ("c", "l4")])
    scores = {r["vertex"]: r["score"]
              for r in betweenness_sampled(
                  e, sources=["c", "l1", "l2", "l3", "l4"]).collect()}
    assert abs(scores["c"] - 6.0) < 1e-9


def test_cc_hub_skew(spark):
    """Canonicalization CC under extreme hub skew (the documented 70k-rel
    contact): a star with 20,000 leaves must resolve to ONE component whose
    canonical is the priority-preferred key, through the salted two-stage
    min aggregation."""
    from pyspark.sql import functions as F
    from owl_n4j_spark.operators.canonicalize import connected_components

    leaves = spark.range(20_000).select(
        F.format_string("name-alias-%06d", F.col("id")).alias("src"),
        F.lit("phone-12025550123").alias("dst"))
    comps = connected_components(leaves)
    assert comps.select("canonical_key").distinct().count() == 1
    assert comps.first()["canonical_key"] == "phone-12025550123"
    assert comps.count() == 20_001


def test_cc_raises_at_round_cap(spark):
    """Hash-min CC moves the minimum label one hop per round: an 80-node
    path cannot converge within the default 25 rounds (55 labels are
    still changing) and must raise instead of returning 55 components; a
    20-node path converges to one component."""
    import pytest
    from owl_n4j_spark.operators.canonicalize import connected_components

    def path(n):
        return _edges(spark, [(f"n{i:03d}", f"n{i + 1:03d}")
                              for i in range(n - 1)])

    with pytest.raises(RuntimeError, match="in 25 rounds: 55 labels"):
        connected_components(path(80))
    comps = connected_components(path(20))
    assert comps.count() == 20
    assert comps.select("canonical_key").distinct().count() == 1


def test_louvain_two_cliques_with_bridge(spark):
    """Two K4 cliques joined by one bridge edge: modularity local moves at
    resolution 1 must put each clique in its own community."""
    from owl_n4j_spark.operators.graph_analytics import louvain_communities
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    got = {r["vertex"]: r["community"]
           for r in louvain_communities(edges).collect()}
    left = {got[v] for v in range(4)}
    right = {got[v] for v in range(10, 14)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_louvain_resolution_splits(spark):
    """Higher resolution penalizes size: the same graph yields at least as
    many communities at gamma=4 as at gamma=1 (classic resolution limit)."""
    from owl_n4j_spark.operators.graph_analytics import louvain_communities
    # ring of 4 triangles, adjacent triangles share one vertex
    tris = []
    for t in range(4):
        a, b, c = 3 * t, 3 * t + 1, 3 * t + 2
        tris += [(a, b), (a, c), (b, c)]
    ring = [(2, 3), (5, 6), (8, 9), (11, 0)]
    edges = spark.createDataFrame(tris + ring, "src long, dst long")
    n_lo = (louvain_communities(edges, resolution=(1, 1))
            .select("community").distinct().count())
    n_hi = (louvain_communities(edges, resolution=(4, 1))
            .select("community").distinct().count())
    assert n_hi >= n_lo
    assert n_lo >= 2  # triangles must not all collapse into one community
