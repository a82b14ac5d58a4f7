"""LPA communities, the BFS frontier kernel and sampled Brandes betweenness
on fixtures with known ground truth."""

import random
from collections import defaultdict

import pytest

from owl_n4j_spark.operators.canonicalize import symmetrize
from owl_n4j_spark.operators.graph_analytics import (
    betweenness_sampled,
    bfs_levels,
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


def test_betweenness_empty_result_keeps_vertex_type(spark):
    """No dependency reaches level 2 (a single edge; a centre source whose
    neighbours are all leaves): the empty result still has the input's
    vertex type, as a non-empty one does."""
    one_edge = spark.createDataFrame([(1, 2)], "src long, dst long")
    path3 = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    for edges, sources in ((one_edge, [1, 2]), (path3, [2])):
        got = betweenness_sampled(edges, sources=sources)
        assert got.dtypes == [("vertex", "bigint"), ("score", "double")]
        assert got.count() == 0
    assert betweenness_sampled(path3, sources=[1]).dtypes[0] == (
        "vertex", "bigint")


def _bfs_oracle(pairs, sources, max_depth):
    """Driver-side BFS with shortest-path counting -> {(s, v, d, sigma)}."""
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    out = set()
    for s in sources:
        sigma, frontier = {s: 1}, [s]
        out.add((s, s, 0, 1.0))
        for d in range(1, max_depth + 1):
            nxt = defaultdict(int)
            for u in frontier:
                for w in adj[u]:
                    if w not in sigma:
                        nxt[w] += sigma[u]
            if not nxt:
                break
            sigma.update(nxt)
            frontier = list(nxt)
            out.update((s, w, d, float(n)) for w, n in nxt.items())
    return out


def _random_forest(rng, n):
    """Each vertex hangs off a random earlier one, or starts a new tree."""
    return [(rng.randrange(i), i) for i in range(1, n) if rng.random() < 0.97]


def _grid(w):
    """w x w grid: many equal-length shortest paths (sigma > 1)."""
    return ([(r * w + c, r * w + c + 1) for r in range(w) for c in range(w - 1)]
            + [(r * w + c, (r + 1) * w + c)
               for r in range(w - 1) for c in range(w)])


_RNG = random.Random(7)
_FOREST = _random_forest(_RNG, 1000)
BFS_CASES = {
    # longer than max_depth: must stop at the cap; 5000 is not in adj
    "path": ([(i, i + 1) for i in range(199)], [0, 100, 199, 5000], 8),
    "star": ([(0, i) for i in range(1, 301)], [0, 1, 2], 8),
    "binary_tree": ([((i - 1) // 2, i) for i in range(1, 1023)],
                    [0, 511, 1022], 8),
    "random_forest": (_FOREST, _RNG.sample(range(1000), 5), 12),
    "grid": (_grid(8), [0, 7, 27, 63], 16),
}


@pytest.mark.parametrize("case", sorted(BFS_CASES))
def test_bfs_levels_match_driver_bfs(spark, case):
    pairs, sources, max_depth = BFS_CASES[case]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    seeds = spark.createDataFrame([(s, s) for s in sources],
                                  "s long, v long")
    levels = bfs_levels(symmetrize(edges), seeds, max_depth)
    got = [(r["s"], r["v"], d, r["sigma"])
           for d, lv in enumerate(levels) for r in lv.collect()]
    assert len(got) == len(set(got))
    want = _bfs_oracle(pairs, sources, max_depth)
    assert set(got) == want
    assert len(levels) == 1 + max(d for _, _, d, _ in want)
    if case == "path":
        assert len(levels) == max_depth + 1


def test_bfs_levels_empty_inputs(spark):
    adj = symmetrize(spark.createDataFrame([(1, 2), (2, 3)],
                                           "src long, dst long"))
    no_seeds = spark.createDataFrame([], "s long, v long")
    levels = bfs_levels(adj, no_seeds, 5)
    assert len(levels) == 1 and levels[0].count() == 0

    no_adj = spark.createDataFrame([], "a long, b long")
    seeds = spark.createDataFrame([(1, 1), (9, 9)], "s long, v long")
    levels = bfs_levels(no_adj, seeds, 5)
    assert len(levels) == 1
    assert sorted(map(tuple, levels[0].collect())) == [(1, 1, 1.0),
                                                       (9, 9, 1.0)]


def _jobs_of(spark, fn):
    """Number of Spark jobs ``fn`` runs (jobs outside any job group)."""
    st = spark.sparkContext.statusTracker()
    mark = max(st.getJobIdsForGroup(None), default=-1)
    fn()
    return len([j for j in st.getJobIdsForGroup(None) if j > mark])


def test_betweenness_jobs_per_bfs_level(spark):
    """All-sources betweenness on an n- and a 2n-node path: the n extra BFS
    levels cost 18 jobs each (local[4], 8 shuffle partitions). With an
    ``isEmpty()`` poll after each level's checkpoint they cost 19; the stop
    is read from the count observed on the checkpoint job instead. A slope,
    not a total: the order in which AQE's query stages finish moves totals
    by 1-3 jobs, so each size takes the fewer of two runs."""
    n = 8

    def jobs(size):
        e = spark.createDataFrame([(i, i + 1) for i in range(size - 1)],
                                  "src long, dst long")
        return min(_jobs_of(spark, lambda: betweenness_sampled(
            e, sources=list(range(size)), max_depth=2 * size).collect())
            for _ in range(2))

    slope = (jobs(2 * n) - jobs(n)) / n
    assert slope < 18.5, slope


def test_cc_hub_skew(spark):
    """Canonicalization CC under extreme hub skew (the documented 70k-rel
    contact): a star with 20,000 leaves must resolve to ONE component whose
    canonical is the priority-preferred key, through the map-side combined
    hash-min aggregation."""
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
