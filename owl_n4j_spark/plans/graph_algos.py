"""Graph-analytics operators (SURVEY.md §2.10) over a deterministic
co-presence graph derived from the ``events`` table.

The reference serves PageRank / communities / betweenness / k-hop /
connected-components over the case graph by pulling edges into Python
(`/root/reference/backend/services/neo4j_service.py:1461-2092`). Here every
algorithm is a distributed DataFrame computation; the co-presence edge set
(users active in the same hour bucket >= EDGE_MIN_HOURS times — SURVEY J7's
time leg) is the graph, so every query is reproducible from the driver
tables and has an exact DuckDB oracle (iterative PageRank = a generated
10-iteration CTE chain; connected components = a recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from owl_n4j_spark.operators.canonicalize import connected_components
from owl_n4j_spark.operators.graph_analytics import (
    betweenness_sampled,
    bfs_levels,
    label_propagation,
    louvain_communities,
)
from owl_n4j_spark.plans.kg_analytics import shared_table
from owl_n4j_spark.plans.relational import load

EDGE_MIN_HOURS = 10
PR_ITERS = 10
PR_DAMPING = 0.85


def copresence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected unique edges (a < b): user pairs sharing >= EDGE_MIN_HOURS
    hour buckets. Bucket equi-join bounds the pair blowup (J7).

    A parquet ``shared_table`` — all eight graph queries consume this
    table, and recomputing the distinct + minute-bucket self-join + groupBy
    per query was ~4 s × 8 of redundant work at sf0.1."""
    def build() -> DataFrame:
        ev = load(spark, sf_dir, "events")
        # hour bucket as an int64 epoch-hour, not a formatted string: the
        # bucket is bijective with date_format('yyyy-MM-dd HH') under the
        # session's fixed UTC zone, and an 8-byte key shuffles/sorts
        # cheaper than a 13-char string through the distinct + self-join
        # (guide §2.3: narrower types shuffle fewer bytes).
        # ONE exchange, not two: repartition on h FIRST, then dedup —
        # hash-partitioning on h satisfies the (h, user_id) aggregation's
        # clustered distribution (rows sharing both keys share h), so the
        # dropDuplicates runs partition-local with no second exchange
        # (guide §2.4: two operations keyed compatibly share one
        # exchange; plan: 3 Exchanges -> 2). The explicit repartition
        # also keeps the CPU-heavy |bucket|^2 self-join at ~2 tasks per
        # core instead of the 1-2 AQE-coalesced partitions a bare
        # distinct would leave (measured 3.4 s -> 1.0 s at
        # sf0.1/local[32] in r6's inherited commit), and both join sides
        # stay co-partitioned on the join key h.
        m = (ev.select(F.floor(F.unix_timestamp("ts") / 3600).alias("h"),
                       "user_id")
             .repartition(spark.sparkContext.defaultParallelism * 2, "h")
             .dropDuplicates(["h", "user_id"]))
        y = m.select(F.col("h"), F.col("user_id").alias("user_b"))
        return (
            m.join(y, on="h")
            .filter(F.col("user_id") < F.col("user_b"))
            .groupBy(F.col("user_id").alias("a"), F.col("user_b").alias("b"))
            .agg(F.count("*").alias("n_hours"))
            .filter(F.col("n_hours") >= EDGE_MIN_HOURS)
            .select("a", "b")
        )
    return shared_table(spark, sf_dir, "copresence_edges", build)


_DUCK_EDGES_CTE = f"""
m AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d %H') AS h, user_id FROM events),
e AS (
  SELECT x.user_id AS a, y.user_id AS b
  FROM m x JOIN m y ON x.h = y.h AND x.user_id < y.user_id
  GROUP BY a, b
  HAVING COUNT(*) >= {EDGE_MIN_HOURS}
),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
verts AS (SELECT DISTINCT a AS v FROM sym)
"""


def _sym(edges: DataFrame) -> DataFrame:
    """Both orientations of ``edges(a, b)``. Precondition: the input is
    unique under a < b, as ``copresence_edges`` is, so the plain union is
    already the distinct adjacency — ``canonicalize.symmetrize`` would add
    a dedup exchange (one more job in ``q_graph_degree``)."""
    return edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))


def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree per vertex (SURVEY G8 / A5 denormalized counts)."""
    sym = _sym(copresence_edges(spark, sf_dir))
    return (
        sym.groupBy(F.col("a").alias("user_id"))
        .agg(F.count("*").alias("degree"))
        .orderBy("user_id")
    )


SQL_GRAPH_DEGREE = f"""
WITH {_DUCK_EDGES_CTE}
SELECT a AS user_id, COUNT(*) AS degree
FROM sym GROUP BY a ORDER BY user_id
"""


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge from its lower-(degree, id) endpoint to
    the higher one. On a skewed graph this is what bounds the triangle
    join: a hub of degree D has NO out-edges to other high-degree vertices,
    so the wedge join fans out per-vertex by its oriented out-degree
    (<= sqrt(edges)), not its raw degree — id-only orientation leaves the
    hub's D^2 wedge blowup in place."""
    sym = _sym(edges)
    deg = sym.groupBy(F.col("a").alias("v")).agg(F.count("*").alias("deg"))
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    lower_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
    return (
        edges.join(da, "a").join(db, "b")
        .select(F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("x"),
                F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("y"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """edges(a, b) undirected-unique -> 1-row (n_triangles), each triangle
    counted once via the degree orientation."""
    e = oriented_edges(edges)
    e1 = e.select(F.col("x").alias("u"), F.col("y").alias("v"))
    e2 = e.select(F.col("x").alias("v"), F.col("y").alias("w"))
    e3 = e.select(F.col("x").alias("u"), F.col("y").alias("w"))
    return (
        e1.join(e2, "v").join(e3, ["u", "w"])
        .agg(F.count("*").alias("n_triangles"))
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count — each triangle counted once. The scale shape:
    orient every edge low-(degree, id) -> high (oriented_edges), then one
    wedge self-join + one closing semi-equi-join; the orientation bounds
    per-vertex fan-out on skewed graphs (the standard degree-ordered
    triangle algorithm)."""
    return triangle_count(copresence_edges(spark, sf_dir))


SQL_GRAPH_TRIANGLES = f"""
WITH {_DUCK_EDGES_CTE},
deg AS (SELECT a AS v, COUNT(*) AS deg FROM sym GROUP BY a),
ore AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS x,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS y
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
)
SELECT COUNT(*) AS n_triangles
FROM ore e1 JOIN ore e2 ON e1.y = e2.x
            JOIN ore e3 ON e3.x = e1.x AND e3.y = e2.y
"""


N_SEED_USERS = 10


def q_graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop neighbourhood size (SURVEY G1): distinct vertices within 2 hops
    of each seed (user_id < N_SEED_USERS), excluding the seed."""
    sym = _sym(copresence_edges(spark, sf_dir))
    h1 = (sym.filter(F.col("a") < N_SEED_USERS)
          .select(F.col("a").alias("seed"), F.col("b").alias("v")))
    h2 = (h1.join(sym.withColumnRenamed("a", "v"), on="v")
          .select("seed", F.col("b").alias("v")))
    return (
        h1.unionByName(h2)
        .filter(F.col("seed") != F.col("v"))
        .dropDuplicates(["seed", "v"])
        .groupBy(F.col("seed").alias("user_id"))
        .agg(F.count("*").alias("n_2hop"))
        .orderBy("user_id")
    )


SQL_GRAPH_2HOP = f"""
WITH {_DUCK_EDGES_CTE},
h1 AS (SELECT a AS seed, b AS v FROM sym WHERE a < {N_SEED_USERS}),
h2 AS (SELECT h1.seed, s.b AS v FROM h1 JOIN sym s ON s.a = h1.v),
reach AS (SELECT DISTINCT seed, v FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
          WHERE seed != v)
SELECT seed AS user_id, COUNT(*) AS n_2hop
FROM reach GROUP BY seed ORDER BY user_id
"""


def _pr_contrib(out: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank iteration: join ranks into the (pre-partitioned,
    cached) out-edge list and sum incoming contributions per target.
    Factored out so the plan-hygiene test can pin the per-iteration
    exchange count (edge side must NOT reshuffle)."""
    return (
        out.join(ranks.withColumnRenamed("v", "a"), "a")
        .groupBy(F.col("b").alias("v"))
        .agg(F.sum(F.col("r") / F.col("deg")).alias("in_r"))
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, PR_ITERS fixed iterations, d = PR_DAMPING (SURVEY G3 — the
    reference runs 20 Python-dict iterations; here each iteration is one
    shuffle-on-vertex join + algebraic sum, AQE-coalesced).

    The symmetric graph has no dangling vertices, so mass is conserved
    without a dangling-redistribution term.

    Scale note (r2 verdict): the edge list is hash-REPARTITIONED on the
    join key ``a`` once and cached, so every iteration's join reuses that
    one exchange — only the vertex-sized ranks table reshuffles per round.
    Without it, each of the PR_ITERS iterations reshuffles the full edge
    list, which at 100x scale dominates the job
    (tests/test_plan_hygiene.py pins the per-iteration exchange count)."""
    sym = _sym(copresence_edges(spark, sf_dir)).cache()
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    n_v = deg.count()
    # n_v == 0 (no co-presence at a sparse sf): the constants are never
    # applied to any row — 0.0 placeholders keep the plan buildable
    # instead of a driver-side ZeroDivisionError, and the result is the
    # same empty frame the oracle returns. The teleport numerator is the
    # PYTHON double 1.0-0.85 (0.15000000000000002, not decimal 0.15); the
    # oracle interpolates repr() of the same value so both engines divide
    # identical doubles — a 2-ulp constant skew otherwise shifts every
    # rank and eventually flips a round(,6) boundary at scale.
    inv_n = 1.0 / float(n_v) if n_v else 0.0
    teleport = (1.0 - PR_DAMPING) / n_v if n_v else 0.0
    ranks = deg.select(F.col("a").alias("v"), F.lit(inv_n).alias("r"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = sym.join(deg, "a").repartition(n_part, "a").cache()
    for _ in range(PR_ITERS):
        contrib = _pr_contrib(out, ranks)
        ranks = contrib.select(
            "v",
            (F.lit(teleport)
             + F.lit(PR_DAMPING) * F.col("in_r")).alias("r"),
        ).localCheckpoint(eager=False)
    # Materialize the final ranks (checkpoint leaf severs them from the
    # cached tables), then release both cached edge copies — a long-lived
    # session invoking this repeatedly must not accumulate O(E) cache
    # entries per call.
    ranks = ranks.localCheckpoint(eager=True)
    out.unpersist()
    sym.unpersist()
    return (
        ranks.select(F.col("v").alias("user_id"),
                     F.round("r", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("user_id"))
        .limit(25)
    )


def _pagerank_sql() -> str:
    prev = "r0"
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT s.b AS v,
         CAST({1.0 - PR_DAMPING!r} AS DOUBLE) / (SELECT n FROM nv)
           + {PR_DAMPING} * SUM(p.r / d.deg) AS r
  FROM sym s JOIN {prev} p ON p.v = s.a JOIN deg d ON d.v = s.a
  GROUP BY s.b
)""")
        prev = f"r{i}"
    return f"""
WITH {_DUCK_EDGES_CTE},
deg AS (SELECT a AS v, COUNT(*) AS deg FROM sym GROUP BY a),
nv AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) AS r FROM deg),
{','.join(iters)}
SELECT v AS user_id, round(r, 6) AS pagerank
FROM {prev}
ORDER BY pagerank DESC, user_id
LIMIT 25
"""


SQL_PAGERANK = _pagerank_sql()


def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (SURVEY G6) — REUSES the canonicalization
    engine's union-find CC (operators/canonicalize.py) on the
    co-presence graph; the oracle is an exact recursive-CTE reachability
    closure. Vertex ids are zero-padded so string-min == numeric-min."""
    e = copresence_edges(spark, sf_dir)
    # pad width must exceed the largest plausible vertex-id decimal width
    # or the string-min election diverges from numeric MIN past the pad
    # (u99999 < u100000 numerically but NOT lexically): 9 digits covers
    # the 100 TB-scale user space
    pad = lambda c: F.format_string("u%09d", F.col(c))
    comps = connected_components(
        e.select(pad("a").alias("src"), pad("b").alias("dst")))
    return (
        comps.groupBy(F.col("canonical_key").alias("component"))
        .agg(F.count("*").alias("size"))
        .orderBy("component")
    )


SQL_GRAPH_CC = f"""
WITH RECURSIVE {_DUCK_EDGES_CTE},
reach(u, v) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.u, s.b FROM reach r JOIN sym s ON s.a = r.v
),
comp AS (SELECT u, printf('u%09d', MIN(v)) AS component FROM reach GROUP BY u)
SELECT component, COUNT(*) AS size
FROM comp GROUP BY component ORDER BY component
"""


BFS_MAX_DEPTH = 8


def _with_depth(levels: list[DataFrame]) -> DataFrame:
    """``bfs_levels`` leaves -> one lazy union of (s, v, d), d = hop count."""
    dist = levels[0].select("s", "v", F.lit(0).alias("d"))
    for d, lv in enumerate(levels[1:], 1):
        dist = dist.unionByName(lv.select("s", "v", F.lit(d).alias("d")))
    return dist


def q_graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest hop-counts (SURVEY G2) from the minimum vertex:
    the one-seed case of the ``bfs_levels`` frontier kernel, bounded depth.
    The seed is picked inside the plan (NULL on an empty graph, filtered
    like the oracle's HAVING). Oracle: recursive-CTE min-distance closure."""
    sym = _sym(copresence_edges(spark, sf_dir)).localCheckpoint(eager=True)
    seed = (sym.agg(F.min("a").alias("v")).filter(F.col("v").isNotNull())
            .select(F.col("v").alias("s"), "v"))
    dist = _with_depth(bfs_levels(sym, seed, BFS_MAX_DEPTH))
    return (dist.select(F.col("v").alias("user_id"),
                        F.col("d").cast("bigint").alias("dist"))
            .orderBy("user_id"))


SQL_GRAPH_SHORTEST_PATHS = f"""
WITH RECURSIVE {_DUCK_EDGES_CTE},
seed AS (SELECT MIN(a) AS s FROM sym HAVING MIN(a) IS NOT NULL),
walk(v, d) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT sym.b, walk.d + 1
  FROM walk JOIN sym ON sym.a = walk.v
  WHERE walk.d < {BFS_MAX_DEPTH}
)
SELECT v AS user_id, CAST(MIN(d) AS BIGINT) AS dist
FROM walk GROUP BY v ORDER BY user_id
"""


PAIR_BFS_KEYS = 6    # selected key-set size (reference UI sends <= ~10)
PAIR_BFS_DEPTH = 10  # the reference's <= 10-hop cap


def q_graph_pair_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shortest hop-distances between a SELECTED key set (SURVEY
    G2 proper — neo4j_service.py:1359-1460 returns the path subgraph
    between user-selected nodes, <= 10 hops). Runs ONE multi-source BFS,
    the K-seed case of ``bfs_levels``: the frontier carries a source column
    ``s``, so every round is a single (s, v)-keyed equi-join of all
    frontiers against the shared adjacency list — K sources cost one join
    per level, not K traversals, which is the difference between O(depth)
    and O(K * depth) shuffles at scale.
    The selected set here is the PAIR_BFS_KEYS lowest vertex ids
    (deterministic stand-in for the UI selection); output is
    (src, dst, hop_dist) for reachable selected pairs, src < dst."""
    sym = _sym(copresence_edges(spark, sf_dir)).localCheckpoint(eager=True)
    seeds = (sym.select(F.col("a").alias("v")).dropDuplicates()
             .orderBy("v").limit(PAIR_BFS_KEYS)
             .localCheckpoint(eager=True))  # <= PAIR_BFS_KEYS rows
    dist = _with_depth(bfs_levels(
        sym, seeds.select(F.col("v").alias("s"), "v"), PAIR_BFS_DEPTH))
    return (
        dist.join(F.broadcast(seeds), on="v")  # dst must be selected too
        .filter(F.col("s") < F.col("v"))
        .select(F.col("s").alias("src"), F.col("v").alias("dst"),
                F.col("d").cast("bigint").alias("hop_dist"))
        .orderBy("src", "dst")
    )


SQL_GRAPH_PAIR_PATHS = f"""
WITH RECURSIVE {_DUCK_EDGES_CTE},
seeds AS (SELECT v FROM verts ORDER BY v LIMIT {PAIR_BFS_KEYS}),
walk(s, v, d) AS (
  SELECT v, v, 0 FROM seeds
  UNION
  SELECT walk.s, sym.b, walk.d + 1
  FROM walk JOIN sym ON sym.a = walk.v
  WHERE walk.d < {PAIR_BFS_DEPTH}
)
SELECT w.s AS src, w.v AS dst, CAST(MIN(w.d) AS BIGINT) AS hop_dist
FROM walk w JOIN seeds t ON t.v = w.v
WHERE w.s < w.v
GROUP BY w.s, w.v
ORDER BY src, dst
"""


LPA_ITERS = 4


def _lpa_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vertex, community) after LPA_ITERS rounds over the co-presence
    graph — computed once per (session, sf): both q_lpa_communities and
    q_community_supergraph consume exactly this membership, and the
    LPA_ITERS iterative joins were run twice. A ``shared_table`` kept as
    an eager checkpoint, not a warehouse — the frame is O(V)."""
    def build() -> DataFrame:
        e = copresence_edges(spark, sf_dir).select(
            F.col("a").alias("src"), F.col("b").alias("dst"))
        return label_propagation(
            e, max_iter=LPA_ITERS).localCheckpoint(eager=True)
    return shared_table(spark, sf_dir, "lpa_membership", build,
                        parquet=False)


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes by label propagation (SURVEY G4 — the reference's
    Louvain use case: semantic-zoom super-nodes). Deterministic fixed-round
    synchronous LPA; the oracle is a generated CTE chain — each round is a
    grouped argmax (row_number over (cnt DESC, lbl)) exactly mirroring the
    struct-min election. Fixture coverage in tests/test_graph_analytics.py."""
    return (
        _lpa_membership(spark, sf_dir)
        .groupBy("community").agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
    )


def _lpa_labels_cte() -> str:
    """labels0..labelsN CTE chain mirroring label_propagation's struct-min
    election; shared by the LPA-sizes and supergraph oracles."""
    rounds = ["labels0 AS (SELECT v, v AS lbl FROM verts)"]
    for i in range(1, LPA_ITERS + 1):
        rounds.append(f"""
c{i} AS (
  SELECT s.b AS v, p.lbl, COUNT(*) AS cnt
  FROM sym s JOIN labels{i - 1} p ON p.v = s.a
  GROUP BY s.b, p.lbl
),
labels{i} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
    return ",".join(rounds)


SQL_LPA_COMMUNITIES = f"""
WITH {_DUCK_EDGES_CTE},
{_lpa_labels_cte()}
SELECT lbl AS community, COUNT(*) AS size
FROM labels{LPA_ITERS}
GROUP BY lbl
ORDER BY size DESC, community
"""


def q_community_supergraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-zoom super-node projection (r2 verdict item 7; reference
    docs/PERFORMANCE_OPTIMIZATION_REPORT.md §2): collapse community
    memberships into super-nodes and roll the edge list up to weighted
    inter-community edges (self-loop rows = intra-community edge counts).
    Two shuffle joins tag each edge endpoint with its community — both on
    the vertex key, both against the O(V) membership table (never
    broadcast) — then one groupBy emits the super-edge list, which is tiny
    (#communities^2 bound) no matter the input scale. That collapsed list
    is what the reference renders when zoomed out instead of the raw graph."""
    edges = copresence_edges(spark, sf_dir)
    mem = _lpa_membership(spark, sf_dir)
    ma = mem.select(F.col("vertex").alias("a"), F.col("community").alias("ca"))
    mb = mem.select(F.col("vertex").alias("b"), F.col("community").alias("cb"))
    ce = (
        edges.join(ma, "a").join(mb, "b")
        .groupBy(F.least("ca", "cb").alias("c_src"),
                 F.greatest("ca", "cb").alias("c_dst"))
        .agg(F.count("*").alias("n_edges"))
    )
    sz = mem.groupBy(F.col("community")).agg(F.count("*").alias("size"))
    return (
        ce.join(sz.select(F.col("community").alias("c_src"),
                          F.col("size").alias("src_size")), "c_src")
        .join(sz.select(F.col("community").alias("c_dst"),
                        F.col("size").alias("dst_size")), "c_dst")
        .select("c_src", "c_dst", "n_edges", "src_size", "dst_size")
        .orderBy("c_src", "c_dst")
    )


SQL_COMMUNITY_SUPERGRAPH = f"""
WITH {_DUCK_EDGES_CTE},
{_lpa_labels_cte()},
mem AS (SELECT v, lbl AS community FROM labels{LPA_ITERS}),
ce AS (
  SELECT LEAST(ma.community, mb.community) AS c_src,
         GREATEST(ma.community, mb.community) AS c_dst,
         COUNT(*) AS n_edges
  FROM e JOIN mem ma ON ma.v = e.a JOIN mem mb ON mb.v = e.b
  GROUP BY 1, 2
),
sz AS (SELECT community, COUNT(*) AS size FROM mem GROUP BY community)
SELECT c_src, c_dst, n_edges, s1.size AS src_size, s2.size AS dst_size
FROM ce JOIN sz s1 ON s1.community = ce.c_src
        JOIN sz s2 ON s2.community = ce.c_dst
ORDER BY c_src, c_dst
"""


LOUVAIN_ROUNDS = 4
LOUVAIN_RESOLUTION = (1, 1)


def q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity communities with resolution (SURVEY G4 proper — the
    reference's resolution-tunable Louvain): community sizes after
    LOUVAIN_ROUNDS synchronous local-move rounds. The score arithmetic is
    integer-scaled, so the generated SQL oracle is bit-exact."""
    e = copresence_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst"))
    return (
        louvain_communities(e, resolution=LOUVAIN_RESOLUTION,
                            max_rounds=LOUVAIN_ROUNDS)
        .groupBy("community").agg(F.count("*").alias("size"))
        .orderBy(F.desc("size"), F.asc("community"))
    )


def _louvain_sql() -> str:
    rn, rd = LOUVAIN_RESOLUTION
    rounds = []
    for i in range(1, LOUVAIN_ROUNDS + 1):
        rounds.append(f"""
tot{i} AS MATERIALIZED (
  SELECT l.lbl, SUM(d.k) AS tot
  FROM labels{i - 1} l JOIN deg d ON d.v = l.v
  GROUP BY l.lbl
),
kvc{i} AS MATERIALIZED (
  SELECT s.b AS v, p.lbl, COUNT(*) AS cnt
  FROM sym2 s JOIN labels{i - 1} p ON p.v = s.a
  GROUP BY s.b, p.lbl
),
cand{i} AS MATERIALIZED (
  SELECT c.v, c.lbl, MAX(c.cnt) AS cnt FROM (
    SELECT v, lbl, cnt FROM kvc{i}
    UNION ALL SELECT v, lbl, CAST(0 AS BIGINT) FROM labels{i - 1}
  ) c GROUP BY c.v, c.lbl
),
scored{i} AS MATERIALIZED (
  SELECT c.v, c.lbl, o.lbl AS own_lbl,
         {rd} * (SELECT tm FROM two_m) * c.cnt
           - {rn} * d.k * (t.tot - CASE WHEN c.lbl = o.lbl THEN d.k ELSE 0 END)
           AS score
  FROM cand{i} c
  JOIN labels{i - 1} o ON o.v = c.v
  JOIN deg d ON d.v = c.v
  JOIN tot{i} t ON t.lbl = c.lbl
),
labels{i} AS MATERIALIZED (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (
             PARTITION BY v
             ORDER BY score DESC,
                      CASE WHEN lbl = own_lbl THEN 0 ELSE 1 END,
                      lbl) AS rn
    FROM scored{i}
  ) WHERE rn = 1
)""")
    return f"""
WITH {_DUCK_EDGES_CTE},
sym2 AS MATERIALIZED (SELECT a, b FROM sym),
deg AS MATERIALIZED (SELECT a AS v, COUNT(*) AS k FROM sym2 GROUP BY a),
two_m AS (SELECT COUNT(*) AS tm FROM sym2),
labels0 AS MATERIALIZED (SELECT v, v AS lbl FROM verts),
{','.join(rounds)}
SELECT lbl AS community, COUNT(*) AS size
FROM labels{LOUVAIN_ROUNDS}
GROUP BY lbl
ORDER BY size DESC, community
"""


SQL_LOUVAIN = _louvain_sql()


BETWEENNESS_SOURCES = 6
BETWEENNESS_TOPN = 15
BETWEENNESS_DEPTH = 12


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes betweenness (SURVEY G5), top-15. Sources =
    first BETWEENNESS_SOURCES vertices — deterministic sample. The oracle
    mirrors the whole algorithm as generated SQL: a bounded per-level
    forward BFS (sigma shortest-path counts) followed by the per-level
    backward dependency accumulation; fixtures in tests pin exactness on
    path/star graphs."""
    e = copresence_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")) \
        .localCheckpoint(eager=True)  # sampled twice: vertex pick + algorithm
    verts = [r["src"] for r in
             e.select("src").unionByName(e.select(F.col("dst").alias("src")))
             .dropDuplicates().orderBy("src").limit(BETWEENNESS_SOURCES)
             .collect()]
    return (
        betweenness_sampled(e, sources=verts, max_depth=BETWEENNESS_DEPTH)
        .select("vertex", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("vertex"))
        .limit(BETWEENNESS_TOPN)
    )


def _betweenness_sql() -> str:
    """Generated Brandes mirror (same pattern as the PageRank oracle):
    forward CTEs lvl0..lvlL carry (source, vertex, sigma) per BFS level —
    new vertices only via NOT EXISTS against the seen set — and backward
    CTEs deltaL..delta1 accumulate delta[v] = sum sigma_up/sigma * (1+delta)
    over successors. Score(v) = sum over sources of delta / 2 (endpoints
    excluded by summing levels >= 1 only)."""
    # Every per-level CTE is MATERIALIZED: the L-deep chain references each
    # lower level several times (forward + backward passes), and DuckDB's
    # default CTE inlining would expand the chain exponentially (measured:
    # "Too many open files" from re-opening the parquet per inlined ref).
    L = BETWEENNESS_DEPTH
    fwd = []
    for d in range(1, L + 1):
        fwd.append(f"""
lvl{d} AS MATERIALIZED (
  SELECT s, v, SUM(sigma) AS sigma FROM (
    SELECT l.s AS s, sym2.b AS v, l.sigma AS sigma
    FROM lvl{d - 1} l JOIN sym2 ON sym2.a = l.v
  ) cand
  WHERE NOT EXISTS (SELECT 1 FROM seen{d - 1} x
                    WHERE x.s = cand.s AND x.v = cand.v)
  GROUP BY s, v
),
seen{d} AS MATERIALIZED (
  SELECT s, v FROM seen{d - 1} UNION ALL SELECT s, v FROM lvl{d})""")
    bwd = [f"delta{L} AS MATERIALIZED "
           f"(SELECT s, v, sigma, CAST(0 AS DOUBLE) AS delta FROM lvl{L})"]
    for d in range(L, 0, -1):
        bwd.append(f"""
contrib{d} AS MATERIALIZED (
  SELECT low.s, up.v, SUM(up.sigma / low.sigma * (1 + low.delta)) AS delta
  FROM delta{d} low
  JOIN sym2 ON sym2.a = low.v
  JOIN lvl{d - 1} up ON up.s = low.s AND up.v = sym2.b
  GROUP BY low.s, up.v
)""")
        if d > 1:
            bwd.append(f"""
delta{d - 1} AS MATERIALIZED (
  SELECT l.s, l.v, l.sigma, coalesce(c.delta, 0) AS delta
  FROM lvl{d - 1} l LEFT JOIN contrib{d} c ON c.s = l.s AND c.v = l.v
)""")
    parts = " UNION ALL ".join(
        f"SELECT v, delta FROM delta{d}" for d in range(1, L + 1))
    return f"""
WITH {_DUCK_EDGES_CTE},
sym2 AS MATERIALIZED (SELECT a, b FROM sym),
sources AS (SELECT v AS s FROM verts ORDER BY v LIMIT {BETWEENNESS_SOURCES}),
lvl0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS DOUBLE) AS sigma FROM sources),
seen0 AS MATERIALIZED (SELECT s, v FROM lvl0),
{','.join(fwd)},
{','.join(bwd)},
total AS (
  -- HAVING > 0 mirrors the Spark accumulator, which only ever materializes
  -- vertices that RECEIVED a dependency contribution (every contribution is
  -- strictly positive); coalesce-zero leaf vertices must not appear.
  SELECT v, SUM(delta) / 2 AS score
  FROM ({parts})
  GROUP BY v
  HAVING SUM(delta) > 0
),
ranked AS (
  SELECT v AS vertex, round(score, 4) AS score
  FROM total
  ORDER BY round(score, 4) DESC, v
  LIMIT {BETWEENNESS_TOPN}
)
SELECT vertex, score FROM ranked
"""


SQL_BETWEENNESS = _betweenness_sql()


GRAPH_REGISTRY = {
    "q_graph_shortest_paths": (q_graph_shortest_paths, SQL_GRAPH_SHORTEST_PATHS),
    "q_lpa_communities": (q_lpa_communities, SQL_LPA_COMMUNITIES),
    "q_louvain": (q_louvain, SQL_LOUVAIN),
    "q_betweenness": (q_betweenness, SQL_BETWEENNESS),
    "q_graph_degree": (q_graph_degree, SQL_GRAPH_DEGREE),
    "q_graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "q_graph_2hop": (q_graph_2hop, SQL_GRAPH_2HOP),
    "q_pagerank": (q_pagerank, SQL_PAGERANK),
    "q_graph_cc": (q_graph_cc, SQL_GRAPH_CC),
    "q_graph_pair_paths": (q_graph_pair_paths, SQL_GRAPH_PAIR_PATHS),
    "q_community_supergraph": (q_community_supergraph, SQL_COMMUNITY_SUPERGRAPH),
}
