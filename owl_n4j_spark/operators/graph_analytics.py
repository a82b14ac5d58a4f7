"""Distributed graph analytics: the one BFS frontier kernel, label
propagation (communities), Louvain local moves and sampled-source Brandes
betweenness.

The reference implements Louvain and betweenness as in-Python loops over the
whole edge list pulled out of Neo4j (/root/reference/backend/services/
neo4j_service.py:1641-1885 Louvain, :1886-2092 Brandes BFS) — single-machine,
memory-bound at case scale. Here all of them are DataFrame iterations:

- BFS: ``bfs_levels`` is the only level-synchronous frontier loop. It is
  multi-source — every level is keyed by (source, vertex) — so K sources
  cost one join per level, not K traversals. Each level carries sigma, the
  shortest-path count, summed in the same aggregation that dedups the
  frontier. Shortest paths (one seed), pair paths (K seeds) and the forward
  pass of betweenness all run it; the loop stops on the row count observed
  on each level's own checkpoint job, with no emptiness poll.
- LPA: synchronous label propagation; each round one join + one
  argmax-by-count aggregation (struct-min, map-side combinable, salted by
  AQE). Deterministic: ties break to the smaller label, fixed round count.
  Stands in for Louvain exactly as the reference's own docs suggest for
  semantic-zoom super-nodes (docs/PERFORMANCE_OPTIMIZATION_REPORT.md §2).
- Betweenness: Brandes = per-source BFS with path counting + backward
  dependency accumulation. Exact all-sources is O(V·E); the scale path is
  source sampling (standard Brandes-subset estimator). Each source's BFS
  and back-propagation are frontier joins — never a driver-side adjacency
  dict — so one source costs O(diameter) shuffles regardless of graph size,
  and sampled sources run from the same checkpointed adjacency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_n4j_spark.localrel import local_df
from owl_n4j_spark.operators.canonicalize import checkpoint_count, symmetrize


def bfs_levels(adj: DataFrame, seeds: DataFrame,
               max_depth: int) -> list[DataFrame]:
    """Multi-source BFS: symmetric adjacency ``adj(a, b)`` + ``seeds(s, v)``
    -> levels ``(s, v, sigma)``, level d at index d: the vertices source s
    first reaches at hop d, with their shortest-path counts (seeds: 1.0).

    Each round joins the last level against ``adj``, sums sigma per
    (s, v) — the one aggregation also dedups the frontier — and anti-joins
    the lazy union of the earlier levels, so it materializes one job: the
    new level's checkpoint. The loop stops after ``max_depth`` rounds or
    when that job observes no row; the empty level is not returned.
    Every level is a checkpoint leaf, so callers union them cheaply.
    """
    level, n = checkpoint_count(
        seeds.select("s", "v", F.lit(1.0).alias("sigma")), F.lit(True))
    levels, seen = [level], level.select("s", "v")
    nbr = adj.withColumnRenamed("a", "v")
    while n and len(levels) <= max_depth:
        level, n = checkpoint_count(
            levels[-1].join(nbr, on="v")
            .groupBy("s", F.col("b").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(seen, on=["s", "v"], how="left_anti"), F.lit(True))
        if n:
            levels.append(level)
            seen = seen.unionByName(level.select("s", "v"))
    return levels


def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """edges(src, dst) undirected -> (vertex, community).

    Synchronous LPA, ``max_iter`` fixed rounds (deterministic output):
    every vertex adopts the most frequent label among its neighbours,
    ties to the smallest label.
    """
    sym = symmetrize(edges).localCheckpoint(eager=True)
    labels = (sym.select(F.col("a").alias("v")).dropDuplicates()
              .withColumn("lbl", F.col("v")))
    for _ in range(max_iter):
        counts = (
            sym.join(labels.withColumnRenamed("v", "a"), on="a")
            .groupBy(F.col("b").alias("v"), "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        # lazy checkpoint: rounds are FIXED (no driver decision between
        # them), so deferring materialization fuses all rounds into one
        # multi-stage job — the barrier still truncates lineage when the
        # caller's action runs, without one scheduler round-trip per round
        labels = (
            counts.groupBy("v")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                F.col("lbl").alias("l"))).alias("e"))
            .select("v", F.col("e.l").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("v").alias("vertex"),
                         F.col("lbl").alias("community"))


def louvain_communities(edges: DataFrame, resolution: tuple[int, int] = (1, 1),
                        max_rounds: int = 4) -> DataFrame:
    """edges(src, dst) undirected -> (vertex, community) by synchronous
    modularity local moves — the Louvain phase-1 objective with a tunable
    resolution (the reference exposes resolution-tunable Louvain,
    neo4j_service.py:1641-1885; its Python loop is single-machine).

    Each round every vertex evaluates, over its neighbour communities plus
    its own, the resolution-scaled modularity gain
        score(c) = k_{v,c} - gamma * k_v * sum_c / (2m)
    and adopts the argmax (ties: keep the current community, then smallest
    label). ``resolution`` is a rational (num, den) and the score is
    computed as the INTEGER  den*2m*k_vc - num*k_v*sum_c  — no floating
    point anywhere, so the generated SQL oracle is bit-exact. (At extreme
    scale the product can approach int64 range: 2m * k_vc overflows only
    past ~2^63, i.e. graphs with > ~3e9 edges AND hub counts to match —
    switch to decimal then.)

    Distributed shape per round: one join + two aggregations (community
    totals, vertex->community edge counts), then an algebraic struct-min
    election — all map-side combinable; rounds are fixed so output is
    deterministic regardless of convergence."""
    rn, rd = resolution
    sym = symmetrize(edges).localCheckpoint(eager=True)
    deg = (sym.groupBy(F.col("a").alias("v"))
           .agg(F.count("*").alias("k")).localCheckpoint(eager=True))
    two_m = sym.count()
    labels = deg.select("v", F.col("v").alias("lbl"))
    for _ in range(max_rounds):
        tot = (labels.join(deg, "v")
               .groupBy("lbl").agg(F.sum("k").alias("tot")))
        kvc = (
            sym.join(labels.withColumnRenamed("v", "a")
                     .withColumnRenamed("lbl", "nlbl"), on="a")
            .groupBy(F.col("b").alias("v"), F.col("nlbl").alias("lbl"))
            .agg(F.count("*").alias("cnt"))
        )
        own = labels.select("v", F.col("lbl").alias("own_lbl"))
        cand = (
            kvc.unionByName(own.select("v", F.col("own_lbl").alias("lbl"))
                            .withColumn("cnt", F.lit(0).cast("long")))
            .groupBy("v", "lbl").agg(F.max("cnt").alias("cnt"))
            .join(own, "v")
            .join(deg, "v")
            .join(tot, "lbl")
            .withColumn("tot_adj", F.col("tot") - F.when(
                F.col("lbl") == F.col("own_lbl"), F.col("k")).otherwise(0))
            .withColumn("score",
                        F.lit(rd) * F.lit(two_m) * F.col("cnt")
                        - F.lit(rn) * F.col("k") * F.col("tot_adj"))
        )
        labels = (
            cand.groupBy("v")
            .agg(F.min(F.struct(
                (-F.col("score")).alias("ns"),
                F.when(F.col("lbl") == F.col("own_lbl"), 0).otherwise(1)
                 .alias("not_own"),
                F.col("lbl").alias("l"))).alias("e"))
            .select("v", F.col("e.l").alias("lbl"))
            .localCheckpoint(eager=False)   # fixed rounds: fuse, as in LPA
        )
    return labels.select(F.col("v").alias("vertex"),
                         F.col("lbl").alias("community"))


def betweenness_sampled(edges: DataFrame, sources: list,
                        max_depth: int = 12) -> DataFrame:
    """edges(src, dst) undirected + explicit source set -> (vertex, score).

    Brandes dependency accumulation restricted to ``sources`` (exact when
    sources = all vertices), run as a MULTI-SOURCE vectorized BFS: every
    frontier/level/delta table is keyed by (source, vertex), so all sources
    advance in the same joins — the job count is O(diameter), not
    O(diameter × |sources|). The forward pass is ``bfs_levels`` (sigma =
    shortest-path counts per level); the backward pass accumulates
    delta[v] = Σ_w sigma_v/sigma_w · (1 + delta[w]) over successors w.
    Endpoints excluded, undirected halving applied.
    """
    sym = symmetrize(edges).localCheckpoint(eager=True)
    spark = edges.sparkSession
    is_str = dict(edges.dtypes).get("src") == "string"
    vtype = "string" if is_str else "long"
    seeds = local_df(spark, [(v, v) for v in (
        sources if is_str else map(int, sources))], f"s {vtype}, v {vtype}")
    levels = bfs_levels(sym, seeds, max_depth)

    # ---- backward: dependency accumulation per (s, v) --------------------
    # Each level's contrib is checkpointed (it is the next level's delta
    # input and feeds two consumers), but LAZILY: the backward chain is
    # fixed once the levels exist — no driver decision between rounds — so
    # all contribs fuse into the final aggregation job (the LPA/Louvain
    # fixed-round pattern) while the checkpoints still truncate lineage.
    # The TOTAL is likewise deferred: per-level parts reference checkpoint
    # leaves only, so one final union + aggregate replaces a
    # re-checkpointed running total per level.
    parts = []
    delta = None
    for d in range(len(levels) - 1, 0, -1):
        lower = levels[d]
        if delta is not None:
            lower = (lower.join(delta, on=["s", "v"], how="left")
                     .fillna(0.0, subset=["delta"]))
        else:
            lower = lower.withColumn("delta", F.lit(0.0))
        upper = levels[d - 1].withColumnRenamed("sigma", "sigma_up")
        contrib = (
            lower.join(sym.withColumnRenamed("a", "v"), on="v")
            .join(upper.withColumnsRenamed({"v": "b"}), on=["s", "b"])
            .withColumn("c", F.col("sigma_up") / F.col("sigma")
                        * (F.lit(1.0) + F.col("delta")))
            .groupBy("s", F.col("b").alias("v"))
            .agg(F.sum("c").alias("delta"))
            .localCheckpoint(eager=False)
        )
        delta = contrib
        if d > 1:
            parts.append(levels[d - 1].select("s", "v")
                         .join(contrib, on=["s", "v"]).select("v", "delta"))

    if not parts:
        return spark.createDataFrame([], f"vertex {vtype}, score double")
    total = parts[0]
    for p in parts[1:]:
        total = total.unionByName(p)
    return (total.groupBy("v").agg(F.sum("delta").alias("delta"))
            .select(F.col("v").alias("vertex"),
                    (F.col("delta") / 2.0).alias("score")))
