"""Distributed graph analytics: label propagation (communities) and
sampled-source Brandes betweenness.

The reference implements Louvain and betweenness as in-Python loops over the
whole edge list pulled out of Neo4j (/root/reference/backend/services/
neo4j_service.py:1641-1885 Louvain, :1886-2092 Brandes BFS) — single-machine,
memory-bound at case scale. Here both are DataFrame iterations:

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
from owl_n4j_spark.operators.canonicalize import symmetrize


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
    O(diameter × |sources|). Forward pass computes sigma (shortest-path
    counts) level by level; backward pass accumulates
    delta[v] = Σ_w sigma_v/sigma_w · (1 + delta[w]) over successors w.
    Endpoints excluded, undirected halving applied.
    """
    sym = symmetrize(edges).localCheckpoint(eager=True)
    spark = edges.sparkSession
    is_str = dict(edges.dtypes).get("src") == "string"
    vtype = "string" if is_str else "long"
    seed = local_df(
        spark,
        [((s if is_str else int(s)), (s if is_str else int(s)), 1.0)
         for s in sources],
        f"s {vtype}, v {vtype}, sigma double")

    # ---- forward: levels of (s, v, sigma) --------------------------------
    # The visited set is a lazy union over the level checkpoints (leaf
    # scans), so each BFS round materializes exactly one job — the new
    # level's checkpoint — instead of re-checkpointing `seen` every round.
    levels = [seed.localCheckpoint(eager=True)]
    for _ in range(max_depth):
        seen = levels[0].select("s", "v")
        for lv in levels[1:]:
            seen = seen.unionByName(lv.select("s", "v"))
        nxt = (
            levels[-1].join(sym.withColumnRenamed("a", "v"), on="v")
            .groupBy("s", F.col("b").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(seen, on=["s", "v"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)

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
        return spark.createDataFrame([], "vertex string, score double")
    total = parts[0]
    for p in parts[1:]:
        total = total.unionByName(p)
    return (total.groupBy("v").agg(F.sum("delta").alias("delta"))
            .select(F.col("v").alias("vertex"),
                    (F.col("delta") / 2.0).alias("score")))
