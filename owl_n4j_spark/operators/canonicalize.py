"""Stage 5 — canonicalization: identity unification across aliases/devices.

The reference reaches identity fixpoint through chains of pairwise merges
(merge_entities / bulk_merge_entities / merge_person_identities —
/root/reference/backend/services/neo4j_service.py:2553-3052; WhatsApp-JID
folding — /root/reference/scripts/merge_whatsapp_identities.py). That is a
serial union-find executed against the database.

Spark-first re-expression: build the same-as edge set once (exact dict hits,
confirmed fuzzy pairs, extracted SAME_AS evidence, shared canonical phone is
implicit in key equality) and run **iterative hash-min connected components**
— each vertex repeatedly adopts the minimum label in its neighbourhood until
fixpoint. Labels are priority-prefixed ("0|phone-..." < "1|email-..." <
"3|name") so the winning label of a component IS the canonical key elected
by the reference's key cascade priority (phone > email > app-id > name).

Skew: the documented hub entities (70k+ relationships — BASELINE.md) make
the per-destination min-aggregation skewed. The aggregation is algebraic,
so Spark's hash aggregate bounds it by construction: map-side partial
aggregation emits one row per destination per map task, so a hub's
reduce-side fan-in is O(map tasks) — plus AQE skew-join splitting on the
label join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from owl_n4j_spark.functions.keys import key_priority_col


def symmetrize(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> distinct undirected adjacency (a, b), both
    directions, self-loops dropped. One explode of both orientations per
    edge, so the edge plan is scanned once (a union of two projections
    would run it once per leg)."""
    return (
        edges.select(F.explode(F.array(
            F.struct(F.col("src").alias("a"), F.col("dst").alias("b")),
            F.struct(F.col("dst").alias("a"), F.col("src").alias("b"))))
            .alias("e"))
        .select("e.a", "e.b")
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _checkpoint_count(df: DataFrame, counted) -> tuple[DataFrame, int]:
    """Eagerly checkpoint ``df`` and return it with the number of rows
    where ``counted`` holds, observed on the checkpoint's own job."""
    obs = Observation()
    df = df.observe(obs, F.count(F.when(counted, 1)).alias("n")) \
        .localCheckpoint(eager=True)
    return df, int(obs.get["n"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    canon_keys: DataFrame | None = None,
) -> DataFrame:
    """edges(src,dst) -> DataFrame(member_key, canonical_key).

    Hash-min label propagation with priority-prefixed labels, map-side
    partial aggregation, and lineage truncation via localCheckpoint.
    Converges in O(diameter) rounds; alias graphs are near-star-shaped
    (diameter <= ~4), so this is a handful of cheap shuffles. Raises
    RuntimeError if labels still change after ``max_iter`` rounds.

    ``canon_keys`` (single column ``key``): keys that are dictionary
    canonicals — within the same cascade-priority class they win the
    election over incidental aliases (e.g. "emerald-imports-ltd" beats the
    short form "emerald-imports").
    """
    sym, n_sym = _checkpoint_count(symmetrize(edges), F.lit(True))
    # Empty edge set (common: a corpus whose extraction emitted no SAME_AS
    # evidence) — every vertex is its own component and the label machinery
    # (labels0 checkpoint + one no-op round, 2 scheduled jobs) would
    # compute nothing. The row count is observed on the checkpoint's own
    # job, so the short-circuit costs no job at all.
    if n_sym == 0:
        return sym.select(F.col("a").alias("member_key"),
                          F.col("b").alias("canonical_key"))
    verts = sym.select(F.col("a").alias("v")).dropDuplicates(["v"])
    if canon_keys is not None:
        verts = verts.join(
            F.broadcast(canon_keys.select(F.col("key").alias("v"))
                        .withColumn("__is_canon", F.lit(0))),
            on="v", how="left")
    else:
        verts = verts.withColumn("__is_canon", F.lit(None).cast("int"))
    prio = key_priority_col(F.col("v")) * 2 + F.coalesce(F.col("__is_canon"), F.lit(1))
    labels = (
        verts.withColumn("comp", F.concat(prio.cast("string"), F.lit("|"), F.col("v")))
        .drop("__is_canon")
        .localCheckpoint(eager=True)
    )

    for it in range(max_iter):
        # Neighbour minimum: ONE hash aggregation. min() is algebraic, so
        # Spark's hash aggregate partially aggregates map-side — every map
        # task emits at most one row per destination, which already bounds
        # a hub's reduce-side fan-in at O(map tasks). The earlier explicit
        # (b, salt) pre-aggregation re-implemented exactly that bound at
        # the price of a SECOND full shuffle per round — removed (guide
        # §2.3/§2.5: partial aggregation IS the skew handling for
        # algebraic aggs; salting is for non-combinable shapes).
        nbr = (
            sym.join(labels.withColumnRenamed("v", "a"), on="a")
            .groupBy("b").agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("b", "v")
        )
        new_labels = (
            labels.join(nbr, on="v", how="left")
            .select("v", F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"),
                                                           F.col("comp"))).alias("comp"),
                    (F.col("nbr_comp") < F.col("comp")).alias("changed"))
        )
        # Convergence: the changed-label count is observed on the round's
        # own checkpoint job — no separate poll job per round.
        new_labels, n_changed = _checkpoint_count(new_labels, F.col("changed"))
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds: "
            f"{n_changed} labels still changing")

    return labels.select(
        F.col("v").alias("member_key"),
        F.substring_index(F.col("comp"), "|", -1).alias("canonical_key"),
    )


def cross_device_projection(mapping: DataFrame) -> DataFrame:
    """Cross-phone person projection (SURVEY J11 — the reference unifies a
    person observed across several phone extractions into one Person with
    all device numbers attached, neo4j_writer person MERGE). Pure rollup of
    the canonical mapping: every raw phone-key member grouped under its
    canonical identity, devices as a sorted array. One hash aggregation —
    map-side combinable, no windows; output is O(persons)."""
    ph = (mapping.filter(F.col("raw_key").startswith("phone-"))
          .select("canonical_key", F.col("raw_key").alias("phone_key"))
          .dropDuplicates())
    return (
        ph.groupBy("canonical_key")
        .agg(F.array_sort(F.collect_set("phone_key")).alias("phone_keys"))
        .withColumn("n_devices", F.size("phone_keys").cast("bigint"))
    )


def build_sameas_edges(
    mapping: DataFrame,
    sameas_records: DataFrame,
) -> DataFrame:
    """Assemble the same-entity edge set (SURVEY.md G6) at the CANONICAL
    level: extracted SAME_AS evidence with both endpoints remapped through
    the linking dictionary.

    Raw->canonical linking pairs are NOT edges here — raw keys reach their
    component through the mapping compose in ``canonical_mapping``, so
    including them would only inflate the CC vertex set by every linked raw
    key (measured ~5x at bench scale) without changing connectivity between
    canonical identities. Canonical-key election is unaffected: linked raw
    keys carry the non-canonical priority bit and can never win over their
    canonical, so restricting the electorate to canonicals elects the same
    winner.

    mapping:        (raw_key, canonical_key, method) from linking.
    sameas_records: extraction records with kind='sameas' (raw keys).
    """
    m = mapping.select("raw_key", "canonical_key")
    e = sameas_records.select(F.col("subj_key").alias("src"),
                              F.col("obj_key").alias("dst"))
    for c in ("src", "dst"):
        mc = m.select(F.col("raw_key").alias(c),
                      F.col("canonical_key").alias(f"__c_{c}"))
        e = (e.join(F.broadcast(mc), on=c, how="left")
             .withColumn(c, F.coalesce(F.col(f"__c_{c}"), F.col(c)))
             .drop(f"__c_{c}"))
    return e.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst"))
    ).dropDuplicates(["src", "dst"])


def canonical_mapping(
    mapping: DataFrame,
    sameas_records: DataFrame,
) -> DataFrame:
    """Final raw_key -> component-canonical key.

    Runs connected components over the same-as graph, then composes:
    raw_key -> (linking canonical) -> (component canonical). Keys that are
    in no component keep their linking-canonical key.

    The pre-CC linking decision is kept as ``link_key`` — the merge-audit
    surface (U4 — backend/services/rejected_pairs_service.py +
    neo4j_service.py:2553-3052 merge history) reports each member's path
    raw -> link -> component, and link_key != canonical_key identifies
    exactly the merges the SAME_AS evidence (not the dictionary) caused.
    """
    edges = build_sameas_edges(mapping, sameas_records)
    canon_keys = (mapping.filter(F.col("method") == "exact")
                  .select(F.col("canonical_key").alias("key")).distinct())
    comps = connected_components(edges, canon_keys=canon_keys)
    return (
        mapping.join(
            comps.select(F.col("member_key").alias("canonical_key"),
                         F.col("canonical_key").alias("component_key")),
            on="canonical_key", how="left")
        .select(
            "raw_key",
            F.coalesce(F.col("component_key"), F.col("canonical_key"))
             .alias("canonical_key"),
            "method",
            F.col("canonical_key").alias("link_key"),
        )
    )
