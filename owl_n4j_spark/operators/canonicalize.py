"""Stage 5 — canonicalization: identity unification across aliases/devices.

The reference reaches identity fixpoint through chains of pairwise merges
(merge_entities / bulk_merge_entities / merge_person_identities —
/root/reference/backend/services/neo4j_service.py:2553-3052; WhatsApp-JID
folding — /root/reference/scripts/merge_whatsapp_identities.py). That is a
serial union-find executed against the database.

Spark-first re-expression: build the same-as edge set once (exact dict hits,
confirmed fuzzy pairs, extracted SAME_AS evidence, shared canonical phone is
implicit in key equality) and run **partition-local union-find rounds**
(the local round of BTS, ICDE 2024) in Python workers: an edge set that
fits one partition resolves in ONE round, whatever its diameter. Labels
are priority-prefixed ("0|phone-..." < "2|email-..." < "6|name") so the
winning label of a component IS the canonical key elected by the
reference's key cascade priority (phone > email > app-id > name).

Skew: a hub entity (70k+ relationships — BASELINE.md) has all its edges in
its own partition; the cross-partition minimum is a map-side combined
aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from owl_n4j_spark.functions.keys import key_priority_col

# Edge rows per union-find partition on average; a vertex's whole degree
# lands in its own partition, so a hub can exceed it. Measured cost per
# partition and the sf1 sweep that set it: BENCH/BASELINE.md.
_UF_ROWS = 1_000_000


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


def checkpoint_count(df: DataFrame, counted) -> tuple[DataFrame, int]:
    """Eagerly checkpoint ``df`` and return it with the number of rows
    where ``counted`` holds, observed on the checkpoint's own job."""
    obs = Observation()
    df = df.observe(obs, F.count(F.when(counted, 1)).alias("n")) \
        .localCheckpoint(eager=True)
    return df, int(obs.get["n"])


def _local_roots(batches):
    """mapInPandas body: union-find over one partition's labelled edges
    (ls, ld), each tree rooted at its minimum label; emits (x, p) for every
    vertex x, p the minimum label of x's component in this partition."""
    parent = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for b in batches:
        for a, c in zip(b["ls"], b["ld"]):
            ra, rc = root(a), root(c)
            if ra != rc:
                parent[max(ra, rc)] = min(ra, rc)
    if parent:
        yield pd.DataFrame({"x": list(parent),
                            "p": [root(x) for x in parent]})


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    canon_keys: DataFrame | None = None,
) -> DataFrame:
    """edges(src,dst) -> DataFrame(member_key, canonical_key).

    Union-find rounds over priority-prefixed labels. A round over n edges
    places each edge in the partition ``hash(label) % k`` of each endpoint,
    k = ceil(2n / _UF_ROWS), and maps every vertex x to p(x), the minimum
    label of its local components. With k = 1 that round is final; else
    the edges (r, p(x)), r != p(x), cross into the next round and labels
    compose through p. Raises RuntimeError if edges still cross after
    ``max_iter`` rounds.

    ``canon_keys`` (single column ``key``): keys that are dictionary
    canonicals — within the same cascade-priority class they win the
    election over incidental aliases (e.g. "emerald-imports-ltd" beats the
    short form "emerald-imports").
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if canon_keys is not None:
        for c in ("src", "dst"):
            e = e.join(F.broadcast(canon_keys.select(
                F.col("key").alias(c), F.lit(0).alias(f"{c}_bit"))),
                on=c, how="left")

    def label(c):
        bit = F.col(f"{c}_bit") if canon_keys is not None else F.lit(None)
        prio = key_priority_col(F.col(c)) * 2 + F.coalesce(bit, F.lit(1))
        return F.concat(prio.cast("string"), F.lit("|"), F.col(c))

    e, n = checkpoint_count(
        e.select(label("src").alias("ls"), label("dst").alias("ld")),
        F.lit(True))

    def unlabel(c):
        # the prefix is digits only: strip at the FIRST '|', keys may hold '|'
        return F.expr(f"substring({c}, instr({c}, '|') + 1)")

    # empty edge set (common: no SAME_AS evidence): no further job
    if n == 0:
        return e.select(unlabel("ls").alias("member_key"),
                        unlabel("ld").alias("canonical_key"))

    links = []  # per round: x -> p(x), on that round's vertices
    for _ in range(max_iter):
        k = -(-2 * n // _UF_ROWS)
        if k == 1:
            links.append(e.coalesce(1).mapInPandas(_local_roots,
                                                   "x string, p string"))
            break
        roots = (
            e.select(F.explode(F.array("ls", "ld")).alias("at"), "ls", "ld")
            .repartition(k, "at").select("ls", "ld")
            .mapInPandas(_local_roots, "x string, p string")
            .groupBy("x").agg(F.min("p").alias("p"),
                              F.collect_set("p").alias("rs"))
            .select("x", "p", F.explode("rs").alias("r"))
        )
        roots, n = checkpoint_count(roots, F.col("r") != F.col("p"))
        links.append(roots.filter("r = p").select("x", "p"))
        if n == 0:
            break
        e = roots.filter("r != p").selectExpr("r AS ls", "p AS ld")
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds: "
            f"{n} edges still crossing partitions")

    labels = links[0]
    for link in links[1:]:
        labels = (labels.join(link.withColumnsRenamed({"p": "q", "x": "p"}),
                              on="p", how="left")
                  .select("x", F.coalesce("q", "p").alias("p")))
    return labels.select(unlabel("x").alias("member_key"),
                         unlabel("p").alias("canonical_key"))


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
