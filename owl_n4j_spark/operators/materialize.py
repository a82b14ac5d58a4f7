"""Stage 6 — graph materialization: canonical nodes / edges / triples tables.

Re-expresses the reference's idempotent per-row MERGE writers
(/root/reference/ingestion/scripts/cellebrite/neo4j_writer.py:543-677:
MERGE (p:Person {key, case_id}) ON CREATE SET ... ON MATCH SET +=) as bulk
columnar writes: MERGE identity = (case_id, key) dropDuplicates / groupBy,
later-enrichment-patches = aggregation over all observations, node ids =
deterministic sha1(case_id|key) (replacing uuid4 at neo4j_client.py:341 so
re-runs are byte-identical — SURVEY.md §4 custom-work item 2).

Every node carries the universal contract (SURVEY.md §1.4): id, key, type,
name, case_id, provenance. Edges carry case_id + doc_refs (append-only
provenance log — neo4j_client.py:600-612). Referential integrity: edges are
semi-joined against nodes (the reference checks both endpoints exist before
MERGEing the rel — ingestion.py:605-615); dropped edges are counted as
quarantine for the manifest, never silently lost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# _is_real_name as a column predicate
# (ref: neo4j_writer.py:211-236 — rejects bare numbers, JIDs, phone-format
# echoes, placeholder names)
def is_real_name_col(surface):
    s = F.trim(surface)
    return (
        s.isNotNull()
        & (F.length(s) >= 2)
        & ~s.rlike(r"^[+\d][\d\s().\-]{4,}$")
        & ~s.rlike(r"^\+?\d{6,}@(s\.whatsapp\.net|c\.us|g\.us)$")
        & ~s.contains("@")
        & ~s.isin("(no name)", "System Message", "Sin Nombre")
    )


def build_nodes(mentions: DataFrame, final_mapping: DataFrame,
                case_id: str) -> DataFrame:
    """mentions (canonical mention_key) -> one row per (case_id, key).

    - type: most frequent mention_type, lowest on a tie; untyped (NULL)
      mentions count as a type that sorts first and elects "Entity" (so
      does an empty-string type)
    - name: most frequent real-name surface, lowest on a tie; falls back
      to the key (alias rollup + best-primary election — ref
      neo4j_writer.py:3049-3094)
    - name_aliases: every distinct real-name surface (A4)
    - phone_numbers: every phone-keyed member of the identity component
      (ref: phone_numbers list prop, neo4j_writer.py:857-861)
    - date/amount: first non-null observation (deterministic min)

    One aggregation per key; ``mode`` and ``collect_set`` combine map-side.
    """
    m = mentions.filter(F.col("mention_key").isNotNull())
    real = F.when(is_real_name_col(F.col("surface")), F.col("surface"))

    # phone_numbers from the identity component membership
    phones = (
        final_mapping.filter(F.col("raw_key").startswith("phone-"))
        .select(F.col("canonical_key").alias("mention_key"),
                F.concat(F.lit("+"), F.expr("substring(raw_key, 7, 100)"))
                 .alias("num"))
        .groupBy("mention_key")
        .agg(F.sort_array(F.collect_set("num")).alias("phone_numbers"))
    )

    attrs = m.groupBy("mention_key").agg(
        # mode() skips NULLs: '' stands in for an untyped mention
        F.nullif(F.mode(F.coalesce(F.col("mention_type"), F.lit("")), True),
                 F.lit("")).alias("type"),
        F.mode(real, True).alias("name"),
        F.sort_array(F.collect_set(real)).alias("name_aliases"),
        F.min("date").alias("date_str"),
        F.min("ts").alias("ts"),
        F.min("amount").alias("amount_str"),
        F.count("*").alias("mention_count"),
    )

    key = F.col("mention_key")
    return (
        attrs.join(phones, "mention_key", "left")
        .select(
            F.sha1(F.concat_ws("|", F.lit(case_id), key)).alias("node_id"),
            key.alias("key"),
            F.coalesce(F.col("type"), F.lit("Entity")).alias("type"),
            F.coalesce(F.col("name"), key).alias("name"),
            F.lit(case_id).alias("case_id"),
            F.col("name_aliases"),
            F.coalesce(F.col("phone_numbers"), F.array().cast("array<string>"))
             .alias("phone_numbers"),
            F.to_date("date_str").alias("date"),
            F.col("ts"),
            F.col("amount_str").cast("decimal(18,2)").alias("amount"),
            F.lit("transcript").alias("source_type"),
            F.col("mention_count"),
        )
    )


def build_edges(triples: DataFrame, case_id: str) -> DataFrame:
    """Per-occurrence triples -> deduped graph edges with provenance rollup
    (doc_refs = the conversations that evidence the edge)."""
    return (
        triples.groupBy(
            F.col("subj_key").alias("src_key"),
            F.col("pred").alias("rel_type"),
            F.col("obj_key").alias("dst_key"),
        )
        .agg(
            F.sort_array(F.collect_set("conv_id")).alias("doc_refs"),
            F.min("ts").alias("ts"),
            F.count("*").alias("weight"),
        )
        .select("src_key", "dst_key", "rel_type",
                F.lit(case_id).alias("case_id"), "doc_refs", "ts", "weight")
    )


def enforce_referential(edges: DataFrame, nodes: DataFrame,
                        count_drops: bool = True):
    """Keep only edges whose both endpoints exist (J5). Returns
    (valid_edges, n_quarantined); with ``count_drops=False`` skips the two
    count actions (quarantine accounting is manifest-only)."""
    keys = nodes.select(F.col("key"))
    valid = (
        edges.join(keys.withColumnRenamed("key", "src_key"), "src_key", "leftsemi")
        .join(keys.withColumnRenamed("key", "dst_key"), "dst_key", "leftsemi")
    )
    if not count_drops:
        return valid, 0
    n_all = edges.count()
    n_valid = valid.count()
    return valid, n_all - n_valid
