"""Analytics serving layer over the materialized KG (SURVEY.md §2 / §3.3).

The reference serves these from Neo4j per-request (graph summary
`backend/services/neo4j_service.py:886-948`, thread aggregation `:8444-8950`,
timeline `:1178-1357`, top-N by degree `:427-470`). Here each is a
DataFrame query over the pipeline's output tables (triples/nodes/edges built
from the events-derived transcripts — sources/events_transcripts.py), so
each has an exact DuckDB oracle composed from the same relational
derivation of the expected pipeline output.

The pipeline runs ONCE per sf_dir (parquet-warehouse cache) and every query
here reads its committed outputs — the precompute-then-serve shape the
reference arrived at operationally (denormalized counts,
`scripts/backfill_person_comm_counts.py`).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from owl_n4j_spark.functions.numeric import sql_stable_round, stable_round
from owl_n4j_spark.localrel import local_df
from owl_n4j_spark.pipeline import run_pipeline
from owl_n4j_spark.sources import events_transcripts as et
from owl_n4j_spark.sources.events_transcripts import _BASE_CTE, _TRIPLE_LEGS
from owl_n4j_spark.sources.ufed_xml import UFED_N_FILES

_SHARED: dict[tuple, object] = {}


def _cache_key(spark: SparkSession, sf_dir: str) -> tuple:
    """Cache/warehouse identity: the SparkSession that owns the cached
    DataFrames (a restarted session leaves dead handles) + the FULL resolved
    sf_dir (two dirs with the same basename must not collide)."""
    return (spark.sparkContext.applicationId, os.path.realpath(sf_dir))


def warehouse_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    app, full = _cache_key(spark, sf_dir)
    tag = hashlib.sha1(f"{app}|{full}".encode()).hexdigest()[:12]
    return f"/tmp/owl_{kind}_{os.getpid()}_{tag}"


def shared_table(spark: SparkSession, sf_dir: str, name: str, build,
                 parquet: bool = True):
    """Build a shared subplan ONCE per (session, sf_dir, name) and serve
    every later call the same object — the build-once, serve-many rule
    for tables several queries consume.

    ``parquet=True``: ``build()`` returns a DataFrame, which is written to
    ``warehouse_dir(spark, sf_dir, name)`` and served as its read-back.
    ``parquet=False``: ``build()``'s own result is kept — a committed
    pipeline, a checkpointed frame (the caller's ``localCheckpoint`` sits
    inside ``build``, so the caller keeps its eagerness), or a fixture
    dir or stream output that ``build`` writes under ``warehouse_dir``.

    Paths resolve through this module's ``warehouse_dir`` at call time,
    so rebinding ``kg_analytics.warehouse_dir`` re-roots every shared
    table. There is no lock: no caller reaches a shared table from two
    threads (run_pipeline's pool touches only its committed stages). There
    is no schema stamp: paths are per (pid, application), so no other
    engine version ever reads them. Nothing resumes across processes —
    that is pipeline.staged()'s job (stamp, snapshot id, chain
    invalidation), kept apart on purpose."""
    key = (*_cache_key(spark, sf_dir), name)
    if key not in _SHARED:
        if parquet:
            path = warehouse_dir(spark, sf_dir, name)
            build().write.mode("overwrite").parquet(path)
            _SHARED[key] = spark.read.parquet(path)
        else:
            _SHARED[key] = build()
    return _SHARED[key]


def kg_result(spark: SparkSession, sf_dir: str) -> dict:
    """Full pipeline over events-derived transcripts, committed once per
    (session, sf_dir) to a parquet warehouse (a ``shared_table``) and
    reused across queries and across the kg_* driver entries."""
    return shared_table(spark, sf_dir, "kg_wh", lambda: run_pipeline(
        spark, et.transcripts_from_events(spark, sf_dir),
        alias_dict=et.alias_dict_df(spark),
        warehouse=warehouse_dir(spark, sf_dir, "kg_wh"),
        with_manifest=True), parquet=False)


# ---------------------------------------------------------------------------
# L8 (first half) — NL -> query routing before the RAG fallback
# ---------------------------------------------------------------------------

# The reference tries NL -> Cypher template routing FIRST and falls back to
# RAG retrieval when no template matches (rag_service.py:627-686). The
# routable intents and the benchmark question set are fixed config (the
# reference's templates are too); entities/parameters are extracted from
# the question text by the same rules in both engines.
NL_QUESTIONS = [
    "who did phone-12002000000 pay most often",
    "show the timeline for conv-00000003",
    "top 10 most connected people",
    "where was phone-12012070013 last seen",
    "summarize the graph",
    "find documents about window replacement",
    "which people travelled together last month",
    "how many messages are in each thread",
    "what does the weather look like tomorrow",
    "top 3 most connected people",
]


def kg_nl_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL -> query routing (SURVEY L8 first half — rag_service.py:627-686
    attempts template NL->Cypher before RAG): classify each question to a
    serving-layer intent by keyword rules, extract its parameters (entity
    key, conversation id, top-k) with shared-regex column expressions, and
    emit the routing decision; unroutable questions fall back to
    'rag_retrieve' — exactly the reference's fallback contract. Pure
    column expressions over a 10-row config table; the oracle repeats the
    same rules in SQL, so the routing logic itself is hash-checked."""
    rows = [(i, q) for i, q in enumerate(NL_QUESTIONS)]
    df = local_df(spark, rows, "question_id int, question string")
    q = F.col("question")
    intent = (
        F.when(q.contains("pay"), F.lit("kg_payment_facts"))
        .when(q.contains("timeline"), F.lit("kg_timeline_page"))
        .when(q.contains("connected"), F.lit("kg_degree_topn"))
        .when(q.contains("last seen"), F.lit("kg_last_location"))
        .when(q.contains("summarize"), F.lit("kg_graph_summary"))
        .when(q.contains("documents about"), F.lit("q_doc_search"))
        .when(q.contains("travelled together"), F.lit("q_geo_copresence"))
        .when(q.contains("thread"), F.lit("kg_thread_stats"))
        .otherwise(F.lit("kg_rag_retrieve"))
    )
    return df.select(
        "question_id", "question",
        intent.alias("intent"),
        F.nullif(F.regexp_extract(q, r"(phone-[0-9]+|conv-[0-9]+)", 0),
                 F.lit("")).alias("entity"),
        F.nullif(F.regexp_extract(q, r"top ([0-9]+)", 1), F.lit(""))
         .cast("bigint").alias("top_k"),
        (intent == "kg_rag_retrieve").alias("rag_fallback"),
    ).orderBy("question_id")


def _sql_kg_nl_route() -> str:
    rows = ", ".join(f"({i}, '{q}')" for i, q in enumerate(NL_QUESTIONS))
    return f"""
WITH nq(question_id, question) AS (VALUES {rows}),
routed AS (
  SELECT question_id, CAST(question_id AS INT) AS __qi, question,
         CASE WHEN question LIKE '%pay%' THEN 'kg_payment_facts'
              WHEN question LIKE '%timeline%' THEN 'kg_timeline_page'
              WHEN question LIKE '%connected%' THEN 'kg_degree_topn'
              WHEN question LIKE '%last seen%' THEN 'kg_last_location'
              WHEN question LIKE '%summarize%' THEN 'kg_graph_summary'
              WHEN question LIKE '%documents about%' THEN 'q_doc_search'
              WHEN question LIKE '%travelled together%'
                THEN 'q_geo_copresence'
              WHEN question LIKE '%thread%' THEN 'kg_thread_stats'
              ELSE 'kg_rag_retrieve' END AS intent,
         nullif(regexp_extract(question, '(phone-[0-9]+|conv-[0-9]+)', 0),
                '') AS entity,
         CAST(nullif(regexp_extract(question, 'top ([0-9]+)', 1), '')
              AS BIGINT) AS top_k
  FROM nq
)
SELECT CAST(question_id AS INT) AS question_id, question, intent, entity,
       top_k, intent = 'kg_rag_retrieve' AS rag_fallback
FROM routed ORDER BY question_id
"""


SQL_KG_NL_ROUTE = _sql_kg_nl_route()


# ---------------------------------------------------------------------------
# L2 — fuzzy disambiguation as a driver-checkable operator
# ---------------------------------------------------------------------------


def kg_fuzzy_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic disambiguation benchmark (SURVEY L2/J2 —
    entity_resolution.py:54-135's fuzzy candidate search + scorer): every
    OBSERVED person name key is corrupted by a deterministic typo (drop
    the 3rd character of the last-name token, preserving the blocking
    token), then resolved through the REAL linking operator
    (operators/linking.build_key_mapping: exact broadcast join -> blocked
    fuzzy candidate join -> levenshtein-ratio top-1 >= 0.84). The oracle
    mirrors the whole cascade in SQL over the embedded alias dictionary,
    so the disambiguation path itself — not just its parity tests — is
    driver-hash-checked."""
    from owl_n4j_spark.operators.linking import build_key_mapping

    res = kg_result(spark, sf_dir)
    names = (res["mapping"]
             .filter(F.col("canonical_key").startswith("phone-")
                     & ~F.col("raw_key").startswith("phone-"))
             .select(F.col("raw_key").alias("k")).dropDuplicates())
    corr = (
        names
        .selectExpr("k",
                    "substring(k, length(split_part(k, '-', 1)) + 2) AS t")
        .selectExpr("concat(split_part(k, '-', 1), '-', "
                    "substring(t, 1, 2), substring(t, 4)) AS raw_key")
        .dropDuplicates()
        .withColumn("mention_type", F.lit("Person"))
    )
    mapping = build_key_mapping(corr, et.alias_dict_df(spark),
                                fuzzy_strategy="block")
    return mapping.select("raw_key", "canonical_key", "method") \
                  .orderBy("raw_key")


def _sql_kg_fuzzy_resolve() -> str:
    from owl_n4j_spark.sources.events_transcripts import _universe
    from owl_n4j_spark.synth import alias_dict_pandas
    u = _universe()
    pm_rows = ", ".join(f"({p.idx}, '{p.name_key}')" for p in u.persons)
    dict_rows = ", ".join(
        f"('{r.alias}', '{r.canonical_key}', '{r.entity_type}')"
        for r in alias_dict_pandas(u).itertuples(index=False))
    return f"""
WITH {_BASE_CTE},
users_named AS (
  SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS idx
  FROM t WHERE event_type != 'error'
),
others AS (
  SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) + 1 AS idx
  FROM t WHERE event_type IN ('purchase', 'view')
),
name_people AS (SELECT idx FROM users_named UNION SELECT idx FROM others),
pm(idx, name_key) AS (VALUES {pm_rows}),
ad(alias, ck, et) AS (VALUES {dict_rows}),
observed AS (
  SELECT DISTINCT pm.name_key AS k
  FROM name_people np JOIN pm ON pm.idx = np.idx
),
corr AS (
  SELECT DISTINCT concat(split_part(k, '-', 1), '-',
                         substring(t, 1, 2), substring(t, 4)) AS raw_key
  FROM (SELECT k, substring(k, length(split_part(k, '-', 1)) + 2) AS t
        FROM observed)
),
exact AS (
  SELECT c.raw_key, d.ck FROM corr c JOIN ad d ON d.alias = c.raw_key
),
unres AS (
  SELECT raw_key FROM corr
  WHERE raw_key NOT IN (SELECT raw_key FROM exact)
),
cand AS (
  SELECT alias, ck FROM ad
  WHERE alias NOT LIKE 'phone-%' AND alias NOT LIKE 'email-%'
    AND et = 'Person'
),
scored AS (
  SELECT u.raw_key, c.ck,
         1.0 - CAST(levenshtein(u.raw_key, c.alias) AS DOUBLE)
             / greatest(length(u.raw_key), length(c.alias)) AS score
  FROM unres u
  JOIN cand c ON split_part(u.raw_key, '-', 1) = split_part(c.alias, '-', 1)
),
best AS (
  SELECT raw_key, ck FROM (
    SELECT raw_key, ck,
           row_number() OVER (PARTITION BY raw_key
                              ORDER BY score DESC, ck) AS rn
    FROM scored WHERE score >= 0.84
  ) WHERE rn = 1
),
rows AS (
  SELECT raw_key, ck AS canonical_key, 'exact' AS method FROM exact
  UNION ALL
  SELECT raw_key, ck, 'fuzzy' FROM best
  UNION ALL
  SELECT raw_key, raw_key, 'self' FROM unres
  WHERE raw_key NOT IN (SELECT raw_key FROM best)
)
SELECT raw_key, canonical_key, method FROM rows ORDER BY raw_key
"""


SQL_KG_FUZZY_RESOLVE = _sql_kg_fuzzy_resolve()


# ---------------------------------------------------------------------------
# K6 — cost ledger: per-stage processing cost over the reconciliation rows
# ---------------------------------------------------------------------------

# micro-units per input row, per stage — the analog of the reference's
# per-LLM-call cost ledger (ingestion tracks estimated cost per operation);
# here the priced unit is rows through each pipeline stage.
STAGE_COST_MICRO = {
    "normalize": 2,
    "extract": 40,            # regex/Arrow extraction dominates
    "link_canonicalize": 25,  # fuzzy candidate join + CC
    "triples": 4,
    "materialize_nodes": 6,
    "edges_referential": 3,
}


def kg_cost_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost ledger over the pipeline manifest (SURVEY K6 — the reference
    keeps a per-operation cost ledger for its ingest/LLM calls). Each
    reconciliation stage row is priced at a per-input-row micro-unit rate
    (broadcast CASE — pure column expr); output adds the stage cost and
    its share of the run total. One 6-row aggregate — serving-layer cheap."""
    res = kg_result(spark, sf_dir)
    rate = F.lit(0)
    for stage, micro in STAGE_COST_MICRO.items():
        rate = F.when(F.col("stage") == stage, F.lit(micro)).otherwise(rate)
    m = (res["manifest"].filter(F.col("partition_id") == -1)
         .select("stage", "in_rows", "out_rows",
                 rate.cast("bigint").alias("unit_cost_micro")))
    m = m.withColumn("cost_micro", F.col("in_rows") * F.col("unit_cost_micro"))
    tot = m.agg(F.sum("cost_micro").alias("total")).withColumn(
        "__one", F.lit(1))
    return (
        m.withColumn("__one", F.lit(1))
        .join(F.broadcast(tot), "__one").drop("__one")
        .select("stage", "in_rows", "out_rows", "unit_cost_micro",
                "cost_micro",
                stable_round(F.col("cost_micro") * 100.0 / F.col("total"), 4)
                .alias("pct_of_total"))
        .orderBy("stage")
    )


def _sql_kg_cost_ledger() -> str:
    rate = " ".join(f"WHEN '{s}' THEN {c}"
                    for s, c in STAGE_COST_MICRO.items())
    return f"""
WITH manifest AS ({et.oracle_manifest_sql()}),
priced AS (
  SELECT stage, in_rows, out_rows,
         CAST(CASE stage {rate} ELSE 0 END AS BIGINT) AS unit_cost_micro,
         CAST(in_rows * (CASE stage {rate} ELSE 0 END) AS BIGINT)
           AS cost_micro
  FROM manifest
)
SELECT stage, in_rows, out_rows, unit_cost_micro, cost_micro,
       {sql_stable_round(
           'cost_micro * 100.0 / (SELECT SUM(cost_micro) FROM priced)', 4)}
         AS pct_of_total
FROM priced ORDER BY stage
"""


SQL_KG_COST_LEDGER = _sql_kg_cost_ledger()


# ---------------------------------------------------------------------------
# L6 — relationship suggestion: link prediction over shared neighbours
# ---------------------------------------------------------------------------

SUGGEST_MIN_COMMON = 1


def kg_suggest_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-relationship suggestion (SURVEY L6 —
    backend/services/relationship_analyzer.py:34-150 proposes likely
    person-person links): person pairs that SHARE >= SUGGEST_MIN_COMMON
    comm-graph neighbours but have no direct edge — the classic
    common-neighbour link-prediction score, as one plan:
      symmetric person edge list -> 2-hop self-join on the shared endpoint
      (equi-join, bounded by degree like q_graph_2hop) -> anti-join against
      direct edges -> count distinct witnesses per pair.
    Scale: the self-join shuffles on the shared vertex (partial-agg
    friendly); no broadcast of anything O(V); the anti-join streams the
    same edge table."""
    res = kg_result(spark, sf_dir)
    e = (res["edges"]
         .filter(F.col("rel_type").isin("PAID", "CALLED")
                 & F.col("src_key").startswith("phone-")
                 & F.col("dst_key").startswith("phone-"))
         .select(F.col("src_key").alias("a"), F.col("dst_key").alias("b"))
         .dropDuplicates())
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    cand = (
        sym.select(F.col("a").alias("x"), F.col("b").alias("src"))
        .join(sym.select(F.col("a").alias("x"), F.col("b").alias("dst")), "x")
        .filter(F.col("src") < F.col("dst"))
        .join(sym.select(F.col("a").alias("src"), F.col("b").alias("dst")),
              ["src", "dst"], "left_anti")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_common"),
             F.min("x").alias("sample_witness"))
        .filter(F.col("n_common") >= SUGGEST_MIN_COMMON)
        .orderBy("src", "dst")
    )
    return cand


SQL_KG_SUGGEST_LINKS = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
e AS (
  SELECT DISTINCT subj_key AS a, obj_key AS b FROM triples
  WHERE pred IN ('PAID', 'CALLED')
    AND subj_key LIKE 'phone-%' AND obj_key LIKE 'phone-%'
),
sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e)
SELECT s1.b AS src, s2.b AS dst,
       COUNT(*) AS n_common, MIN(s1.a) AS sample_witness
FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
WHERE NOT EXISTS (SELECT 1 FROM sym d WHERE d.a = s1.b AND d.b = s2.b)
GROUP BY s1.b, s2.b
HAVING COUNT(*) >= {SUGGEST_MIN_COMMON}
ORDER BY src, dst
"""


# ---------------------------------------------------------------------------
# L7 — insight generation + verification against the source evidence
# ---------------------------------------------------------------------------

INSIGHT_MIN_SUPPORT = 2


def kg_insights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insight generate + verify (SURVEY L7 —
    backend/services/insights_service.py:10 generates claims, then
    verifies each against the graph/source): payment-pattern insights
    ('A paid B n times totaling $x') with support >= INSIGHT_MIN_SUPPORT,
    each claim VERIFIED against the raw transcript text — every
    supporting triple must locate its amount in its source turn
    ('paid $<amount> to'), the reference's quote-validation discipline.
    Money is carried as integer cents end-to-end so the claim string is
    engine-exact. The verify leg is an equi-join of supporting triples
    back to the staged transcripts on (conv_id, turn_idx) — bounded,
    shuffle-partitioned, no windows."""
    res = kg_result(spark, sf_dir)
    pay = (res["triples"].filter(F.col("pred") == "PAID")
           .select("subj_key", "obj_key", "amount", "conv_id", "turn_idx"))
    tr = res["transcripts"].select("conv_id", "turn_idx", "text")
    checked = (
        pay.join(tr, ["conv_id", "turn_idx"], "left")
        .withColumn(
            "ok",
            F.col("text").isNotNull()
            & F.col("text").contains(
                F.concat(F.lit("paid $"), F.col("amount"), F.lit(" to"))))
        .withColumn("cents",
                    F.regexp_replace("amount", r"\.", "").cast("bigint"))
    )
    agg = (
        checked.groupBy("subj_key", "obj_key")
        .agg(F.count("*").alias("n_payments"),
             F.sum("cents").alias("total_cents"),
             F.min(F.col("ok").cast("int")).alias("all_ok"))
        .filter(F.col("n_payments") >= INSIGHT_MIN_SUPPORT)
    )
    return (
        agg.select(
            "subj_key", "obj_key", "n_payments", "total_cents",
            F.format_string(
                "%s paid %s %d times totaling $%d.%02d",
                F.col("subj_key"), F.col("obj_key"), F.col("n_payments"),
                F.expr("total_cents div 100"),
                F.expr("total_cents % 100")).alias("claim"),
            (F.col("all_ok") == 1).alias("verified"))
        .orderBy("subj_key", "obj_key")
    )


SQL_KG_INSIGHTS = f"""
WITH {_BASE_CTE},
pay AS (
  SELECT spk AS subj_key, oth AS obj_key,
         CAST(replace(printf('%.2f', value), '.', '') AS BIGINT) AS cents
  FROM t WHERE event_type = 'purchase'
),
agg AS (
  SELECT subj_key, obj_key, COUNT(*) AS n_payments,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM pay GROUP BY subj_key, obj_key
  HAVING COUNT(*) >= {INSIGHT_MIN_SUPPORT}
)
SELECT subj_key, obj_key, n_payments, total_cents,
       printf('%s paid %s %d times totaling $%d.%02d',
              subj_key, obj_key, n_payments,
              total_cents // 100, total_cents % 100) AS claim,
       TRUE AS verified
FROM agg ORDER BY subj_key, obj_key
"""


# ---------------------------------------------------------------------------
# S1 — raw UFED-XML ingestion: streamed chunked parse -> transcripts contract
# ---------------------------------------------------------------------------


def ensure_ufed_xml(spark: SparkSession, sf_dir: str) -> str:
    """Generate the UFED-XML fixture dumps once per (session, sf) (a
    ``shared_table``) — test scaffolding, benchmarked under its own name so
    the parse operator's timing stays honest."""
    from owl_n4j_spark.sources.ufed_xml import write_ufed_xml

    return shared_table(spark, sf_dir, "ufed_xml", lambda: write_ufed_xml(
        spark, sf_dir, warehouse_dir(spark, sf_dir, "ufed_xml")),
        parquet=False)


def _ufed_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch XML-dump parse (turns contract), parsed ONCE per
    (session, sf): three queries consume exactly this frame — q_xml_ingest,
    q_xml_reconcile's persisted leg, and q_stream_parity's batch side —
    and each re-ran the full 200-dump iterparse (~1.2 s at sf0.1).
    A parquet ``shared_table`` (exactly the production shape
    q_xml_reconcile's docstring names: the persisted side reads the
    ingest's already-written warehouse output)."""
    from owl_n4j_spark.sources.ufed_xml import read_ufed_xml

    return shared_table(spark, sf_dir, "ufed_turns", lambda: read_ufed_xml(
        spark, ensure_ufed_xml(spark, sf_dir)))


def q_xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-XML ingestion proof (SURVEY S1 —
    ingestion/scripts/cellebrite/parser.py:658-757): UFED-shaped XML dumps
    (generated once per sf from the driver events table, so expectations
    stay relational) are parsed by the streaming mapInPandas reader into
    the transcripts contract, then summarized per conversation. The
    summary columns are all derivable from ``events`` without re-rendering
    text, giving the parse an exact DuckDB oracle; turn-for-turn text
    parity of parse(generate(T)) == T is pinned in tests/test_ufed_xml.py."""
    tr = _ufed_turns(spark, sf_dir)
    return (
        tr.groupBy("conv_id").agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("text") == "ok", 1).otherwise(0))
             .cast("bigint").alias("n_noise"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.min("role").alias("role"))
        .orderBy("conv_id")
    )


SQL_Q_XML_INGEST = f"""
WITH {_BASE_CTE}
SELECT conv_id,
       COUNT(*) AS n_turns,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_noise,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts,
       substring(MIN(spk), 7) || '@s.whatsapp.net' AS role
FROM t GROUP BY conv_id ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# K5 proper — per-model-type XML reconciliation (ok/nested/skipped/under/
# not_supported), the reference's loudest operational lesson
# ---------------------------------------------------------------------------


def q_xml_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model-type ingest reconciliation (SURVEY K5 — the reference
    compares XML modelType counts against persisted writer stats and
    classifies each type, ingestion/scripts/cellebrite/ingestion.py:82-131;
    its audit shows both failure classes this catches: whole types with no
    writer silently dropped (~45k events) and writers dropping a SUBSET
    because a required field is missing (SearchedItem 37/71) —
    CELLEBRITE_INGEST_AUDIT.md:10-40).

    Spark-first: ONE streamed parse emits every <model> element as a row
    (the xml-count side); the per-type writer legs are required-field
    predicates over the same rows (Contact needs Phone, Call/Location need
    TimeStamp); the Chat/InstantMessage persisted counts come from the REAL
    transcripts writer path (read_ufed_xml). The two passes over the dumps
    are DELIBERATE, not an oversight: a reconciliation whose persisted leg
    is derived from its own xml-count stream is vacuous — it can never
    catch the writer drift it exists to detect (the reference likewise
    recounts two independent sides: parser totals vs what the DB holds).
    In production the persisted side reads the ingest's already-written
    warehouse output — no second parse; the self-contained re-derivation
    here is the benchmark-fixture form. Status classification is a pure
    CASE expression — the whole reconciliation is two map-side
    aggregations over O(models) rows, output O(types)."""
    from owl_n4j_spark.sources.ufed_xml import (
        UFED_HELPER, UFED_NESTED, UFED_ONE_TO_ONE, UFED_SKIPPED,
        read_ufed_models)

    xml_dir = ensure_ufed_xml(spark, sf_dir)
    models = read_ufed_models(spark, xml_dir)

    # Writer legs for top-level non-chat types: a model persists iff its
    # handler's required fields are present (the reference's per-type
    # handlers raise/skip on missing required fields). Unknown and skipped
    # types have no handler — nothing persists.
    persist_ok = (
        F.when(F.col("model_type") == "Contact", F.col("phone").isNotNull())
        .when(F.col("model_type").isin("Call", "Location"),
              F.col("ts").isNotNull())
        .otherwise(F.lit(False)))
    per_type = models.groupBy("model_type").agg(
        F.count("*").alias("xml_count"),
        F.sum(persist_ok.cast("long")).alias("writer_out"))

    # Chat/InstantMessage persist through the real transcripts path: every
    # parsed chat becomes a conversation, every message a turn (served
    # from the once-per-session parse warehouse — independent of the
    # models parse above, which is the point of the reconciliation).
    tr = _ufed_turns(spark, sf_dir)
    chat_p = (tr.agg(F.countDistinct("conv_id").alias("Chat"),
                     F.count("*").alias("InstantMessage"))
              .selectExpr("stack(2, 'Chat', Chat, "
                          "'InstantMessage', InstantMessage) "
                          "AS (model_type, chat_out)"))

    status = (
        F.when(F.col("model_type").isin(*UFED_NESTED), F.lit("nested"))
        .when(F.col("model_type").isin(*UFED_ONE_TO_ONE),
              F.when(F.col("persisted_count") >= F.col("xml_count"),
                     F.lit("ok")).otherwise(F.lit("under")))
        .when(F.col("model_type").isin(*UFED_HELPER), F.lit("ok"))
        .when(F.col("model_type").isin(*UFED_SKIPPED), F.lit("skipped"))
        .otherwise(F.lit("not_supported")))
    return (
        per_type.join(F.broadcast(chat_p), "model_type", "left")
        .withColumn("persisted_count",
                    F.coalesce("chat_out", "writer_out"))
        .select("model_type", "xml_count", "persisted_count",
                status.alias("status"))
        .orderBy("model_type")
    )


SQL_Q_XML_RECONCILE = f"""
WITH {_BASE_CTE},
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_turn,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conv,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_view,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_click,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_signup,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err,
         CAST(SUM(CASE WHEN event_type IN ('purchase', 'click')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_att
  FROM t),
u AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN uid % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_phone
  FROM (SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS uid FROM t))
SELECT model_type, xml_count, persisted_count, status FROM (
  SELECT 'Attachment' AS model_type, n_att AS xml_count,
         CAST(0 AS BIGINT) AS persisted_count, 'ok' AS status FROM c
  UNION ALL SELECT 'CalendarEntry', n_err, CAST(0 AS BIGINT), 'skipped' FROM c
  UNION ALL SELECT 'Call', n_view, n_view, 'ok' FROM c
  UNION ALL SELECT 'Chat', n_conv, n_conv, 'ok' FROM c
  UNION ALL SELECT 'Contact', n_users, n_phone,
         CASE WHEN n_phone >= n_users THEN 'ok' ELSE 'under' END FROM u
  UNION ALL SELECT 'Cookie', n_signup, CAST(0 AS BIGINT),
         'not_supported' FROM c
  UNION ALL SELECT 'InstantMessage', n_turn, n_turn, 'nested' FROM c
  UNION ALL SELECT 'Location', n_click, n_click, 'ok' FROM c
) WHERE xml_count > 0 ORDER BY model_type
"""


def xml_reconcile_report(spark: SparkSession, sf_dir: str):
    """Reconciliation rows + the reference's LOUD operational warnings
    (ingestion.py:668-706's unknown-type and under-count guards): a model
    type present in a dump with no handler, or a 1:1 writer that persisted
    fewer rows than the XML carried, is surfaced on stderr with offenders
    listed largest-loss-first — a coverage regression, never a detail
    buried in a report file. Returns (rows, warnings)."""
    import sys

    rows = q_xml_reconcile(spark, sf_dir).collect()   # O(model types)
    warnings = []
    unsupported = sorted(
        ((r.model_type, r.xml_count) for r in rows
         if r.status == "not_supported"), key=lambda x: -x[1])
    if unsupported:
        total = sum(c for _, c in unsupported)
        warnings.append(
            f"WARNING: UNKNOWN MODEL TYPES dropped (no handler) — "
            f"{len(unsupported)} types, {total:,} instances: "
            + ", ".join(f"{t}({c})" for t, c in unsupported[:15])
            + " — add a handler or mark skipped.")
    under = sorted(
        ((r.model_type, r.xml_count, r.persisted_count) for r in rows
         if r.status == "under"), key=lambda x: x[2] - x[1])
    if under:
        total = sum(x - p for _, x, p in under)
        warnings.append(
            f"WARNING: UNDER-COUNTED MODEL TYPES (writer dropped a subset) "
            f"— {len(under)} types, {total:,} instances lost: "
            + ", ".join(f"{t}({p}/{x})" for t, x, p in under[:15])
            + " — a writer is dropping records; check its handler.")
    for w in warnings:
        print(w, file=sys.stderr)
    return rows, warnings


# ---------------------------------------------------------------------------
# S2 — case-folder source detection: classify every evidence file by magic
# ---------------------------------------------------------------------------


def q_case_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report/source detection over a case folder (SURVEY S2 — the
    reference BFS-walks the evidence tree to find UFED report XMLs and
    routable documents before ingestion). Spark-first: one recursive
    binaryFile scan over the case directories, classification by CONTENT
    MAGIC (xml declaration + <project> root, html doctype, front-matter
    fence) in pure column expressions — extension-agnostic, the way the
    reference sniffs reports. Emits per-kind file counts. Note: binaryFile
    has no head-only read, so the sniff rides the same scan a subsequent
    parse would do anyway; a dedicated listing pass would use the
    path/length columns only (column-pruned, no content I/O)."""
    from owl_n4j_spark.plans.text import ensure_doc_files

    xml_dir = ensure_ufed_xml(spark, sf_dir)
    doc_dir = ensure_doc_files(spark, sf_dir)
    files = (spark.read.format("binaryFile")
             .option("recursiveFileLookup", "true")
             .load([xml_dir, doc_dir])
             .select("content"))
    return (files.select(case_file_kind().alias("kind"))
            .groupBy("kind").agg(F.count("*").alias("n_files"))
            .orderBy("kind"))


def case_file_kind():
    """Content-magic classifier over a binaryFile ``content`` column —
    the sniff q_case_scan aggregates, factored out so any evidence walk
    can route files the same way."""
    head = F.substring(F.col("content"), 1, 64).cast("string")
    # OOXML containers are zips whose part names appear verbatim in the
    # local file headers, but their ORDER is writer-dependent (Word and
    # Excel put [Content_Types].xml first; other producers vary) — so the
    # sniff is a binary substring search for the defining part name over
    # the whole blob (already fetched by this scan), gated on the PK zip
    # magic, never a fixed-offset peek that only matches one writer.
    is_zip = head.startswith("PK")
    return (
        F.when(head.startswith("<?xml") & head.contains("<project"),
               F.lit("ufed_report"))
        .when(head.startswith("<!DOCTYPE html"), F.lit("html_doc"))
        .when(head.startswith("---\n"), F.lit("md_doc"))
        .when(is_zip & F.contains(F.col("content"),
                                  F.lit(b"word/document.xml")),
              F.lit("docx_doc"))
        .when(is_zip & F.contains(F.col("content"),
                                  F.lit(b"xl/workbook.xml")),
              F.lit("xlsx_doc"))
        .when(head.startswith("%PDF"), F.lit("pdf_doc"))
        .otherwise(F.lit("other"))
    )


# UFED_N_FILES = write_ufed_xml's dump-file split (shared constant, so the
# oracle cannot drift from the writer); 1 = its case_notes.txt decoy.
SQL_Q_CASE_SCAN = f"""
SELECT kind, n_files FROM (
  SELECT 'html_doc' AS kind, CAST(COUNT(*) AS BIGINT) AS n_files
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 'md_doc', CAST(COUNT(*) AS BIGINT)
  FROM documents WHERE doc_id % 5 = 1
  UNION ALL
  SELECT 'docx_doc', CAST(COUNT(*) AS BIGINT)
  FROM documents WHERE doc_id % 5 = 2
  UNION ALL
  SELECT 'xlsx_doc', CAST(COUNT(*) AS BIGINT)
  FROM documents WHERE doc_id % 5 = 3
  UNION ALL
  -- real pdfs + the no-text-layer scan decoy (same %PDF magic)
  SELECT 'pdf_doc', CAST(COUNT(*) + 1 AS BIGINT)
  FROM documents WHERE doc_id % 5 = 4
  UNION ALL SELECT 'ufed_report', CAST({UFED_N_FILES} AS BIGINT)
  -- case_notes.txt (xml dir) + notes.xyz (doc dir)
  UNION ALL SELECT 'other', CAST(2 AS BIGINT)
) ORDER BY kind
"""


# ---------------------------------------------------------------------------
# S6 — wiretap session-folder ingestion (.sri metadata + .rtf
# interpretation composed into one ingestible document)
# ---------------------------------------------------------------------------


def ensure_wiretap(spark: SparkSession, sf_dir: str) -> str:
    """Generate the wiretap session-folder fixture once per (session, sf)
    (a ``shared_table``)."""
    from owl_n4j_spark.sources.wiretap import write_wiretap_folders

    return shared_table(
        spark, sf_dir, "wiretap", lambda: write_wiretap_folders(
            spark, sf_dir, warehouse_dir(spark, sf_dir, "wiretap")),
        parquet=False)


def _wiretap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed wiretap sessions, parsed ONCE per (session, sf): the folder
    scan + rtf strip is S6's expensive leg and three queries consume it
    (q_wiretap_ingest, q_wiretap_manifest, kg_wiretap_triples) — the
    parse output is a parquet ``shared_table``."""
    from owl_n4j_spark.sources.wiretap import read_wiretap_sessions

    return shared_table(
        spark, sf_dir, "wiretap_parsed", lambda: read_wiretap_sessions(
            spark, ensure_wiretap(spark, sf_dir)))


def q_wiretap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiretap folder parse (SURVEY S6 —
    ingestion/scripts/audio_processor.py:130-260 .sri/.rtf parse, :393-455
    document composition): per-session folders ('view' events rendered as
    recordings) are parsed by the recursive binaryFile + mapInPandas
    reader — ini-style .sri metadata, destination-aware RTF stripping with
    the PARTICIPANTS-line extraction, *.syn.rtf preferred over decoy
    rtfs — and composed into the ingest document. Every output column is
    relationally derivable from events + the person map, so the whole
    parse chain has an exact oracle."""
    return (_wiretap_sessions(spark, sf_dir)
            .select("folder_name", "time_of_call", "line_id", "contact_id",
                    "session_length", "participants", "interpretation",
                    "doc_text")
            .orderBy("folder_name"))


def _persons_full_values() -> str:
    u = et._universe()
    return ", ".join(
        "({}, '{}')".format(p.idx, p.full.replace("'", "''"))
        for p in u.persons)


def _sql_q_wiretap_ingest() -> str:
    return f"""
WITH {_BASE_CTE},
pv(idx, full_name) AS (VALUES {_persons_full_values()}),
v AS (
  SELECT event_id, ts, CAST(substring(conv_id, 6) AS BIGINT) AS uid
  FROM t WHERE event_type = 'view'
),
base AS (
  SELECT printf('%08d', event_id) AS folder_name,
         date_trunc('second', ts) AS time_of_call,
         CASE WHEN uid % 10 = 3 THEN '+' || digits
              ELSE substr(d10, 1, 3) || '-' || substr(d10, 4, 3) || '-'
                   || substr(d10, 7, 4) END AS line_id,
         printf('FMI=%d,%d,%d', event_id % 1000, event_id * 7 % 1000,
                event_id * 13 % 10000) AS contact_id,
         CAST(event_id % 900 + 30 AS INT) AS session_length,
         -- degenerate-session classes mirror write_wiretap_folders:
         -- eid%41: no syn rtf (even eid -> decoy fallback, odd -> no rtf
         -- at all); eid%89: interpretation without a SYNOPSIS line
         CASE WHEN event_id % 41 = 0 THEN
                CASE WHEN event_id % 2 = 0 THEN '' END
              ELSE a.full_name || ',' || b.full_name END AS participants,
         CASE WHEN event_id % 41 = 0 THEN
                CASE WHEN event_id % 2 = 0 THEN 'DRAFT - do not use' END
              WHEN event_id % 89 = 0 THEN
                'PARTICIPANTS: ' || a.full_name || ' AND ' || b.full_name
              ELSE
                'PARTICIPANTS: ' || a.full_name || ' AND ' || b.full_name
                || chr(10) || 'SYNOPSIS: ' || a.full_name || ' called '
                || b.full_name || ' yesterday.' END AS interpretation
  FROM (SELECT event_id, ts, uid,
               substring({et._phone_key_sql('uid')}, 7) AS digits,
               right(substring({et._phone_key_sql('uid')}, 7), 10) AS d10
        FROM v) d
  JOIN pv a ON a.idx = d.uid
  JOIN pv b ON b.idx = d.uid + 1
)
SELECT folder_name, time_of_call, line_id, contact_id, session_length,
       participants, interpretation,
       concat_ws(chr(10),
         '=== WIRETAP RECORDING ===',
         'Folder: ' || folder_name,
         'Input Line ID: ' || line_id,
         'Session Length: ' || CAST(session_length AS VARCHAR)
           || ' seconds',
         '=== PARTICIPANTS ===',
         replace(participants, ',', chr(10)),
         '=== PROSECUTOR INTERPRETATION ===',
         interpretation) AS doc_text
FROM base ORDER BY folder_name
"""


SQL_Q_WIRETAP_INGEST = _sql_q_wiretap_ingest()


def kg_wiretap_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiretap evidence through the WHOLE pipeline, exactly (S6 end-to-end
    — the reference ingests prepared wiretap documents through the same
    extraction/linking path as chats, audio_processor.py:455-520): parsed
    session folders -> transcripts contract -> extract -> link ->
    canonicalize -> materialize. The emitted triple set is relationally
    derivable from the 'view' events (speaker key from the .sri line id
    via the E.164 cascade; counterparty from the interpretation text via
    the alias dictionary), so the full chain has an exact oracle — not
    just a row-count parity test."""
    from owl_n4j_spark.sources.wiretap import transcripts_from_sessions

    tr = transcripts_from_sessions(_wiretap_sessions(spark, sf_dir))
    res = run_pipeline(spark, tr, alias_dict=et.alias_dict_df(spark),
                       with_manifest=False)
    return (res["triples"]
            .select("subj_key", "pred", "obj_key", "conv_id", "turn_idx")
            .orderBy("subj_key", "pred", "obj_key", "conv_id"))


SQL_KG_WIRETAP_TRIPLES = f"""
WITH {_BASE_CTE},
v AS (
  SELECT printf('%08d', event_id) AS folder,
         CAST(substring(conv_id, 6) AS BIGINT) AS uid,
         -- degenerate sessions (write_wiretap_folders: eid%41 no syn
         -- rtf, eid%89 no SYNOPSIS line) have no extractable claim —
         -- the role-derived legs still emit, the CALLED leg must not
         (event_id % 41 != 0 AND event_id % 89 != 0) AS has_synopsis
  FROM t WHERE event_type = 'view'
),
legs AS (
  SELECT {et._phone_key_sql('uid')} AS subj_key, 'SENT_MESSAGE' AS pred,
         'chat-wt-' || folder AS obj_key, 'wt-' || folder AS conv_id
  FROM v
  UNION ALL
  SELECT {et._phone_key_sql('uid')}, 'CALLED',
         {et._phone_key_sql('uid + 1')}, 'wt-' || folder
  FROM v WHERE has_synopsis
  UNION ALL
  SELECT {et._phone_key_sql('uid')}, 'PARTICIPATED_IN',
         'chat-wt-' || folder, 'wt-' || folder
  FROM v
)
SELECT subj_key, pred, obj_key, conv_id, CAST(0 AS INT) AS turn_idx
FROM legs ORDER BY subj_key, pred, obj_key, conv_id
"""


def q_wiretap_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiretap ingest reconciliation (K5 discipline on the S6 path — the
    same parsed-vs-usable accounting audio_processor.py keeps per folder):
    every parsed session classified from its PARSED fields, so transcriber
    backlog is a manifest row, never a silent text='' downstream:
    - no_interpretation: no rtf delivered at all,
    - no_participants: nothing extractable AND no PARTICIPANTS line —
      the decoy/fallback-rtf shape (a claim-bearing rtf that merely
      omits PARTICIPANTS still extracts, so it classifies ok),
    - no_synopsis: interpretation delivered but carries no extractable
      SYNOPSIS claim line,
    - ok: extractable.
    O(sessions) map-side classification -> one tiny hash agg; the pct is
    a 4-row window, not a second pass over the data."""
    from pyspark.sql.window import Window as W

    from owl_n4j_spark.sources.wiretap import SYNOPSIS_RE

    s = _wiretap_sessions(spark, sf_dir)
    no_syn = F.regexp_extract("interpretation", SYNOPSIS_RE, 1) == ""
    status = (
        F.when(F.col("interpretation").isNull(), "no_interpretation")
        .when(no_syn & (F.col("participants") == ""), "no_participants")
        .when(no_syn, "no_synopsis")
        .otherwise("ok"))
    g = (s.groupBy(status.alias("status"))
         .agg(F.count("*").alias("n_sessions")))
    total = F.sum("n_sessions").over(W.partitionBy())
    return (g.select(
        "status", "n_sessions",
        stable_round(F.col("n_sessions") * 100.0 / total, 4)
        .alias("pct_of_sessions"))
        .orderBy("status"))


SQL_Q_WIRETAP_MANIFEST = f"""
WITH {_BASE_CTE},
v AS (SELECT event_id FROM t WHERE event_type = 'view'),
cls AS (
  SELECT CASE WHEN event_id % 41 = 0 AND event_id % 2 != 0
                THEN 'no_interpretation'
              WHEN event_id % 41 = 0 THEN 'no_participants'
              WHEN event_id % 89 = 0 THEN 'no_synopsis'
              ELSE 'ok' END AS status
  FROM v
),
g AS (SELECT status, CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM cls GROUP BY status)
SELECT status, n_sessions,
       {sql_stable_round(
           'n_sessions * 100.0 / (SELECT SUM(n_sessions) FROM g)', 4)}
         AS pct_of_sessions
FROM g ORDER BY status
"""


def wiretap_reconcile_report(spark: SparkSession, sf_dir: str):
    """Manifest rows + the LOUD operational warnings (the xml path's
    reconcile-report discipline applied to S6): undelivered or unusable
    interpretations are surfaced on stderr with counts — a transcription
    backlog is an operational problem, not a quiet empty-text column.
    Returns (rows, warnings)."""
    import sys

    rows = q_wiretap_manifest(spark, sf_dir).collect()   # O(statuses)
    by = {r.status: r.n_sessions for r in rows}
    warnings = []
    missing = by.get("no_interpretation", 0) + by.get("no_participants", 0)
    if missing:
        warnings.append(
            f"WARNING: {missing:,} wiretap sessions have NO usable "
            f"interpretation ({by.get('no_interpretation', 0):,} without "
            f"any rtf, {by.get('no_participants', 0):,} with neither a "
            "claim line nor a PARTICIPANTS line — the decoy/fallback-rtf "
            "shape) — transcription backlog; these sessions contribute "
            "zero claims until re-delivered.")
    if by.get("no_synopsis"):
        warnings.append(
            f"WARNING: {by['no_synopsis']:,} wiretap interpretations carry "
            "no SYNOPSIS claim line — delivered but nothing extractable; "
            "check the transcriber template.")
    for w in warnings:
        print(w, file=sys.stderr)
    return rows, warnings


# ---------------------------------------------------------------------------
# §2.11 — stream/batch parity as a first-class (oracle-backed) query
# ---------------------------------------------------------------------------


def q_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/stream ingest parity as a DRIVER-CHECKED query (SURVEY §2.11
    — the reference's resumable background ingestion must land the same
    rows as a foreground run, ingestion/scripts/cellebrite/
    ingestion.py:219-241): the availableNow XML-dump stream
    (streaming/incremental.read_xml_dump_stream) and the wiretap
    landing-folder stream (read_wiretap_stream) are run to completion over
    the SAME fixtures the batch readers consume, and the query output IS
    the reconciliation: per source, the streamed row/conversation counts
    plus a set-equality flag (both-direction ``exceptAll`` empty) against
    the batch parse. The counts are relationally derivable from ``events``
    and the flag's expected value is TRUE, so a drifting streaming path
    hash-fails the oracle instead of only failing a local pytest.

    Each stream runs ONCE per (session, sf) into a checkpointed parquet
    warehouse (a ``shared_table``, like the fixtures); the comparison
    itself is two set-difference aggregations — no driver-side collect."""
    from owl_n4j_spark.sources.wiretap import transcripts_from_sessions
    from owl_n4j_spark.streaming.incremental import (
        run_incremental_wiretap_ingest,
        run_incremental_xml_ingest,
    )

    # Catch-up-then-stop over a STATIC fixture: the file source re-pays the
    # recursive listing on EVERY trigger, so the production default of 1000
    # files/trigger (restart granularity for a live landing folder) turns a
    # ~20k-session catch-up into ~20 full re-listings — measured 104 s at
    # sf0.1 vs ~13 s with one big trigger. Identical rows/checkpoint
    # semantics; only the commit granularity differs.
    def streamed(name: str, ingest, src_dir: str) -> DataFrame:
        def build() -> DataFrame:
            out = warehouse_dir(spark, sf_dir, name)
            ingest(spark, src_dir, out, out + "_ckpt",
                   max_files_per_trigger=100_000)
            return spark.read.parquet(out)
        return shared_table(spark, sf_dir, name, build, parquet=False)

    sx = streamed("stream_xml", run_incremental_xml_ingest,
                  ensure_ufed_xml(spark, sf_dir))
    sw = streamed("stream_wt", run_incremental_wiretap_ingest,
                  ensure_wiretap(spark, sf_dir))

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def leg(source: str, batch: DataFrame, stream: DataFrame) -> DataFrame:
        b, s = batch.select(*cols), stream.select(*cols)
        stats = s.agg(
            F.count("*").alias("rows_stream"),
            F.countDistinct("conv_id").alias("convs_stream"))
        # Multiset equality as ONE signed-count aggregation: tag stream
        # rows +1 / batch rows -1, group by the full row, and the multisets
        # are equal iff every group's net is 0 (sum |net| == 0). Exactly
        # the two-way exceptAll predicate — a duplicated-then-dropped pair
        # still shows as net +1/-1 — but it costs one shuffle of each input
        # instead of the four wide scans + two join-shaped shuffles the
        # exceptAll pair compiled to (guide §2.4: remove shuffles outright).
        diff = (
            s.withColumn("__tag", F.lit(1))
            .unionAll(b.withColumn("__tag", F.lit(-1)))
            .groupBy(*cols).agg(F.sum("__tag").alias("__net"))
            .agg(F.sum(F.abs(F.col("__net"))).alias("n_diff")))
        return (stats.crossJoin(diff)
                .select(F.lit(source).alias("source"),
                        "rows_stream", "convs_stream",
                        (F.coalesce(F.col("n_diff"), F.lit(0)) == 0)
                        .alias("stream_equals_batch")))

    xml = leg("ufed_xml", _ufed_turns(spark, sf_dir), sx)
    wt = leg("wiretap",
             transcripts_from_sessions(_wiretap_sessions(spark, sf_dir)), sw)
    return xml.unionAll(wt).orderBy("source")


SQL_Q_STREAM_PARITY = f"""
WITH {_BASE_CTE},
x AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_stream,
             CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS convs_stream
      FROM t),
w AS (SELECT CAST(COUNT(*) AS BIGINT) AS rows_stream,
             CAST(COUNT(*) AS BIGINT) AS convs_stream
      FROM t WHERE event_type = 'view')
SELECT 'ufed_xml' AS source, rows_stream, convs_stream,
       TRUE AS stream_equals_batch FROM x
UNION ALL
SELECT 'wiretap', rows_stream, convs_stream, TRUE FROM w
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Cross-extraction intersection: entities present in 2+ device dumps
# ---------------------------------------------------------------------------


def q_extraction_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-extraction entity intersection (reference
    backend/services/cellebrite_intersection_service.py: which identities
    appear in MULTIPLE device extractions — the investigator's
    'who connects these phones' question). Runs over the PARSED XML with
    source attribution: a person counts toward a dump when they speak in
    it (JID role) or are named as a payment/call counterparty in one of
    its conversations; output is every identity present in >= 2 dumps
    with its dump list. All derivation is from the parse output, so the
    file-attribution path itself is oracle-checked. Shape: map-side
    dedup of (key, dump) -> one hash agg -> filter; O(entities) output."""
    from owl_n4j_spark.sources.events_transcripts import persons_df
    from owl_n4j_spark.sources.ufed_xml import read_ufed_xml

    tr = read_ufed_xml(spark, ensure_ufed_xml(spark, sf_dir),
                       with_source=True)
    dump = (F.regexp_extract("src_file", r"dump_(\d+)", 1)
            .cast("int").alias("dump"))
    uidx = F.expr("CAST(substring(conv_id, 6) AS BIGINT)")
    spk = (tr.select(
        F.concat(F.lit("phone-"),
                 F.substring_index("role", "@", 1)).alias("key"), dump)
        .dropDuplicates())
    oth_convs = (
        tr.filter(F.col("text").contains(" paid $")
                  | (F.col("text").contains(" called ")
                     & F.col("text").contains("yesterday")))
        .select((uidx + 1).alias("oidx"), dump).dropDuplicates())
    pmap = persons_df(spark).select(
        F.col("idx").alias("oidx"),
        F.concat(F.lit("phone-"),
                 F.substring_index("jid", "@", 1)).alias("key"))
    oth = oth_convs.join(F.broadcast(pmap), "oidx").select("key", "dump")
    pd_ = spk.unionByName(oth).dropDuplicates(["key", "dump"])
    return (
        pd_.groupBy("key")
        .agg(F.count("*").alias("n_dumps"),
             F.concat_ws(",", F.sort_array(
                 F.collect_list(F.col("dump").cast("string"))))
              .alias("dumps"))
        .filter(F.col("n_dumps") >= 2)
        .orderBy("key")
    )


SQL_Q_EXTRACTION_INTERSECTION = f"""
WITH {_BASE_CTE},
pd AS (
  SELECT {et._phone_key_sql('idx')} AS key,
         CAST(idx % {UFED_N_FILES} AS INT) AS dump
  FROM (SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS idx FROM t)
  UNION
  SELECT {et._phone_key_sql('idx + 1')}, CAST(idx % {UFED_N_FILES} AS INT)
  FROM (SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS idx
        FROM t WHERE event_type IN ('purchase', 'view'))
)
SELECT key, COUNT(*) AS n_dumps,
       string_agg(CAST(dump AS VARCHAR), ',' ORDER BY dump) AS dumps
FROM pd GROUP BY key
HAVING COUNT(*) >= 2
ORDER BY key
"""


# ---------------------------------------------------------------------------
# U4 — merge-audit surface: every canonicalization decision with its method
# ---------------------------------------------------------------------------


def kg_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable merge-audit trail (SURVEY U4/G6 — the reference records
    merge history and rejected pairs, backend/services/
    rejected_pairs_service.py + neo4j_service.py:2553-3052): one row per
    resolved raw key — member -> canonical, the method that decided it
    (exact dictionary hit / fuzzy disambiguation / self), and whether
    SAME_AS evidence (the CC stage) rather than the dictionary produced
    the final assignment. Pure projection of the pipeline's staged mapping.
    The rejected-pairs no-re-merge invariant is pinned in
    tests/test_merge_audit.py."""
    res = kg_result(spark, sf_dir)
    return (res["merge_audit"]
            .select("member_key", "canonical_key", "method", "via_sameas")
            .orderBy("member_key"))


def _sql_kg_merge_audit() -> str:
    from owl_n4j_spark.sources.events_transcripts import _universe
    u = _universe()
    pm_rows = ", ".join(f"({p.idx}, '{p.name_key}')" for p in u.persons)
    return f"""
WITH {_BASE_CTE},
users_named AS (
  SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS idx
  FROM t WHERE event_type != 'error'
),
others AS (
  SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) + 1 AS idx
  FROM t WHERE event_type IN ('purchase', 'view')
),
name_people AS (SELECT idx FROM users_named UNION SELECT idx FROM others),
pm(idx, name_key) AS (VALUES {pm_rows}),
rows AS (
  SELECT spk AS member_key, spk AS canonical_key, 'self' AS method
  FROM (SELECT DISTINCT spk FROM t)
  UNION ALL
  SELECT pm.name_key, {et._phone_key_sql('np.idx')}, 'exact'
  FROM name_people np JOIN pm ON pm.idx = np.idx
  UNION ALL
  SELECT DISTINCT {et._city_key_case()}, {et._city_key_case()}, 'exact'
  FROM t WHERE event_type = 'click'
  UNION ALL
  SELECT DISTINCT {et._org_key_case()}, {et._org_key_case()}, 'exact'
  FROM t WHERE event_type = 'signup'
  UNION ALL
  SELECT DISTINCT chat, chat, 'self' FROM t
)
SELECT member_key, canonical_key, method, FALSE AS via_sameas
FROM rows ORDER BY member_key
"""


SQL_KG_MERGE_AUDIT = _sql_kg_merge_audit()


# ---------------------------------------------------------------------------
# A1 — graph summary: node count per type, edge count per rel type
# ---------------------------------------------------------------------------


def kg_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kg_result(spark, sf_dir)
    n = (res["nodes"].groupBy(F.col("type").alias("label"))
         .agg(F.count("*").alias("n"))
         .withColumn("side", F.lit("node")))
    e = (res["edges"].groupBy(F.col("rel_type").alias("label"))
         .agg(F.count("*").alias("n"))
         .withColumn("side", F.lit("edge")))
    return n.unionByName(e).select("side", "label", "n").orderBy("side", "label")


SQL_KG_GRAPH_SUMMARY = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
nodes AS (
  SELECT DISTINCT key, type FROM (
    SELECT spk AS key, 'Person' AS type FROM t
    UNION ALL SELECT oth, 'Person' FROM t WHERE event_type IN ('purchase','view')
    UNION ALL SELECT {et._city_key_case()}, 'Location' FROM t WHERE event_type = 'click'
    UNION ALL SELECT {et._org_key_case()}, 'Company' FROM t WHERE event_type = 'signup'
    UNION ALL SELECT chat, 'Communication' FROM t
  )
),
edges AS (SELECT DISTINCT subj_key, pred, obj_key FROM triples)
SELECT 'node' AS side, type AS label, COUNT(*) AS n FROM nodes GROUP BY type
UNION ALL
SELECT 'edge', pred, COUNT(*) FROM edges GROUP BY pred
ORDER BY side, label
"""


# ---------------------------------------------------------------------------
# A6 — thread aggregation over the triple stream
# ---------------------------------------------------------------------------


def kg_thread_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kg_result(spark, sf_dir)
    tr = res["triples"]
    return (
        tr.groupBy("conv_id")
        .agg(
            F.sum(F.when(F.col("pred") == "SENT_MESSAGE", 1).otherwise(0))
             .cast("bigint").alias("n_messages"),
            F.count("*").alias("n_triples"),
            F.countDistinct("pred").alias("n_preds"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .orderBy("conv_id")
    )


SQL_KG_THREAD_STATS = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS}
SELECT conv_id,
       CAST(SUM(CASE WHEN pred = 'SENT_MESSAGE' THEN 1 ELSE 0 END) AS BIGINT) AS n_messages,
       COUNT(*) AS n_triples,
       COUNT(DISTINCT pred) AS n_preds,
       MIN(turn_idx) AS first_turn,
       MAX(turn_idx) AS last_turn
FROM triples
GROUP BY conv_id
ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# W3/T4 — top-N by degree over the materialized edges
# ---------------------------------------------------------------------------

TOP_DEGREE_N = 20


def kg_degree_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kg_result(spark, sf_dir)
    e = res["edges"]
    deg = (
        e.select(F.col("src_key").alias("key"))
        .unionByName(e.select(F.col("dst_key").alias("key")))
        .groupBy("key").agg(F.count("*").alias("degree"))
    )
    # Distributed TakeOrderedAndProject first (per-partition top-N, merged on
    # the driver), THEN rank the bounded N-row result — never a partition-less
    # window over the full entity universe (reference caps the same way after
    # denormalizing: scripts/backfill_person_comm_counts.py:1-25).
    top = deg.orderBy(F.desc("degree"), F.asc("key")).limit(TOP_DEGREE_N)
    w = Window.orderBy(F.desc("degree"), F.asc("key"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("rank", "key", "degree")
        .orderBy("rank")
    )


SQL_KG_DEGREE_TOPN = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
edges AS (SELECT DISTINCT subj_key, pred, obj_key FROM triples),
deg AS (
  SELECT key, COUNT(*) AS degree FROM (
    SELECT subj_key AS key FROM edges
    UNION ALL SELECT obj_key FROM edges
  ) GROUP BY key
),
ranked AS (
  SELECT key, degree,
         row_number() OVER (ORDER BY degree DESC, key) AS rank
  FROM deg
)
SELECT rank, key, degree FROM ranked WHERE rank <= {TOP_DEGREE_N}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# T1/W2 — keyset-paged timeline over the triple stream
# ---------------------------------------------------------------------------

TIMELINE_PAGE_N = 200


def kg_timeline_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological page under the stable order (conv_id, turn_idx) with a
    unique tuple tie-break — the reference's keyset pagination
    (neo4j_service.py:1240-1283) without the per-request cursor latency."""
    res = kg_result(spark, sf_dir)
    return (
        res["triples"]
        .select("conv_id", "turn_idx", "subj_key", "pred", "obj_key")
        .orderBy("conv_id", "turn_idx", "pred", "subj_key", "obj_key")
        .limit(TIMELINE_PAGE_N)
    )


SQL_KG_TIMELINE_PAGE = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS}
SELECT conv_id, turn_idx, subj_key, pred, obj_key
FROM triples
ORDER BY conv_id, turn_idx, pred, subj_key, obj_key
LIMIT {TIMELINE_PAGE_N}
"""


# ---------------------------------------------------------------------------
# A7 — activity envelope histogram (per-day triple counts by pred)
# ---------------------------------------------------------------------------


def kg_envelope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = kg_result(spark, sf_dir)
    return (
        res["triples"]
        .filter(F.col("pred") != "PARTICIPATED_IN")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "pred")
        .agg(F.count("*").alias("n"))
        .orderBy("day", "pred")
    )


SQL_KG_ENVELOPE_DAILY = f"""
WITH {_BASE_CTE},
legs AS (
  SELECT ts, 'SENT_MESSAGE' AS pred FROM t
  UNION ALL SELECT ts, 'PAID' FROM t WHERE event_type = 'purchase'
  UNION ALL SELECT ts, 'TRAVELED_TO' FROM t WHERE event_type = 'click'
  UNION ALL SELECT ts, 'WORKS_FOR' FROM t WHERE event_type = 'signup'
  UNION ALL SELECT ts, 'CALLED' FROM t WHERE event_type = 'view'
)
SELECT strftime(ts, '%Y-%m-%d') AS day, pred, COUNT(*) AS n
FROM legs
GROUP BY day, pred
ORDER BY day, pred
"""


# ---------------------------------------------------------------------------
# J6/W4 — as-of join: last known location per speaker at each message
# ---------------------------------------------------------------------------


def kg_last_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backfill over the KG triple stream (the reference's ±15-min
    nearest-location pass, cellebrite/ingestion.py:793-974): each
    SENT_MESSAGE turn picks the speaker's most recent TRAVELED_TO location
    at-or-before that turn. Union + last(ignorenulls) window — the scalable
    as-of strategy (one shuffle on conv_id; no per-row probes)."""
    res = kg_result(spark, sf_dir)
    tr = res["triples"]
    ev = tr.filter(F.col("pred").isin("SENT_MESSAGE", "TRAVELED_TO"))
    w = (Window.partitionBy("conv_id").orderBy("turn_idx", "pred")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    last_loc = F.last(
        F.when(F.col("pred") == "TRAVELED_TO", F.col("obj_key")),
        ignorenulls=True).over(w)
    return (
        ev.withColumn("last_location", last_loc)
        .filter(F.col("pred") == "SENT_MESSAGE")
        .select("conv_id", "turn_idx", F.col("subj_key").alias("speaker"),
                "last_location")
        .orderBy("conv_id", "turn_idx")
    )


SQL_KG_LAST_LOCATION = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
ev AS (
  SELECT conv_id, turn_idx, pred, subj_key, obj_key,
         last_value(CASE WHEN pred = 'TRAVELED_TO' THEN obj_key END IGNORE NULLS)
           OVER (PARTITION BY conv_id ORDER BY turn_idx, pred
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_location
  FROM triples
  WHERE pred IN ('SENT_MESSAGE', 'TRAVELED_TO')
)
SELECT conv_id, turn_idx, subj_key AS speaker, last_location
FROM ev WHERE pred = 'SENT_MESSAGE'
ORDER BY conv_id, turn_idx
"""


# ---------------------------------------------------------------------------
# L3 — deterministic per-entity summary (groupBy → applyInPandas)
# ---------------------------------------------------------------------------


def kg_entity_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference generates per-entity LLM summaries from its facts +
    neighbours (llm_client.py:699-777). Deterministic re-expression: one
    algebraic aggregation per Person entity plus a codegen'd template
    concat. This was a ``groupBy().applyInPandas`` render (r6 measurement:
    the grouped-pandas shape ships EVERY triple row of the group across
    the Python boundary and forfeits partial aggregation — guide §4.1/
    §2.3); the counts and the city set are map-side-combinable aggregates
    and the summary string is pure column surgery, so the whole query now
    runs inside whole-stage codegen with no Python stage (the
    FlatMapGroupsInPandas node is gone from the plan; identical rows,
    same exact string oracle)."""
    res = kg_result(spark, sf_dir)
    person = res["triples"].filter(F.col("subj_key").startswith("phone-"))

    agg = person.groupBy(F.col("subj_key").alias("key")).agg(
        F.sum(F.when(F.col("pred") == "SENT_MESSAGE", 1).otherwise(0))
         .alias("n_msgs"),
        F.sum(F.when(F.col("pred") == "PAID", 1).otherwise(0))
         .alias("n_paid"),
        F.sort_array(F.collect_set(
            F.when(F.col("pred") == "TRAVELED_TO", F.col("obj_key"))))
         .alias("cities"),
    )
    summary = F.concat(
        F.col("key"), F.lit(": "), F.col("n_msgs").cast("string"),
        F.lit(" messages, "), F.col("n_paid").cast("string"),
        F.lit(" payments, visited "),
        F.when(F.size("cities") > 0, F.array_join("cities", ","))
         .otherwise(F.lit("nowhere")))
    return (agg.select("key", summary.alias("summary"))
            .orderBy("key"))


SQL_KG_ENTITY_SUMMARIES = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
agg AS (
  SELECT subj_key AS key,
         SUM(CASE WHEN pred = 'SENT_MESSAGE' THEN 1 ELSE 0 END) AS n_msgs,
         SUM(CASE WHEN pred = 'PAID' THEN 1 ELSE 0 END) AS n_paid,
         string_agg(DISTINCT CASE WHEN pred = 'TRAVELED_TO' THEN obj_key END,
                    ',' ORDER BY CASE WHEN pred = 'TRAVELED_TO' THEN obj_key END)
           AS cities
  FROM triples
  WHERE subj_key LIKE 'phone-%'
  GROUP BY subj_key
)
SELECT key,
       key || ': ' || n_msgs || ' messages, ' || n_paid || ' payments, visited '
           || coalesce(cities, 'nowhere') AS summary
FROM agg ORDER BY key
"""


# ---------------------------------------------------------------------------
# S7/S8 + A9 — broadcast geocoding + 2-D spatial tile aggregation
# ---------------------------------------------------------------------------

# Deterministic coordinate gazetteer for the synthetic city universe — the
# Spark shape of the reference's geocode cache (geocoding.py:17-27): a
# precomputed broadcast lookup, never per-row HTTP.
from owl_n4j_spark.synth import CITIES as _CITIES
from owl_n4j_spark.functions.keys import normalise_key as _nk

CITY_COORDS = {
    _nk(c): (round(-60.0 + (i * 7.3) % 120, 4),    # lat
             round(-180.0 + (i * 31.7) % 360, 4))  # lon
    for i, c in enumerate(_CITIES)
}
TILE_DEG = 10.0
TILE_TOP_N = 5000


def kg_location_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocode Location nodes via broadcast gazetteer join, then tile-bin
    (floor(lat/c), floor(lon/c)) with count + centroid (SURVEY A9 —
    neo4j_service.py:11174-11289). Weight = TRAVELED_TO edge weight so the
    tiles reflect activity volume, not node count. Capped at the
    TILE_TOP_N busiest tiles (deterministic tie-break) — the reference's
    top-5000 response cap (SURVEY T2); a map client never needs more."""
    res = kg_result(spark, sf_dir)
    geo = local_df(
        spark,
        [(k, lat, lon) for k, (lat, lon) in sorted(CITY_COORDS.items())],
        "key string, lat double, lon double")
    visits = (res["edges"].filter(F.col("rel_type") == "TRAVELED_TO")
              .select(F.col("dst_key").alias("key"), "weight"))
    w = Window.orderBy(F.desc("n_visits"), F.asc("tile_lat"),
                       F.asc("tile_lon"))
    return (
        visits.join(F.broadcast(geo), "key")
        .groupBy(
            F.floor(F.col("lat") / TILE_DEG).cast("bigint").alias("tile_lat"),
            F.floor(F.col("lon") / TILE_DEG).cast("bigint").alias("tile_lon"))
        .agg(F.sum("weight").alias("n_visits"),
             stable_round(F.sum(F.col("lat") * F.col("weight"))
                          / F.sum("weight"), 6).alias("centroid_lat"),
             stable_round(F.sum(F.col("lon") * F.col("weight"))
                          / F.sum("weight"), 6).alias("centroid_lon"))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= TILE_TOP_N).drop("__r")
        .orderBy("tile_lat", "tile_lon")
    )


def _sql_kg_location_tiles() -> str:
    rows = ", ".join(f"('{k}', {lat}, {lon})"
                     for k, (lat, lon) in sorted(CITY_COORDS.items()))
    return f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
geo(key, lat, lon) AS (VALUES {rows}),
visits AS (
  SELECT obj_key AS key, COUNT(*) AS weight
  FROM triples WHERE pred = 'TRAVELED_TO'
  GROUP BY subj_key, obj_key
),
tiles AS (
  SELECT CAST(floor(lat / {TILE_DEG}) AS BIGINT) AS tile_lat,
         CAST(floor(lon / {TILE_DEG}) AS BIGINT) AS tile_lon,
         CAST(SUM(weight) AS BIGINT) AS n_visits,
         {sql_stable_round('SUM(lat * weight) / SUM(weight)', 6)}
           AS centroid_lat,
         {sql_stable_round('SUM(lon * weight) / SUM(weight)', 6)}
           AS centroid_lon
  FROM visits JOIN geo USING (key)
  GROUP BY tile_lat, tile_lon
),
capped AS (
  SELECT *, row_number() OVER (ORDER BY n_visits DESC, tile_lat, tile_lon) AS r
  FROM tiles
)
SELECT tile_lat, tile_lon, n_visits, centroid_lat, centroid_lon
FROM capped WHERE r <= {TILE_TOP_N}
ORDER BY tile_lat, tile_lon
"""


SQL_KG_LOCATION_TILES = _sql_kg_location_tiles()


# ---------------------------------------------------------------------------
# S3/J10 — attachment header metadata: EXIF parse + per-turn attachment map
# ---------------------------------------------------------------------------


def q_xml_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attachment metadata pipeline (SURVEY S3 taggedFiles/header parse +
    J10 attachment map; reference parser.py:33-77 EXIF converters +
    neo4j_writer attachment linking): the streamed XML parse emits RAW
    header strings; sexagesimal GPS and EXIF datetimes normalize in pure
    column expressions (functions/exif.py — whole-stage codegen, no
    Python). Every value is relationally derivable from events, so the
    whole parse+normalize path has an exact oracle."""
    from owl_n4j_spark.functions.exif import exif_dt_to_iso, exif_gps_to_decimal
    from owl_n4j_spark.sources.ufed_xml import read_ufed_attachments

    att = read_ufed_attachments(spark, ensure_ufed_xml(spark, sf_dir))
    return (
        att.select(
            "conv_id", "turn_idx", "filename", "mime", "size_bytes",
            F.to_timestamp(exif_dt_to_iso(F.col("exif_dt")),
                           "yyyy-MM-dd'T'HH:mm:ss").alias("taken_ts"),
            F.round(exif_gps_to_decimal(F.col("gps_lat"),
                                        F.col("gps_lat_ref")), 6).alias("lat"),
            F.round(exif_gps_to_decimal(F.col("gps_lon"),
                                        F.col("gps_lon_ref")), 6).alias("lon"))
        .orderBy("conv_id", "turn_idx")
    )


def _sql_q_xml_attachments() -> str:
    rows = ", ".join(
        f"({i}, {CITY_COORDS[_nk(c)][0]}, {CITY_COORDS[_nk(c)][1]})"
        for i, c in enumerate(_CITIES))
    return f"""
WITH {_BASE_CTE},
city(i, lat, lon) AS (VALUES {rows})
SELECT conv_id, turn_idx,
       CASE WHEN event_type = 'purchase'
            THEN printf('receipt_%s_%d.jpg', conv_id, turn_idx)
            ELSE printf('photo_%s_%d.jpg', conv_id, turn_idx) END AS filename,
       'image/jpeg' AS mime,
       CASE WHEN event_type = 'purchase'
            THEN CAST(replace(printf('%.2f', value), '.', '') AS BIGINT)
            ELSE event_id % 100000 + 1000 END AS size_bytes,
       date_trunc('second', ts) AS taken_ts,
       CASE WHEN event_type = 'click' THEN round(c.lat, 6) END AS lat,
       CASE WHEN event_type = 'click' THEN round(c.lon, 6) END AS lon
FROM t LEFT JOIN city c ON c.i = event_id % {len(_CITIES)}
WHERE event_type IN ('purchase', 'click')
ORDER BY conv_id, turn_idx
"""


SQL_Q_XML_ATTACHMENTS = _sql_q_xml_attachments()


# ---------------------------------------------------------------------------
# P3 — date-range filter + 2-hop closure
# ---------------------------------------------------------------------------

CLOSURE_START, CLOSURE_END = "2024-01-05", "2024-01-07"


def kg_date_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's timeline query returns nodes in [start, end] PLUS
    everything <= 2 hops away (neo4j_service.py:293-340). Spark: seed =
    entities active in the window; closure = two self-joins on the
    undirected edge set; per-node hop distance (0 = in window)."""
    res = kg_result(spark, sf_dir)
    tr = res["triples"]
    e = res["edges"]
    sym = (e.select(F.col("src_key").alias("a"), F.col("dst_key").alias("b"))
           .unionByName(e.select(F.col("dst_key").alias("a"),
                                 F.col("src_key").alias("b"))).distinct())
    seed = (
        tr.filter(F.col("ts").between(f"{CLOSURE_START} 00:00:00",
                                      f"{CLOSURE_END} 23:59:59.999"))
        .select(F.col("subj_key").alias("key"))
        .unionByName(
            tr.filter(F.col("ts").between(f"{CLOSURE_START} 00:00:00",
                                          f"{CLOSURE_END} 23:59:59.999"))
            .select(F.col("obj_key").alias("key")))
        .distinct().withColumn("hop", F.lit(0))
    )
    h1 = (seed.join(sym.withColumnRenamed("a", "key"), on="key")
          .select(F.col("b").alias("key")).distinct()
          .withColumn("hop", F.lit(1)))
    h2 = (h1.join(sym.withColumnRenamed("a", "key"), on="key")
          .select(F.col("b").alias("key")).distinct()
          .withColumn("hop", F.lit(2)))
    return (
        seed.unionByName(h1).unionByName(h2)
        .groupBy("key").agg(F.min("hop").cast("bigint").alias("hop"))
        .orderBy("key")
    )


SQL_KG_DATE_CLOSURE = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
tstamped AS (
  SELECT tr.*, t2.ts
  FROM triples tr JOIN t t2 ON tr.conv_id = t2.conv_id AND tr.turn_idx = t2.turn_idx
),
edges AS (SELECT DISTINCT subj_key, obj_key FROM triples),
sym AS (
  SELECT subj_key AS a, obj_key AS b FROM edges
  UNION SELECT obj_key, subj_key FROM edges
),
seed AS (
  SELECT DISTINCT key, 0 AS hop FROM (
    SELECT subj_key AS key FROM tstamped
    WHERE ts BETWEEN '{CLOSURE_START} 00:00:00' AND '{CLOSURE_END} 23:59:59.999'
    UNION ALL
    SELECT obj_key FROM tstamped
    WHERE ts BETWEEN '{CLOSURE_START} 00:00:00' AND '{CLOSURE_END} 23:59:59.999'
  )
),
h1 AS (SELECT DISTINCT sym.b AS key, 1 AS hop FROM seed JOIN sym ON sym.a = seed.key),
h2 AS (SELECT DISTINCT sym.b AS key, 2 AS hop FROM h1 JOIN sym ON sym.a = h1.key)
SELECT key, CAST(MIN(hop) AS BIGINT) AS hop
FROM (SELECT * FROM seed UNION ALL SELECT * FROM h1 UNION ALL SELECT * FROM h2)
GROUP BY key ORDER BY key
"""


# ---------------------------------------------------------------------------
# A3 — owner inference on the driver surface
# ---------------------------------------------------------------------------


def kg_owner_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device-owner election per conversation (SURVEY A3 — the reference
    elects the most frequent phone-resolvable Account value,
    neo4j_writer.py:894-944): vectorized JID→E.164 cascade over the roles,
    groupBy count, argmax via struct-min. Oracle: the speaker identity is
    arithmetic on the conv id."""
    from owl_n4j_spark.operators.owner import infer_owners
    tr = kg_result(spark, sf_dir)["transcripts"]
    return infer_owners(tr).orderBy("conv_id")


SQL_KG_OWNER_INFERENCE = f"""
WITH {_BASE_CTE}
SELECT DISTINCT conv_id, '+' || substring(spk, 7) AS owner_e164
FROM t ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
# A11 — unified contacts: canonical-number rollup with interaction counts
# ---------------------------------------------------------------------------

UNIFIED_CONTACTS_N = 100


def kg_unified_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll up every phone-keyed participant across ALL conversations it
    appears in — as speaker of its own thread AND as counterparty in other
    users' threads — into one row per canonical number with per-channel
    interaction counts and first/last seen, ordered busiest-first (the
    reference's unified-contacts rollup, neo4j_service.py:12150-12547, which
    merges cross-phone Person nodes by E.164 and reads DENORMALIZED comm
    counts — here the counts are one aggregation over the triple stream)."""
    tr = kg_result(spark, sf_dir)["triples"]
    t = tr.filter(F.col("pred") != "PARTICIPATED_IN")
    legs = (
        t.filter(F.col("subj_key").startswith("phone-"))
        .select(F.col("subj_key").alias("key"), "pred", "ts")
        .unionByName(
            t.filter(F.col("obj_key").startswith("phone-"))
            .select(F.col("obj_key").alias("key"), "pred", "ts"))
    )
    cnt = lambda p: F.sum(F.when(F.col("pred") == p, 1).otherwise(0)).cast("bigint")
    agg = legs.groupBy("key").agg(
        cnt("SENT_MESSAGE").alias("msg_count"),
        cnt("CALLED").alias("call_count"),
        cnt("PAID").alias("paid_count"),
        F.min(F.unix_timestamp("ts")).alias("first_seen"),
        F.max(F.unix_timestamp("ts")).alias("last_seen"),
    )
    return (
        agg.select(
            F.concat(F.lit("+"), F.expr("substring(key, 7, 100)")).alias("canonical"),
            "msg_count", "call_count", "paid_count",
            (F.col("msg_count") + F.col("call_count") + F.col("paid_count"))
            .alias("interactions"),
            "first_seen", "last_seen")
        .orderBy(F.desc("interactions"), F.asc("canonical"))
        .limit(UNIFIED_CONTACTS_N)
    )


SQL_KG_UNIFIED_CONTACTS = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
lt AS (
  SELECT l.subj_key, l.pred, l.obj_key, t2.ts
  FROM legs l JOIN t t2 ON l.conv_id = t2.conv_id AND l.turn_idx = t2.turn_idx
),
part AS (
  SELECT subj_key AS key, pred, ts FROM lt WHERE subj_key LIKE 'phone-%'
  UNION ALL
  SELECT obj_key, pred, ts FROM lt WHERE obj_key LIKE 'phone-%'
),
agg AS (
  SELECT key,
         CAST(SUM(CASE WHEN pred = 'SENT_MESSAGE' THEN 1 ELSE 0 END) AS BIGINT) AS msg_count,
         CAST(SUM(CASE WHEN pred = 'CALLED' THEN 1 ELSE 0 END) AS BIGINT) AS call_count,
         CAST(SUM(CASE WHEN pred = 'PAID' THEN 1 ELSE 0 END) AS BIGINT) AS paid_count,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_seen,
         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_seen
  FROM part GROUP BY key
)
SELECT '+' || substring(key, 7) AS canonical,
       msg_count, call_count, paid_count,
       msg_count + call_count + paid_count AS interactions,
       first_seen, last_seen
FROM agg
ORDER BY interactions DESC, canonical
LIMIT {UNIFIED_CONTACTS_N}
"""


def kg_display_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 — E.164 -> INTERNATIONAL display rendering over every phone-
    keyed entity in the KG (the reference's display_format,
    backend/services/phone_normalise.py:133-152: '+12028052817' ->
    '+1 202-805-2817', '+50233991579' -> '+502 3399 1579'; unparseable
    input falls back unchanged). The reference calls the phonenumbers
    metadata library; here the corpus's dial plans (NANP 3-3-4, CC+8-digit
    4-4) render as pure column expressions via
    functions.keys.display_phone — presentation is string surgery, and a
    row-at-a-time UDF for it would put Python in a serving path for
    nothing. One distinct over the triple endpoints, map-side formatting,
    no extra shuffle beyond the distinct."""
    from owl_n4j_spark.functions.keys import display_phone

    tr = kg_result(spark, sf_dir)["triples"]
    keys = (
        tr.select(F.col("subj_key").alias("key"))
        .unionByName(tr.select(F.col("obj_key").alias("key")))
        .filter(F.col("key").startswith("phone-"))
        .distinct()
    )
    return (keys.select(
        F.concat(F.lit("+"), F.expr("substring(key, 7, 100)"))
        .alias("canonical"),
        display_phone(F.col("key")).alias("display"))
        .orderBy("canonical"))


SQL_KG_DISPLAY_CONTACTS = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
pk AS (
  SELECT DISTINCT key FROM (
    SELECT subj_key AS key FROM triples
    UNION ALL SELECT obj_key FROM triples
  ) WHERE key LIKE 'phone-%'
),
d AS (SELECT substring(key, 7) AS digits FROM pk)
SELECT '+' || digits AS canonical,
       CASE WHEN digits LIKE '1%' AND length(digits) = 11
            THEN '+1 ' || substring(digits, 2, 3) || '-' ||
                 substring(digits, 5, 3) || '-' || substring(digits, 8, 4)
            WHEN length(digits) = 11 AND digits NOT LIKE '1%'
            THEN '+' || substring(digits, 1, 3) || ' ' ||
                 substring(digits, 4, 4) || ' ' || substring(digits, 8, 4)
            ELSE '+' || digits END AS display
FROM d ORDER BY canonical
"""


# ---------------------------------------------------------------------------
# L8 — hybrid RAG retrieval: text match + vector top-k + KG degree rerank
# ---------------------------------------------------------------------------

RAG_TERM = "window"
RAG_TOPK = 10
RAG_QUERY_VEC = 0
_W_TEXT, _W_VEC, _W_GRAPH = 0.5, 0.3, 0.2


def kg_rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's most-used query entry point composed as ONE operator
    (rag_service.py:687-1310: vector top-k + entity match + graph expansion
    + rerank): per candidate document, fuse
      - a text leg (term-frequency of the query term),
      - a vector leg (cosine vs the query embedding),
      - a graph leg (log-degree of the document's linked KG entity)
    into a deterministic weighted score and return the top-k. The candidate
    set is GATED, never the whole corpus: a document qualifies if its text
    matches the query term OR its embedding shares one of the query's
    multi-probe LSH buckets (the q_ann_signlsh machinery) — both gates are
    pushdown-able predicates / bucket equi-joins, so at 100 TB the rerank
    touches a bounded candidate set. The query vector is broadcast; the
    O(entities) degree table is left-semi-reduced to the candidate key set
    before its (then candidate-sized) broadcast join."""
    from owl_n4j_spark.plans.relational import load
    from owl_n4j_spark.plans.text import LSH_NBITS, _SPARK_DOT, _bucket_spark

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    ev = load(spark, sf_dir, "events")
    res = kg_result(spark, sf_dir)

    n_users = ev.agg(F.max("user_id")).collect()[0][0] + 1  # 1-row driver read
    e = res["edges"]
    # doc -> entity map derived from the KG ITSELF (r3 verdict item 5 —
    # no synth-universe scaffolding in a serving path): every
    # conversation's SENT_MESSAGE edge is (speaker canonical key ->
    # chat-conv-NNNNN), so the conv index + owner key come straight off
    # the edges table. O(conversations) and distributed — it is
    # semi-reduced to the gated candidates below, never built driver-side.
    ent_map = (
        e.filter(F.col("rel_type") == "SENT_MESSAGE")
        .select(F.substring("dst_key", 11, 10).cast("long").alias("uidx"),
                F.col("src_key").alias("key"))
        .dropDuplicates(["uidx", "key"])
    )
    deg = (
        e.select(F.col("src_key").alias("key"))
        .unionByName(e.select(F.col("dst_key").alias("key")))
        .filter(F.col("key").startswith("phone-"))
        .groupBy("key").agg(F.count("*").alias("deg"))
    )

    q = (emb.filter(F.col("vec_id") == RAG_QUERY_VEC)
         .select(F.col("embedding").alias("qe"),
                 _bucket_spark("embedding").alias("qb")))
    # multi-probe bucket set of the query: exact bucket + 1-bit flips
    probes = (q.select(F.explode(F.array(
        *[F.lit(i) for i in range(LSH_NBITS + 1)])).alias("flip"), "qb")
        .select(F.when(F.col("flip") == 0, F.col("qb")).otherwise(F.concat(
            F.expr("substring(qb, 1, flip - 1)"),
            F.when(F.expr("substring(qb, flip, 1)") == "1", F.lit("0"))
             .otherwise(F.lit("1")),
            F.expr(f"substring(qb, flip + 1, {LSH_NBITS})"))).alias("bucket")))
    probe_set = (probes.dropDuplicates(["bucket"])
                 .withColumn("__probe", F.lit(1)))
    gated = (
        docs.select("doc_id",
                    F.regexp_count(F.col("text"), F.lit(RAG_TERM))
                    .cast("bigint").alias("text_score"))
        .join(emb.select(F.col("vec_id").alias("doc_id"),
                         F.col("embedding").alias("ce"),
                         _bucket_spark("embedding").alias("bucket")), "doc_id")
        .join(F.broadcast(probe_set), "bucket", "left")
        .filter((F.col("text_score") > 0) | F.col("__probe").isNotNull())
        .crossJoin(F.broadcast(q.select("qe")))
        .withColumn("uidx", F.col("doc_id") % n_users)
    )
    # ent_map and deg are O(conversations) / O(entities) — at 100x scale
    # both sides are unbounded, so never broadcast either wholesale
    # (r2 verdict). Left-semi-reduce each to the gated candidates first,
    # then the joins broadcast only candidate-sized slices. The gated set
    # is checkpointed so the gate (docs+embeddings scan) evaluates ONCE,
    # not once per consumer; ent_cand likewise (it feeds both the entity
    # join and the degree semi-join).
    gated = gated.localCheckpoint(eager=True)
    ent_cand = (ent_map.join(gated.select("uidx").dropDuplicates(["uidx"]),
                             "uidx", "left_semi")
                .localCheckpoint(eager=True))
    deg_cand = deg.join(ent_cand.select("key").dropDuplicates(["key"]),
                        "key", "left_semi")
    cand = (
        # LEFT: a gated doc whose entity never sent a message still ranks
        # (graph leg 0) — an inner join would silently drop it from the
        # candidate set while the text/vector gates admitted it
        gated.join(F.broadcast(ent_cand), "uidx", "left")
        .join(F.broadcast(deg_cand), "key", "left")
        .withColumn("deg", F.coalesce(F.col("deg"), F.lit(0)))
    )
    dot = F.expr(_SPARK_DOT.format(a="qe", b="ce"))
    qn = F.sqrt(F.expr(_SPARK_DOT.format(a="qe", b="qe")))
    cn = F.sqrt(F.expr(_SPARK_DOT.format(a="ce", b="ce")))
    scored = cand.withColumn("cos", dot / (qn * cn))
    stats = scored.agg(
        F.max("text_score").alias("max_text"),
        F.max("deg").alias("max_deg")).withColumn("__one", F.lit(1))
    scored = (
        scored.withColumn("__one", F.lit(1))
        .join(F.broadcast(stats), "__one")
        .withColumn(
            "score",
            F.lit(_W_TEXT) * F.when(F.col("max_text") > 0,
                                    F.col("text_score") / F.col("max_text"))
                              .otherwise(F.lit(0.0))
            + F.lit(_W_VEC) * (F.col("cos") + 1) / 2
            # max_deg == 0 (no candidate has an edged entity) is 0/0:
            # Spark would yield NaN (sorts FIRST desc) where DuckDB
            # yields NULL (sorts last) — guard like the max_text leg
            + F.lit(_W_GRAPH) * F.when(F.col("max_deg") > 0,
                                       F.log(1 + F.col("deg"))
                                       / F.log(1 + F.col("max_deg")))
                                 .otherwise(F.lit(0.0)))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= RAG_TOPK)
        .select("rank", "doc_id", F.round("score", 6).alias("score"),
                "text_score", F.round("cos", 6).alias("cosine"),
                F.col("deg").cast("bigint").alias("entity_degree"))
        .orderBy("rank")
    )


def _sql_kg_rag_retrieve() -> str:
    from owl_n4j_spark.plans.text import LSH_NBITS, _DUCK_DOT, _bucket_duck
    nu = "(SELECT MAX(user_id) + 1 FROM events)"
    # doc -> entity via the KG's own SENT_MESSAGE edges (the exact map the
    # Spark side derives), LEFT-joined so an edgeless entity ranks deg 0 —
    # never the closed-form phone-key formula, which would disagree with
    # the Spark side whenever a user has no surviving message edge
    dot = _DUCK_DOT.format(a="q.qe", b="e.embedding")
    qn = _DUCK_DOT.format(a="q.qe", b="q.qe")
    cn = _DUCK_DOT.format(a="e.embedding", b="e.embedding")
    return f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
edges AS (SELECT DISTINCT subj_key, pred, obj_key FROM triples),
deg AS (
  SELECT key, COUNT(*) AS deg FROM (
    SELECT subj_key AS key FROM edges
    UNION ALL SELECT obj_key FROM edges
  ) WHERE key LIKE 'phone-%' GROUP BY key
),
entmap AS (
  SELECT DISTINCT CAST(substring(obj_key, 11) AS BIGINT) AS uidx,
         subj_key AS key
  FROM edges WHERE pred = 'SENT_MESSAGE'
),
bkt AS (SELECT vec_id, embedding, {_bucket_duck('embedding')} AS bucket
        FROM embeddings),
q AS (SELECT embedding AS qe, bucket AS qb FROM bkt
      WHERE vec_id = {RAG_QUERY_VEC}),
probe_set AS (
  SELECT DISTINCT CASE WHEN flip = 0 THEN qb
              ELSE substring(qb, 1, flip - 1)
                   || (CASE WHEN substring(qb, flip, 1) = '1'
                            THEN '0' ELSE '1' END)
                   || substring(qb, flip + 1, {LSH_NBITS})
         END AS bucket
  FROM q, range(0, {LSH_NBITS} + 1) r(flip)
),
cand AS (
  SELECT d.doc_id,
         CAST(len(regexp_extract_all(d.text, '{RAG_TERM}')) AS BIGINT) AS text_score,
         {dot} / (sqrt({qn}) * sqrt({cn})) AS cos,
         coalesce(dg.deg, 0) AS deg
  FROM documents d
  JOIN bkt e ON e.vec_id = d.doc_id
  CROSS JOIN q
  LEFT JOIN entmap em ON em.uidx = d.doc_id % {nu}
  LEFT JOIN deg dg ON dg.key = em.key
  WHERE len(regexp_extract_all(d.text, '{RAG_TERM}')) > 0
     OR e.bucket IN (SELECT bucket FROM probe_set)
),
stats AS (SELECT MAX(text_score) AS max_text, MAX(deg) AS max_deg FROM cand),
scored AS (
  SELECT doc_id, text_score, cos, deg,
         {_W_TEXT} * (CASE WHEN s.max_text > 0
                           THEN CAST(text_score AS DOUBLE) / s.max_text
                           ELSE 0.0 END)
         + {_W_VEC} * (cos + 1) / 2
         + {_W_GRAPH} * (CASE WHEN s.max_deg > 0
                              THEN ln(1 + deg) / ln(1 + s.max_deg)
                              ELSE 0.0 END) AS score
  FROM cand, stats s
),
ranked AS (
  SELECT doc_id, text_score, cos, deg, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT rank, doc_id, round(score, 6) AS score, text_score,
       round(cos, 6) AS cosine, CAST(deg AS BIGINT) AS entity_degree
FROM ranked WHERE rank <= {RAG_TOPK}
ORDER BY rank
"""


SQL_KG_RAG_RETRIEVE = _sql_kg_rag_retrieve()


def kg_rag_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8 completion (r2 verdict item 5): deterministic answer COMPOSITION
    over the retrieval top-k — the reference's RAG service renders an
    answer string plus an extractable citation list from the retrieved
    nodes (rag_service.py:1677-2260); here the template is a pure column
    expression so the whole (query, answer, citations) contract has an
    exact string oracle. One aggregation over the RAG_TOPK retrieve rows:
    collect_list -> sort_array puts evidence in rank order without a
    global sort, and the citation list is the comma-joined doc ids the
    reference's cite-extractor would parse back out. Integer-only fields
    go into the answer text (floats stay in their own hashed columns
    upstream) so string rendering is engine-exact."""
    hits = kg_rag_retrieve(spark, sf_dir)
    agg = hits.agg(
        F.count("*").alias("n_hits"),
        F.sort_array(F.collect_list(
            F.struct("rank", "doc_id", "text_score"))).alias("hs"))
    evid = F.array_join(
        F.transform("hs", lambda h: F.format_string(
            "doc %d (rank %d, %d term hits)",
            h["doc_id"], h["rank"], h["text_score"])), "; ")
    return agg.select(
        F.lit(RAG_TERM).alias("query"),
        F.col("n_hits"),
        F.format_string('Query "%s": %d results. Evidence: %s',
                        F.lit(RAG_TERM), F.col("n_hits"), evid).alias("answer"),
        F.array_join(
            F.transform("hs", lambda h: h["doc_id"].cast("string")),
            ",").alias("cited_docs"))


SQL_KG_RAG_ANSWER = f"""
SELECT '{RAG_TERM}' AS query,
       COUNT(*) AS n_hits,
       printf('Query "%s": %d results. Evidence: %s', '{RAG_TERM}', COUNT(*),
              coalesce(string_agg(printf('doc %d (rank %d, %d term hits)',
                                         doc_id, rank, text_score),
                                  '; ' ORDER BY rank), '')) AS answer,
       coalesce(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rank), '')
         AS cited_docs
FROM ({SQL_KG_RAG_RETRIEVE}) hits
"""


# ---------------------------------------------------------------------------
# J4 — explicit entity -> conversation MENTIONED_IN projection
# ---------------------------------------------------------------------------


def kg_mentioned_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MENTIONED_IN edges: canonical entity -> conversation with mention
    weight (the reference links every entity to its source document,
    neo4j_client.py MENTIONED_IN MERGEs; SURVEY J4). One aggregation over
    the canonical mention stream."""
    m = kg_result(spark, sf_dir)["mentions"]
    return (
        m.groupBy(F.col("mention_key").alias("key"), "conv_id")
        .agg(F.count("*").alias("n_mentions"))
        .orderBy("key", "conv_id")
    )


SQL_KG_MENTIONED_IN = f"""
WITH {_BASE_CTE},
mlegs AS (
  SELECT spk AS key, conv_id FROM t                 -- speaker identity (role)
  UNION ALL                                         -- name mention of A -> canonical phone
  SELECT spk, conv_id FROM t WHERE event_type != 'error'
  UNION ALL
  SELECT oth, conv_id FROM t WHERE event_type IN ('purchase', 'view')
  UNION ALL
  SELECT {et._city_key_case()}, conv_id FROM t WHERE event_type = 'click'
  UNION ALL
  SELECT {et._org_key_case()}, conv_id FROM t WHERE event_type = 'signup'
  UNION ALL
  SELECT chat, conv_id FROM (SELECT DISTINCT chat, conv_id FROM t)
)
SELECT key, conv_id, COUNT(*) AS n_mentions
FROM mlegs
GROUP BY key, conv_id
ORDER BY key, conv_id
"""


# ---------------------------------------------------------------------------
# A13 — per-entity fact merge: payment facts rolled up per (payer, payee)
# ---------------------------------------------------------------------------


def kg_payment_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge duplicate-evidence facts per entity pair (the reference dedups
    facts by normalized text per entity and keeps merged evidence — SURVEY
    A13): every PAID triple carries normalized amount/date evidence
    (F2/normalize_amount); rollup = n_payments, total, first/last date."""
    tr = kg_result(spark, sf_dir)["triples"]
    paid = tr.filter(F.col("pred") == "PAID")
    return (
        paid.groupBy(F.col("subj_key").alias("payer"),
                     F.col("obj_key").alias("payee"))
        .agg(F.count("*").alias("n_payments"),
             F.round(F.sum(F.col("amount").cast("double")), 2)
              .alias("total_amount"),
             F.min("date").alias("first_date"),
             F.max("date").alias("last_date"))
        .orderBy("payer", "payee")
    )


SQL_KG_PAYMENT_FACTS = f"""
WITH {_BASE_CTE}
SELECT spk AS payer, oth AS payee,
       COUNT(*) AS n_payments,
       round(SUM(round(value, 2)), 2) AS total_amount,
       MIN(strftime(ts, '%Y-%m-%d')) AS first_date,
       MAX(strftime(ts, '%Y-%m-%d')) AS last_date
FROM t
WHERE event_type = 'purchase'
GROUP BY spk, oth
ORDER BY payer, payee
"""


# ---------------------------------------------------------------------------
# T6 — fact-importance ranking: top entities by mention volume + degree
# ---------------------------------------------------------------------------

TOP_ENTITIES_N = 20


def kg_top_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-ranked entities (SURVEY T6 — the reference sorts facts and
    entity panels by importance): score = mention volume + graph degree,
    deterministic tie-break on key."""
    res = kg_result(spark, sf_dir)
    mc = (res["mentions"].groupBy(F.col("mention_key").alias("key"))
          .agg(F.count("*").alias("n_mentions")))
    e = res["edges"]
    deg = (
        e.select(F.col("src_key").alias("key"))
        .unionByName(e.select(F.col("dst_key").alias("key")))
        .groupBy("key").agg(F.count("*").alias("degree"))
    )
    scored = (
        mc.join(deg, "key", "left")
        .withColumn("degree", F.coalesce(F.col("degree"), F.lit(0)))
        .withColumn("score", F.col("n_mentions") + F.col("degree"))
    )
    # TakeOrderedAndProject over the scored universe, then rank only the
    # bounded N-row survivor set (see kg_degree_topn for the rationale).
    top = scored.orderBy(F.desc("score"), F.asc("key")).limit(TOP_ENTITIES_N)
    w = Window.orderBy(F.desc("score"), F.asc("key"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("rank", "key", "score", "n_mentions",
                F.col("degree").cast("bigint").alias("degree"))
        .orderBy("rank")
    )


SQL_KG_TOP_ENTITIES = f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
mlegs AS (
  SELECT spk AS key FROM t
  UNION ALL SELECT spk FROM t WHERE event_type != 'error'
  UNION ALL SELECT oth FROM t WHERE event_type IN ('purchase', 'view')
  UNION ALL SELECT {et._city_key_case()} FROM t WHERE event_type = 'click'
  UNION ALL SELECT {et._org_key_case()} FROM t WHERE event_type = 'signup'
  UNION ALL SELECT chat FROM (SELECT DISTINCT chat, conv_id FROM t)
),
mc AS (SELECT key, COUNT(*) AS n_mentions FROM mlegs GROUP BY key),
edges AS (SELECT DISTINCT subj_key, pred, obj_key FROM triples),
deg AS (
  SELECT key, COUNT(*) AS degree FROM (
    SELECT subj_key AS key FROM edges UNION ALL SELECT obj_key FROM edges
  ) GROUP BY key
),
scored AS (
  SELECT mc.key, mc.n_mentions, coalesce(deg.degree, 0) AS degree,
         mc.n_mentions + coalesce(deg.degree, 0) AS score
  FROM mc LEFT JOIN deg USING (key)
),
ranked AS (
  SELECT key, score, n_mentions, degree,
         row_number() OVER (ORDER BY score DESC, key) AS rank
  FROM scored
)
SELECT rank, key, score, n_mentions, CAST(degree AS BIGINT) AS degree
FROM ranked WHERE rank <= {TOP_ENTITIES_N}
ORDER BY rank
"""


KG_ANALYTICS_REGISTRY = {
    "kg_rag_retrieve": (kg_rag_retrieve, SQL_KG_RAG_RETRIEVE),
    "kg_rag_answer": (kg_rag_answer, SQL_KG_RAG_ANSWER),
    "kg_merge_audit": (kg_merge_audit, SQL_KG_MERGE_AUDIT),
    "q_xml_ingest": (q_xml_ingest, SQL_Q_XML_INGEST),
    "q_xml_reconcile": (q_xml_reconcile, SQL_Q_XML_RECONCILE),
    "q_wiretap_ingest": (q_wiretap_ingest, SQL_Q_WIRETAP_INGEST),
    "kg_wiretap_triples": (kg_wiretap_triples, SQL_KG_WIRETAP_TRIPLES),
    "q_wiretap_manifest": (q_wiretap_manifest, SQL_Q_WIRETAP_MANIFEST),
    "q_stream_parity": (q_stream_parity, SQL_Q_STREAM_PARITY),
    "kg_suggest_links": (kg_suggest_links, SQL_KG_SUGGEST_LINKS),
    "kg_insights": (kg_insights, SQL_KG_INSIGHTS),
    "kg_cost_ledger": (kg_cost_ledger, SQL_KG_COST_LEDGER),
    "q_xml_attachments": (q_xml_attachments, SQL_Q_XML_ATTACHMENTS),
    "kg_fuzzy_resolve": (kg_fuzzy_resolve, SQL_KG_FUZZY_RESOLVE),
    "kg_nl_route": (kg_nl_route, SQL_KG_NL_ROUTE),
    "q_case_scan": (q_case_scan, SQL_Q_CASE_SCAN),
    "q_extraction_intersection": (q_extraction_intersection,
                                  SQL_Q_EXTRACTION_INTERSECTION),
    "kg_mentioned_in": (kg_mentioned_in, SQL_KG_MENTIONED_IN),
    "kg_payment_facts": (kg_payment_facts, SQL_KG_PAYMENT_FACTS),
    "kg_top_entities": (kg_top_entities, SQL_KG_TOP_ENTITIES),
    "kg_owner_inference": (kg_owner_inference, SQL_KG_OWNER_INFERENCE),
    "kg_unified_contacts": (kg_unified_contacts, SQL_KG_UNIFIED_CONTACTS),
    "kg_display_contacts": (kg_display_contacts, SQL_KG_DISPLAY_CONTACTS),
    "kg_date_closure": (kg_date_closure, SQL_KG_DATE_CLOSURE),
    "kg_location_tiles": (kg_location_tiles, SQL_KG_LOCATION_TILES),
    "kg_entity_summaries": (kg_entity_summaries, SQL_KG_ENTITY_SUMMARIES),
    "kg_last_location": (kg_last_location, SQL_KG_LAST_LOCATION),
    "kg_graph_summary": (kg_graph_summary, SQL_KG_GRAPH_SUMMARY),
    "kg_thread_stats": (kg_thread_stats, SQL_KG_THREAD_STATS),
    "kg_degree_topn": (kg_degree_topn, SQL_KG_DEGREE_TOPN),
    "kg_timeline_page": (kg_timeline_page, SQL_KG_TIMELINE_PAGE),
    "kg_envelope_daily": (kg_envelope_daily, SQL_KG_ENVELOPE_DAILY),
}
