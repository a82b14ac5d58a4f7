"""Transcript source derived from the driver's ``events`` table.

The reference turns semi-structured comm records into transcript-shaped
evidence before extraction (Cellebrite chats/messages →
/root/reference/ingestion/scripts/cellebrite/neo4j_writer.py:1507-1662;
wiretap folders → /root/reference/ingestion/scripts/audio_processor.py:130-260).
This module is that source stage for the driver tables: each ``events`` row
becomes one conversation turn with a deterministic natural-language body, so
the ENTIRE KG pipeline (extract → link → canonicalize → materialize) runs
over driver-provided data and its emitted triple set has an exact DuckDB
oracle (the expected triples are derivable from ``events`` relationally —
see ``oracle_triples_sql``).

Everything here is pure column expressions — the text rendering is
format_string/CASE inside whole-stage codegen; the person/org dictionaries
are broadcast joins of a 2k-row table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from owl_n4j_spark.functions.keys import normalise_key
from owl_n4j_spark.synth import CITIES, alias_dict_pandas, build_universe

N_PERSONS = 2048   # covers user_id range at every sf (max 1499 at sf0.1)
N_ORGS = 24
SEED = 42

_UNIVERSE = None


def _universe():
    global _UNIVERSE
    if _UNIVERSE is None:
        _UNIVERSE = build_universe(SEED, N_PERSONS, N_ORGS)
    return _UNIVERSE


def persons_df(spark: SparkSession) -> DataFrame:
    u = _universe()
    pdf = pd.DataFrame(
        [(p.idx, p.full, p.jid) for p in u.persons],
        columns=["idx", "full_name", "jid"],
    )
    return spark.createDataFrame(pdf)


def alias_dict_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(alias_dict_pandas(_universe()))


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-transcripts source, a ``shared_table`` built ONCE per
    (session, sf_dir).

    Every headline consumer (the bench's count + timed extraction legs,
    kg_result's pipeline, the XML fixture renderer, q_decontaminate)
    re-derived the same frame — a broadcast-join + window shuffle each
    (~2.3 s at sf0.1). A LAZY localCheckpoint (not parquet) on purpose:
    it preserves the window shuffle's partitioning — a parquet round-trip
    of this ~10 MB frame would pack into one scan split and serialize the
    downstream Python extraction stage — and spills to disk at scale
    (MEMORY_AND_DISK)."""
    from owl_n4j_spark.plans.kg_analytics import shared_table

    return shared_table(
        spark, sf_dir, "transcripts",
        lambda: _transcripts_plan(spark, sf_dir).localCheckpoint(eager=False),
        parquet=False)


def _transcripts_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value) -> transcripts
    (conv_id, turn_idx, role, text, tool, ts).

    conv = user; turn order = (ts, event_id); speaker identity = the user's
    WhatsApp JID (so the extraction key cascade exercises JID → E.164);
    turn text per event_type:
      purchase → "<A> paid $<v> to <B> on <date>."
      click    → "<A> traveled to <city> on <date>."
      signup   → "<A> works for <org>."
      view     → "<A> called <B> yesterday."
      error    → "ok"                      (noise turn)
    where B = persons[user_id + 1], city = CITIES[event_id % 20],
    org = orgs[event_id % N_ORGS].
    """
    u = _universe()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = persons_df(spark)
    spk = p.select(F.col("idx").alias("user_id"),
                   F.col("full_name").alias("spk_name"), "jid")
    oth = p.select((F.col("idx") - 1).alias("user_id"),
                   F.col("full_name").alias("oth_name"))

    cities_arr = F.array(*[F.lit(c) for c in CITIES])
    orgs_arr = F.array(*[F.lit(full) for full, _, _ in u.orgs])
    date_s = F.date_format("ts", "yyyy-MM-dd")
    city = F.element_at(cities_arr, (F.col("event_id") % len(CITIES) + 1).cast("int"))
    org = F.element_at(orgs_arr, (F.col("event_id") % N_ORGS + 1).cast("int"))

    text = (
        F.when(F.col("event_type") == "purchase",
               F.format_string("%s paid $%.2f to %s on %s.",
                               F.col("spk_name"), F.col("value"),
                               F.col("oth_name"), date_s))
        .when(F.col("event_type") == "click",
              F.format_string("%s traveled to %s on %s.",
                              F.col("spk_name"), city, date_s))
        .when(F.col("event_type") == "signup",
              F.format_string("%s works for %s.", F.col("spk_name"), org))
        .when(F.col("event_type") == "view",
              F.format_string("%s called %s yesterday.",
                              F.col("spk_name"), F.col("oth_name")))
        .otherwise(F.lit("ok"))
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.join(F.broadcast(spk), "user_id")
        .join(F.broadcast(oth), "user_id")
        .select(
            F.format_string("conv-%05d", F.col("user_id")).alias("conv_id"),
            (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
            F.col("jid").alias("role"),
            text.alias("text"),
            F.lit("WhatsApp").alias("tool"),
            F.col("ts"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles — expected pipeline output derived relationally from events
# ---------------------------------------------------------------------------


def _phone_key_sql(i: str) -> str:
    """Canonical person key for person index ``i`` — the SQL mirror of
    synth.build_universe's phone assignment + the key cascade."""
    return f"""(CASE WHEN ({i}) % 10 = 3
  THEN 'phone-503' || CAST(70000000 + (({i}) * 13) % 9999999 AS VARCHAR)
  ELSE 'phone-1'
       || CAST(200 + (({i}) % 780) AS VARCHAR)
       || lpad(CAST(200 + ((({i}) * 7) % 780) AS VARCHAR), 3, '0')
       || lpad(CAST((({i}) * 13) % 10000 AS VARCHAR), 4, '0')
  END)"""


def _city_key_case() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{normalise_key(c)}'" for i, c in enumerate(CITIES))
    return f"(CASE event_id % {len(CITIES)} {whens} END)"


def _org_key_case() -> str:
    u = _universe()
    whens = " ".join(
        f"WHEN {i} THEN '{key}'" for i, (_, _, key) in enumerate(u.orgs))
    return f"(CASE event_id % {N_ORGS} {whens} END)"


_BASE_CTE = f"""
t AS (
  SELECT event_id, ts, event_type, value,
         printf('conv-%05d', user_id) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         {_phone_key_sql('user_id')} AS spk,
         {_phone_key_sql('user_id + 1')} AS oth,
         'chat-' || printf('conv-%05d', user_id) AS chat
  FROM events
)
"""

_TRIPLE_LEGS = f"""
legs AS (
  SELECT spk AS subj_key, 'SENT_MESSAGE' AS pred, chat AS obj_key,
         conv_id, turn_idx
  FROM t
  UNION ALL
  SELECT spk, 'PAID', oth, conv_id, turn_idx FROM t WHERE event_type = 'purchase'
  UNION ALL
  SELECT spk, 'TRAVELED_TO', {_city_key_case()}, conv_id, turn_idx
  FROM t WHERE event_type = 'click'
  UNION ALL
  SELECT spk, 'WORKS_FOR', {_org_key_case()}, conv_id, turn_idx
  FROM t WHERE event_type = 'signup'
  UNION ALL
  SELECT spk, 'CALLED', oth, conv_id, turn_idx FROM t WHERE event_type = 'view'
),
participated AS (
  SELECT subj_key, 'PARTICIPATED_IN' AS pred, obj_key, conv_id,
         MIN(turn_idx) AS turn_idx
  FROM legs WHERE pred = 'SENT_MESSAGE'
  GROUP BY subj_key, obj_key, conv_id
),
triples AS (
  SELECT DISTINCT * FROM
    (SELECT * FROM legs UNION ALL SELECT * FROM participated)
)
"""


def oracle_triples_sql() -> str:
    return f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS}
SELECT subj_key, pred, obj_key, conv_id, turn_idx
FROM triples
ORDER BY subj_key, pred, obj_key, conv_id, turn_idx
"""


def oracle_nodes_sql() -> str:
    return f"""
WITH {_BASE_CTE},
keys AS (
  SELECT spk AS key, 'Person' AS type FROM t
  UNION ALL
  SELECT oth, 'Person' FROM t WHERE event_type IN ('purchase', 'view')
  UNION ALL
  SELECT {_city_key_case()}, 'Location' FROM t WHERE event_type = 'click'
  UNION ALL
  SELECT {_org_key_case()}, 'Company' FROM t WHERE event_type = 'signup'
  UNION ALL
  SELECT chat, 'Communication' FROM t
)
SELECT DISTINCT key, type FROM keys
ORDER BY key
"""


def oracle_manifest_sql() -> str:
    """Expected reconciliation-manifest stage totals, derived from events.

    Per-turn record arithmetic (extraction contract): every turn emits one
    speaker mention + one SENT_MESSAGE triple; non-noise turns add two
    mentions + one relation triple; plus one thread mention per conversation.
    """
    return f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS},
counts AS (
  SELECT COUNT(*) AS n_total,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
         COUNT(DISTINCT conv_id) AS n_conv
  FROM t
),
users AS (SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS idx FROM t),
-- name mentions of the speaker come from the rendered TEXT, which names the
-- speaker only on non-noise turns ('error' renders "ok"); an error-only user
-- has a phone mention (JID role) but no name mention.
users_named AS (
  SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) AS idx
  FROM t WHERE event_type != 'error'
),
others AS (
  SELECT DISTINCT CAST(substring(conv_id, 6) AS BIGINT) + 1 AS idx
  FROM t WHERE event_type IN ('purchase', 'view')
),
name_people AS (SELECT idx FROM users_named UNION SELECT idx FROM others),
mapping_count AS (
  SELECT (SELECT COUNT(*) FROM users)                       -- phone keys
       + (SELECT COUNT(*) FROM name_people)                 -- name keys
       + (SELECT COUNT(DISTINCT {_city_key_case()}) FROM t WHERE event_type = 'click')
       + (SELECT COUNT(DISTINCT {_org_key_case()}) FROM t WHERE event_type = 'signup')
       + (SELECT n_conv FROM counts) AS n                   -- chat keys
),
n_mentions AS (
  SELECT n_total + 2 * (n_total - n_err) + n_conv AS n FROM counts
),
n_records AS (
  SELECT (SELECT n FROM n_mentions) + n_total + (n_total - n_err) AS n
  FROM counts
),
n_triples AS (SELECT COUNT(*) AS n FROM triples),
n_nodes AS (
  SELECT COUNT(*) AS n FROM (
    SELECT DISTINCT key FROM (
      SELECT spk AS key FROM t
      UNION ALL SELECT oth FROM t WHERE event_type IN ('purchase', 'view')
      UNION ALL SELECT {_city_key_case()} FROM t WHERE event_type = 'click'
      UNION ALL SELECT {_org_key_case()} FROM t WHERE event_type = 'signup'
      UNION ALL SELECT chat FROM t
    )
  )
),
n_edges AS (
  SELECT COUNT(*) AS n FROM
    (SELECT DISTINCT subj_key, pred, obj_key FROM triples)
)
-- Every count is CAST to BIGINT: Spark emits int64 for all manifest counts,
-- while DuckDB SUM/arithmetic yields HUGEINT and bare literals INT32 — the
-- driver hashes typed values, so the types must match exactly.
SELECT 'edges_referential' AS stage,
       CAST((SELECT n FROM n_edges) AS BIGINT) AS in_rows,
       CAST((SELECT n FROM n_edges) AS BIGINT) AS out_rows,
       CAST(0 AS BIGINT) AS quarantined
UNION ALL
SELECT 'extract', CAST((SELECT n_total FROM counts) AS BIGINT),
       CAST((SELECT n FROM n_records) AS BIGINT), CAST(0 AS BIGINT)
UNION ALL
SELECT 'link_canonicalize', CAST((SELECT n FROM mapping_count) AS BIGINT),
       CAST((SELECT n FROM mapping_count) AS BIGINT), CAST(0 AS BIGINT)
UNION ALL
SELECT 'materialize_nodes', CAST((SELECT n FROM n_mentions) AS BIGINT),
       CAST((SELECT n FROM n_nodes) AS BIGINT), CAST(0 AS BIGINT)
UNION ALL
SELECT 'normalize', CAST((SELECT n_total FROM counts) AS BIGINT),
       CAST((SELECT n_total FROM counts) AS BIGINT), CAST(0 AS BIGINT)
UNION ALL
SELECT 'triples', CAST((SELECT n FROM n_records) AS BIGINT),
       CAST((SELECT n FROM n_triples) AS BIGINT), CAST(0 AS BIGINT)
ORDER BY stage
"""


def oracle_edges_sql() -> str:
    return f"""
WITH {_BASE_CTE}, {_TRIPLE_LEGS}
SELECT subj_key AS src_key, obj_key AS dst_key, pred AS rel_type,
       COUNT(*) AS weight
FROM triples
GROUP BY src_key, dst_key, rel_type
ORDER BY src_key, dst_key, rel_type
"""
