"""One measured 10x data point for the 100x-design claims (r3 verdict
item 8): run the headline queries at "sf1" — a deterministic 10x tiling of
the driver's sf0.1 tables — and record wall-times next to the sf0.1 solo
numbers so the sub-linear-growth story in SCALE.md has a measurement.

Tiling (no external data, fully deterministic):
- events: 10 tiles; tile t shifts user_id by t*n_users (new conversations,
  new graph vertices) and event_id by t*(max_event_id+1) (new event
  identities). The synth person universe is widened to cover the shifted
  user range — measurement scaffolding only, no oracle depends on it.
- documents: 10 tiles; tile t shifts doc_id by t*n_docs and appends a
  per-tile token to the text so cross-tile rows are near-dups, not exact
  dups (a degenerate exact-dup corpus would collapse every LSH bucket).

Run ALONE (no concurrent Spark) — wall-times are the point.

Usage: python scripts_dev/bench_sf1.py [tiles]
Prints one JSON line; paste the table into BENCH/BASELINE.md.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TILES = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = "/root/testdata/sf0.1"
DST = f"/tmp/owl_sf1_{TILES}x"


def build(spark):
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(DST, "_SUCCESS")):
        return
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    n_users = ev.agg(F.max("user_id")).collect()[0][0] + 1
    e_span = ev.agg(F.max("event_id")).collect()[0][0] + 1
    tiles = F.explode(F.array(*[F.lit(t) for t in range(TILES)])).alias("t")
    (ev.select("*", tiles)
     .select((F.col("event_id") + F.col("t") * e_span).alias("event_id"),
             "ts",
             (F.col("user_id") + F.col("t") * n_users).alias("user_id"),
             "event_type", "value", "props")
     .repartition(64)
     .write.mode("overwrite").parquet(f"{DST}/events.parquet"))
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    (docs.select("*", tiles)
     .select((F.col("doc_id") + F.col("t") * n_docs).alias("doc_id"),
             F.when(F.col("t") == 0, F.col("text"))
              .otherwise(F.concat(F.col("text"), F.lit(" tile"),
                                  F.col("t").cast("string"))).alias("text"),
             "lang", "source",
             F.when(F.col("t") == 0, F.col("n_chars"))
              .otherwise(F.col("n_chars") + 6
                         + F.length(F.col("t").cast("string")))
              .alias("n_chars"))
     .repartition(64)
     .write.mode("overwrite").parquet(f"{DST}/documents.parquet"))
    open(os.path.join(DST, "_SUCCESS"), "w").close()


def main():
    # widen the synth universe BEFORE anything caches it: tiled user ids
    # reach TILES * 1500
    from owl_n4j_spark.sources import events_transcripts as et
    et.N_PERSONS = max(et.N_PERSONS, TILES * 1500 + 2)
    et._UNIVERSE = None

    from owl_n4j_spark.session import get_spark
    spark = get_spark(master="local[32]", app_name="owl-sf1-proof",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(DST, exist_ok=True)
    t0 = time.time()
    build(spark)
    out = {"tiles": TILES, "build_sec": round(time.time() - t0, 1)}

    from owl_n4j_spark.pipeline import run_pipeline
    from owl_n4j_spark.plans.graph_algos import q_graph_cc, q_pagerank
    from owl_n4j_spark.plans.text import q_corpus_curation, \
        q_minhash_lsh_pairs

    tr = et.transcripts_from_events(spark, DST)
    n_turns = tr.count()
    out["n_turns"] = n_turns
    t = time.time()
    res = run_pipeline(spark, tr, alias_dict=et.alias_dict_df(spark),
                       with_manifest=False)
    out["kg_triples"] = res["triples"].count()
    out["kg_pipeline_sec"] = round(time.time() - t, 1)
    out["kg_turns_per_sec"] = round(n_turns / out["kg_pipeline_sec"], 1)

    for name, fn in [("q_pagerank", q_pagerank),
                     ("q_graph_cc", q_graph_cc),
                     ("q_minhash_lsh_pairs", q_minhash_lsh_pairs),
                     ("q_corpus_curation", q_corpus_curation)]:
        t = time.time()
        n = fn(spark, DST).count()
        out[f"{name}_sec"] = round(time.time() - t, 1)
        out[f"{name}_rows"] = n

    # --- kg serving block at 10x (r4 verdict item 7): the O(aggregate)
    # serving shapes — thread stats, unified contacts, keyset page, and
    # the post-fix distributed limit-then-rank top-N pair — measured on
    # the committed warehouse, with the one-time build timed apart ---
    from owl_n4j_spark.plans.kg_analytics import (
        kg_degree_topn, kg_graph_summary, kg_result, kg_thread_stats,
        kg_timeline_page, kg_top_entities, kg_unified_contacts)
    t = time.time()
    kg_result(spark, DST)["edges"].count()
    out["kg_warehouse_build_sec"] = round(time.time() - t, 1)
    for name, fn in [("kg_thread_stats", kg_thread_stats),
                     ("kg_unified_contacts", kg_unified_contacts),
                     ("kg_timeline_page", kg_timeline_page),
                     ("kg_degree_topn", kg_degree_topn),
                     ("kg_top_entities", kg_top_entities),
                     ("kg_graph_summary", kg_graph_summary)]:
        t = time.time()
        n = fn(spark, DST).count()
        out[f"{name}_sec"] = round(time.time() - t, 1)
        out[f"{name}_rows"] = n

    # --- ingestion at 10x: path-based dump parse + folder-unit scan ---
    # 10x events -> ~1M turns across the same 8 dump files (each file 10x
    # bigger: exercises the stream-from-disk parse, not just more tasks)
    # and ~200k wiretap session folders (exercises the one-listing
    # folder-unit distribution the recursive scan could not survive).
    from owl_n4j_spark.sources.ufed_xml import (
        read_ufed_models, read_ufed_xml, write_ufed_xml)
    from owl_n4j_spark.sources.wiretap import (
        read_wiretap_sessions, write_wiretap_folders)

    xml_dir = os.path.join(DST, "xml_dumps")
    if not os.path.isdir(xml_dir):
        t = time.time()
        write_ufed_xml(spark, DST, xml_dir)
        out["xml_fixture_sec"] = round(time.time() - t, 1)
    t = time.time()
    out["xml_turns_rows"] = read_ufed_xml(spark, xml_dir).count()
    out["xml_turns_sec"] = round(time.time() - t, 1)
    t = time.time()
    out["xml_models_rows"] = read_ufed_models(spark, xml_dir).count()
    out["xml_models_sec"] = round(time.time() - t, 1)

    wt_dir = os.path.join(DST, "wiretap")
    if not os.path.isdir(os.path.join(wt_dir, "sessions")):
        t = time.time()
        write_wiretap_folders(spark, DST, wt_dir)
        out["wiretap_fixture_sec"] = round(time.time() - t, 1)
    t = time.time()
    out["wiretap_rows"] = read_wiretap_sessions(spark, wt_dir).count()
    out["wiretap_sec"] = round(time.time() - t, 1)

    out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
