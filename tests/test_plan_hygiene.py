"""Physical-plan hygiene: the properties the 100 TB design depends on must
be visible in the actual plans — filters reach the scan, projections prune
the read schema, dimension joins broadcast, and the blocked geo join never
degenerates into a nested-loop/cartesian product."""

import pytest

from owl_n4j_spark.plans.geo import q_geo_copresence, q_tower_coreg
from owl_n4j_spark.plans.relational import q_pricing_summary, q_region_revenue
from owl_n4j_spark.plans.text import q_doc_token_stats, q_knn_bruteforce

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_in_read_schema(spark):
    # q_doc_token_stats touches only doc_id/text; the parquet scan must not
    # read the lang/url/other columns
    plan = _plan(q_doc_token_stats(spark, SF))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "lang" not in read[0]
    assert "doc_id" in read[0] and "text" in read[0]


def test_dimension_joins_broadcast(spark):
    plan = _plan(q_region_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_geo_blocked_join_is_hash_join(spark):
    # the 27-key expansion must meet the probe side on an equi-join —
    # never a nested loop / cartesian product
    for q in (q_geo_copresence, q_tower_coreg):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_knn_broadcasts_query_side(spark):
    # the brute-force kNN baseline is a deliberate broadcast of the tiny
    # query set against the candidate table — the plan must show it
    plan = _plan(q_knn_bruteforce(spark, SF))
    assert "Broadcast" in plan


def test_bm25_stats_and_df_broadcast(spark):
    # corpus stats (1 row) and per-term df (|query| rows) must broadcast;
    # the only shuffles are the token-stream aggregates
    from owl_n4j_spark.plans.text import q_bm25_search
    plan = _plan(q_bm25_search(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan
    # the 1-row stats cross join is a broadcast, never a shuffled cartesian
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    # the held-out benchmark shingle set must be the broadcast side so the
    # corpus token stream never shuffles for the probe
    from owl_n4j_spark.plans.text import q_decontaminate
    plan = _plan(q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pii_redact_is_map_only_until_rollup(spark):
    # one shuffle total: the per-conversation aggregate; the regex scrub
    # itself must stay inside the scan->project map stage
    from owl_n4j_spark.plans.text import q_pii_redact
    plan = _plan(q_pii_redact(spark, SF))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln
                 and "Broadcast" not in ln]
    # rollup + final orderBy range partitioning and nothing else from
    # the redaction; the transcript render's own broadcast joins are free
    assert len(exchanges) <= 3, plan


def test_url_terms_engine_table_broadcast(spark):
    from owl_n4j_spark.plans.relational import q_url_terms
    plan = _plan(q_url_terms(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rag_retrieve_never_broadcasts_full_degree_table(spark):
    # r2 verdict: deg is O(distinct entities) — the plan must reduce it to
    # the gated candidate set (LeftSemi) before the broadcast rerank join,
    # so no unbounded side is ever collected to the driver/executors.
    from owl_n4j_spark.plans.kg_analytics import kg_rag_retrieve
    plan = _plan(kg_rag_retrieve(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_pagerank_iteration_reuses_edge_partitioning(spark):
    # r2 verdict: each PageRank iteration must NOT reshuffle the edge list.
    # The edge table is repartition(a)+cached once; the per-iteration join
    # has to consume the cached HashPartitioning directly — no Exchange
    # between the join and the edge-side InMemoryTableScan.
    from pyspark.sql import functions as F
    from owl_n4j_spark.plans.graph_algos import (
        _pr_contrib, _sym, copresence_edges)
    sym = _sym(copresence_edges(spark, SF)).cache()
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    n_v = deg.count()
    ranks = deg.select(F.col("a").alias("v"), (F.lit(1.0) / n_v).alias("r"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = sym.join(deg, "a").repartition(n_part, "a").cache()
        out.count()
        plan = (_pr_contrib(out, ranks)._jdf.queryExecution()
                .executedPlan().toString())
        lines = plan.splitlines()
        ji = next(i for i, ln in enumerate(lines) if "Join" in ln)
        between = []
        for ln in lines[ji + 1:]:
            if "InMemoryTableScan" in ln:
                break
            between.append(ln)
        assert not any("Exchange" in ln for ln in between), "\n".join(
            lines[ji:ji + 6])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        out.unpersist()
        sym.unpersist()


def test_ingest_sources_are_map_only_until_rollup(spark):
    # XML and doc-format ingestion must be pure map stages (binaryFile scan
    # -> Arrow mapInPandas) with no shuffle before their aggregation/sort
    from owl_n4j_spark.plans.kg_analytics import ensure_ufed_xml
    from owl_n4j_spark.sources.doc_formats import read_documents_dir
    from owl_n4j_spark.sources.ufed_xml import read_ufed_xml
    from owl_n4j_spark.plans.text import ensure_doc_files

    xml = read_ufed_xml(spark, ensure_ufed_xml(spark, SF))
    plan = _plan(xml)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "Sort" not in plan

    docs = read_documents_dir(spark, ensure_doc_files(spark, SF))
    plan = _plan(docs)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "Sort" not in plan


def test_suggest_links_no_cartesian(spark):
    from owl_n4j_spark.plans.kg_analytics import kg_suggest_links
    plan = _plan(kg_suggest_links(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _iter_plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _iter_plan_nodes(children.apply(i))


def _global_windows_over_unbounded(df):
    """Partition-less WindowExec nodes whose subtree contains NO limit —
    i.e. a single-task sort of an unbounded input. Serving queries must
    never contain one: rank AFTER orderBy().limit(N), not instead of it."""
    bad = []
    for node in _iter_plan_nodes(df._jdf.queryExecution().sparkPlan()):
        if node.nodeName() != "Window":
            continue
        try:
            if node.partitionSpec().size() > 0:
                continue  # partitioned window — scales with the key space
        except Exception:
            pass  # can't read the spec: treat as global, require the limit
        subtree = [n.nodeName() for n in _iter_plan_nodes(node)][1:]
        if not any("Limit" in s or "TakeOrderedAndProject" in s
                   for s in subtree):
            bad.append(node.toString().splitlines()[0])
    return bad


def test_no_global_window_over_unbounded_input_in_serving_queries(spark):
    # The one 100x scale-killer the r4 verdict named: a row_number() over an
    # un-partitioned Window pulls the WHOLE aggregate into one task. Every
    # serving query must bound the input (TakeOrderedAndProject / limit)
    # before any global window.
    from owl_n4j_spark.plans.kg_analytics import (
        kg_degree_topn, kg_display_contacts, kg_thread_stats,
        kg_timeline_page, kg_top_entities, kg_unified_contacts,
    )
    from owl_n4j_spark.plans.relational import q_top_parts

    for q in (kg_degree_topn, kg_top_entities, kg_timeline_page,
              kg_thread_stats, kg_unified_contacts, kg_display_contacts,
              q_top_parts):
        bad = _global_windows_over_unbounded(q(spark, SF))
        assert not bad, f"{q.__name__}: global window over unbounded input: {bad}"


# ---------------------------------------------------------------------------
# Compute-once construction pass: the extractor, the linking key table and
# the same-as edge plan each run once per pass. A pass-through mapInPandas
# "tap" counts the rows that flow out of the subplan under test; a subplan
# that two consumers re-execute shows every row twice or more.
# ---------------------------------------------------------------------------


def _tap(df, acc):
    def run(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf
    return df.mapInPandas(run, schema=df.schema)


def test_pipeline_runs_the_extractor_once(spark, tmp_path, monkeypatch):
    # the t02 stage's Python extractor, in the batch and the warehouse path
    from owl_n4j_spark.operators import extraction_vec
    from owl_n4j_spark.pipeline import normalize_transcripts, run_pipeline
    from owl_n4j_spark.synth import generate_corpus_pandas

    corpus = generate_corpus_pandas(12, seed=3)
    tr = spark.createDataFrame(corpus["transcripts"])
    ad = spark.createDataFrame(corpus["alias_dict"])
    real = extraction_vec.extract_records_stateless_vec
    n_rows = real(normalize_transcripts(tr)).count()
    for wh in (None, str(tmp_path / "wh")):
        acc = spark.sparkContext.accumulator(0)
        monkeypatch.setattr(extraction_vec, "extract_records_stateless_vec",
                            lambda t, g=None: _tap(real(t, g), acc))
        res = run_pipeline(spark, tr, alias_dict=ad, warehouse=wh,
                           with_manifest=False)
        for stage in ("records", "mapping", "triples", "nodes", "edges"):
            assert res[stage].count() > 0
        assert acc.value == n_rows, (wh, acc.value, n_rows)


@pytest.mark.parametrize("strategy", ["block", "lsh"])
def test_key_mapping_reads_the_key_table_once(spark, strategy):
    from owl_n4j_spark.operators.linking import build_key_mapping

    keys = spark.createDataFrame(
        [("maria-garcha", "Person"), ("maria-garcia", "Person"),
         ("bob-jones", "Person"), ("phone-555", None)],
        "raw_key string, mention_type string")
    aliases = spark.createDataFrame(
        [("maria-garcia", "phone-111", "Person")],
        "alias string, canonical_key string, entity_type string")
    rejected = spark.createDataFrame([("bob-jones", "phone-111")],
                                     "key_a string, key_b string")
    acc = spark.sparkContext.accumulator(0)
    got = build_key_mapping(_tap(keys, acc), aliases, rejected_pairs=rejected,
                            fuzzy_strategy=strategy)
    assert {r["method"] for r in got.collect()} == {"exact", "fuzzy", "self"}
    assert acc.value == 4


def test_sameas_symmetrization_scans_the_edge_plan_once(spark):
    from owl_n4j_spark.operators.canonicalize import (
        build_sameas_edges, connected_components, symmetrize)

    mapping = spark.createDataFrame(
        [("a", "A"), ("b", "B"), ("c", "C"), ("d", "D")],
        "raw_key string, canonical_key string")
    acc = spark.sparkContext.accumulator(0)
    sameas = _tap(spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "d")], "subj_key string, obj_key string"),
        acc)
    edges = build_sameas_edges(mapping, sameas)
    plan = _plan(symmetrize(edges))
    # one scan of the edge plan: one tap, one remap join per endpoint
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    comps = {r["member_key"]: r["canonical_key"]
             for r in connected_components(edges).collect()}
    assert comps == {"A": "A", "B": "A", "C": "A"}
    assert acc.value == 3
