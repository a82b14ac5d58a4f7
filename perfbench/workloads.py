"""The benchmark's three workloads, driven through the engine's public
functions only: ``pipeline.run_pipeline``, ``operators.*``, ``sources.*``,
``streaming.incremental.*`` and the ``plans`` REGISTRY query functions.

Every workload makes its inputs from the seed, runs set-up (inputs,
fixtures; on the batch workloads one checked warm-up construction pass),
then its measured legs, and checks every operation's output. See
README.md for why each workload exists and which layer each metric
belongs to.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from eventlog import Labels
from host import dir_bytes

WORKLOADS = ("batch_events", "batch_synth_hub", "warehouse_serve")
# the workloads BENCHMARK.json lists (see README.md on batch_events)
BENCHMARKED = ("batch_synth_hub", "warehouse_serve")

# Input size per workload: events rows for the events-derived corpora,
# conversations for the synthetic hub corpus. "smoke" is the test size.
SIZES = {
    "bench": {"batch_events": 20_000, "batch_synth_hub": 1_000,
              "warehouse_serve": 2_000},
    "smoke": {"batch_events": 1_000, "batch_synth_hub": 30,
              "warehouse_serve": 1_000},
}
TURNS_PER_THREAD = 67        # the sf0.1 test events: 100k turns, 1.5k threads
EVENT_TYPES = ("purchase", "click", "signup", "view", "error")
CASE_ID = "case-001"

# warehouse_serve query mix. The first-touch leg calls each query once in
# this order, so q_graph_degree is the first reader of the copresence
# edges and q_lpa_communities the first reader of the LPA membership.
# To fit the run-time budget, untraced runs leave out TRACED_ONLY (17 s
# of the 20 s the graph operators take cold; the two shared-table builders
# stay), read the 12 kg_* queries warm once and skip the incremental leg;
# traced runs call the whole mix, SERVE_SAMPLES warm reads and every leg.
KG_READS = (
    "kg_graph_summary", "kg_thread_stats", "kg_degree_topn",
    "kg_timeline_page", "kg_envelope_daily", "kg_last_location",
    "kg_top_entities", "kg_payment_facts", "kg_mentioned_in",
    "kg_merge_audit", "kg_entity_summaries", "kg_date_closure",
)
GRAPH_OPS = (
    "q_graph_degree", "q_graph_cc", "q_pagerank", "q_louvain",
    "q_betweenness", "q_graph_triangles", "q_lpa_communities",
)
SOURCE_READS = ("q_xml_ingest", "q_wiretap_ingest")
TRACED_ONLY = ("q_graph_cc", "q_pagerank", "q_louvain", "q_betweenness",
               "q_graph_triangles")
FIRST_TOUCH = KG_READS + GRAPH_OPS + SOURCE_READS
SERVE_SAMPLES = 48           # so at least 10 lie beyond p75
N_DROPS = 3                  # incremental parquet drops
MIN_PASSES = 2               # measured construction passes per batch run


@dataclass
class Run:
    """State of one benchmark run: session, inputs, checks and metrics."""
    spark: object
    labels: Labels
    work: str
    seed: int
    seconds: float
    size: str
    t_start: float                              # process start, for setup_s
    # stop after the first timed construction: the untraced reference of a
    # traced run, which only needs that wall for the tracing overhead
    probe: bool = False
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)     # end-to-end metric values
    layer: dict = field(default_factory=dict)   # per-layer values from Python

    def check(self, op: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: CHECK FAILED {op}: {detail}", file=sys.stderr)
        return ok

    def fail(self, op: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: OPERATION FAILED {op}\n{traceback.format_exc()}",
              file=sys.stderr)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def write_events(sf_dir: str, n: int, seed: int) -> str:
    """A seeded ``events`` table shaped like the sf* test data: uniform
    event types, one thread per user with ~67 turns, ts across January
    2024, money values with two decimals."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_users = min(2046, max(2, n // TURNS_PER_THREAD))
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        secs * 1e6).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n).tolist()]),
    })
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


def oracle_counts(sf_dir: str, queries: tuple = ()) -> dict:
    """Expected row counts from the DuckDB oracles over ``events``: the KG
    triples/nodes/edges, plus each named REGISTRY query that has an oracle
    (queries whose oracle needs other tables are left out; so are the
    graph operators, whose generated iteration SQL takes seconds)."""
    import duckdb

    from owl_n4j_spark.plans import REGISTRY
    from owl_n4j_spark.sources import events_transcripts as et

    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, 'events.parquet')}')")

    def n(sql: str) -> int:
        return int(con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0])

    out = {"triples": n(et.oracle_triples_sql()),
           "nodes": n(et.oracle_nodes_sql()),
           "edges": n(et.oracle_edges_sql())}
    for q in queries:
        sql = REGISTRY[q][1]
        if sql:
            try:
                out[q] = n(sql)
            except duckdb.Error:
                pass
    con.close()
    return out


def kg_counts(res) -> dict:
    return {k: res[k].count() for k in ("triples", "nodes", "edges")}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _pctl(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


# ---------------------------------------------------------------------------
# layer decomposition (traced runs)
# ---------------------------------------------------------------------------


def decompose(run: Run, transcripts, res, alias_dict) -> None:
    """Run each construction layer alone on the pass's inputs and outputs,
    each under its own job description: normalize, extraction (on the
    normalized turns), linking (``build_key_mapping``) then canonicalize
    (``canonical_mapping``) on the pass's records, and materialize
    (node build, edge build, referential filter) on its mentions and
    triples. The canonical mapping must match the pass's row for row."""
    from pyspark.sql import functions as F

    from owl_n4j_spark.operators.canonicalize import (
        build_sameas_edges,
        canonical_mapping,
    )
    from owl_n4j_spark.operators.extraction import get_extractor
    from owl_n4j_spark.operators.linking import _block_token, build_key_mapping
    from owl_n4j_spark.operators.materialize import (
        build_edges,
        build_nodes,
        enforce_referential,
    )
    from owl_n4j_spark.pipeline import normalize_transcripts

    L, lay = run.labels, run.layer
    with L.span("normalize"):
        clean = normalize_transcripts(transcripts).localCheckpoint(eager=True)
    lay["pipeline.normalize.rows_in"] = transcripts.count()
    lay["pipeline.normalize.rows_out"] = n_clean = clean.count()

    with L.span("extraction"):
        recs = get_extractor()(clean).localCheckpoint(eager=True)
    lay["extraction.records"] = recs.count()
    lay["extraction.turns_per_s"] = n_clean / L.total("extraction")

    # the pipeline's own linking input: distinct raw keys of mentions and
    # of both SAME_AS endpoints
    records = res["records"]
    mentions_raw = records.filter(F.col("kind") == "mention")
    sameas_raw = records.filter(F.col("kind") == "sameas")
    null_type = F.lit(None).cast("string").alias("mention_type")
    mention_keys = (
        mentions_raw.select(F.col("mention_key").alias("raw_key"),
                            "mention_type")
        .unionByName(sameas_raw.select(F.col("subj_key").alias("raw_key"),
                                       null_type))
        .unionByName(sameas_raw.select(F.col("obj_key").alias("raw_key"),
                                       null_type))
        .filter(F.col("raw_key").isNotNull())
        .dropDuplicates(["raw_key"])
    ).localCheckpoint(eager=True)

    with L.span("linking"):
        link_map = build_key_mapping(mention_keys, alias_dict) \
            .localCheckpoint(eager=True)
    by_method = {r["method"]: r["count"]
                 for r in link_map.groupBy("method").count().collect()}
    lay["linking.keys"] = sum(by_method.values())
    for m in ("exact", "fuzzy", "self"):
        lay[f"linking.{m}"] = by_method.get(m, 0)
    # Scored fuzzy candidates under the default block strategy: unresolved
    # name-shaped keys joined to the dictionary on their first token.
    aliases = alias_dict.select("alias", "entity_type")
    src = (mention_keys.join(aliases, mention_keys["raw_key"]
                             == aliases["alias"], "left_anti")
           .filter(~F.col("raw_key").startswith("phone-")
                   & ~F.col("raw_key").startswith("email-")
                   & ~F.col("raw_key").startswith("chat-")
                   & F.col("raw_key").contains("-")))
    cand = aliases.filter(~F.col("alias").startswith("phone-")
                          & ~F.col("alias").startswith("email-"))
    n_cand = (src.withColumn("block", _block_token(F.col("raw_key")))
              .join(F.broadcast(cand.withColumn(
                  "block", _block_token(F.col("alias")))), "block")
              .filter(F.col("mention_type").isNull()
                      | (F.col("mention_type") == F.col("entity_type")))
              .count())
    lay["linking.fuzzy_candidates"] = n_cand
    lay["linking.fuzzy_yield"] = (by_method.get("fuzzy", 0) / n_cand
                                  if n_cand else 0.0)

    with L.span("canonicalize"):
        final = canonical_mapping(link_map, sameas_raw) \
            .localCheckpoint(eager=True)
    lay["canonicalize.sameas_edges"] = build_sameas_edges(
        link_map, sameas_raw).count()
    lay["canonicalize.merged_keys"] = final.filter(
        F.col("link_key") != F.col("canonical_key")).count()
    n_final, n_pass = final.count(), res["mapping"].count()
    run.check("decompose.mapping", n_final == n_pass,
              f"canonical mapping has {n_final} rows, the pass {n_pass}")

    with L.span("materialize"):
        nodes = build_nodes(res["mentions"], res["mapping"], CASE_ID) \
            .localCheckpoint(eager=True)
        edges = build_edges(res["triples"], CASE_ID) \
            .localCheckpoint(eager=True)
        valid, _ = enforce_referential(edges, nodes, count_drops=False)
        n_valid = valid.count()
    lay["materialize.nodes"] = nodes.count()
    lay["materialize.edges"] = n_valid
    lay["materialize.edges_quarantined"] = edges.count() - n_valid


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def _batch_pass(run: Run, transcripts, alias_dict, label: str):
    from owl_n4j_spark.pipeline import run_pipeline

    with run.labels.span(label):
        res = run_pipeline(run.spark, transcripts, alias_dict=alias_dict,
                           with_manifest=False)
        counts = kg_counts(res)
    return res, counts


def _measure_batch(run: Run, transcripts, alias_dict, n_turns: int,
                   expect: dict, traced: bool) -> None:
    """Construction passes until ``seconds`` have elapsed and at least
    MIN_PASSES ran (one for a probe); each pass's triple/node/edge counts
    must equal ``expect``, those of the checked warm-up pass."""
    t0 = time.perf_counter()
    res = None
    while (len(run.labels.walls.get("pipeline", [])) < MIN_PASSES
           or time.perf_counter() - t0 < run.seconds):
        try:
            res, counts = _batch_pass(run, transcripts, alias_dict, "pipeline")
        except Exception:
            run.fail("pipeline")
            break
        run.check("pipeline", counts == expect, f"{counts} != {expect}")
        if run.probe:
            break
    pass_s = _median(run.labels.walls["pipeline"])
    run.e2e["turns_per_s"] = n_turns / pass_s
    run.e2e["work_s"] = run.layer["pipeline.s"] = pass_s
    if traced and res is not None:
        decompose(run, transcripts, res, alias_dict)


def batch_events(run: Run, traced: bool) -> None:
    from owl_n4j_spark.sources import events_transcripts as et

    sf = write_events(os.path.join(run.work, "sf"),
                      SIZES[run.size]["batch_events"], run.seed)
    expect = oracle_counts(sf)
    expect = {k: expect[k] for k in ("triples", "nodes", "edges")}
    transcripts = et.transcripts_from_events(run.spark, sf)
    alias_dict = et.alias_dict_df(run.spark)
    n_turns = transcripts.count()
    # the warm-up pass pays the session's one-time costs (JIT, Python
    # workers, codegen) on the measured plan and input
    _, counts = _batch_pass(run, transcripts, alias_dict, "warmup")
    run.check("warmup", counts == expect, f"{counts} != {expect}")
    run.e2e["setup_s"] = time.perf_counter() - run.t_start
    _measure_batch(run, transcripts, alias_dict, n_turns, expect, traced)


def batch_synth_hub(run: Run, traced: bool) -> None:
    from pyspark.sql import functions as F

    from owl_n4j_spark import synth

    n_convs = SIZES[run.size]["batch_synth_hub"]
    # one input partition per task slot: the default (32) rebuilds the
    # name universe in every task and adds ~3 s of set-up
    cores = int(run.spark.sparkContext.defaultParallelism)
    transcripts = synth.generate_transcripts_spark(
        run.spark, n_convs, seed=run.seed, n_partitions=cores
    ).localCheckpoint(eager=True)
    n_turns = transcripts.count()
    universe = synth.universe_for(n_convs, run.seed)
    alias_dict = run.spark.createDataFrame(synth.alias_dict_pandas(universe))
    truth = set()
    for i in range(n_convs):
        for t in synth.gen_conv(universe, i, run.seed)[1]:
            truth.add((t["subj_key"], t["pred"], t["obj_key"], t["conv_id"],
                       t["turn_idx"]))
    # the warm-up pass (see batch_events) is checked against the
    # generator's truth, every measured pass against its counts
    res, expect = _batch_pass(run, transcripts, alias_dict, "warmup")
    got = {tuple(r) for r in res["triples"].select(
        "subj_key", "pred", "obj_key", "conv_id",
        F.col("turn_idx").cast("int")).collect()}
    tp = len(got & truth)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(truth) if truth else 0.0
    run.check("warmup.triple_parity", precision >= 0.95 and recall >= 0.95,
              f"precision {precision:.4f}, recall {recall:.4f} (need 0.95)")
    run.e2e["setup_s"] = time.perf_counter() - run.t_start
    _measure_batch(run, transcripts, alias_dict, n_turns, expect, traced)


# ---------------------------------------------------------------------------
# warehouse_serve
# ---------------------------------------------------------------------------


def redirect_engine_scratch(work: str) -> None:
    """Root the engine's per-session warehouses and fixture trees (which
    ``plans.kg_analytics.warehouse_dir`` names under /tmp) in this run's
    work directory, so a run writes only inside its checkout and its
    cleanup removes them."""
    from owl_n4j_spark.plans import graph_algos, kg_analytics

    base = kg_analytics.warehouse_dir

    def warehouse_dir(spark, sf_dir, kind):
        return os.path.join(work, os.path.basename(base(spark, sf_dir, kind)))

    kg_analytics.warehouse_dir = warehouse_dir
    graph_algos.warehouse_dir = warehouse_dir


def _stage_mtimes(wh: str) -> dict:
    out = {}
    for name in sorted(os.listdir(wh)):
        marker = os.path.join(wh, name, "_SUCCESS")
        if name.startswith("t0") and os.path.exists(marker):
            out[name] = os.stat(marker).st_mtime_ns
    return out


def warehouse_serve(run: Run, traced: bool) -> None:
    from pyspark.sql import functions as F

    from owl_n4j_spark.operators.extraction import add_thread_mentions
    from owl_n4j_spark.pipeline import run_pipeline
    from owl_n4j_spark.plans import REGISTRY
    from owl_n4j_spark.plans import kg_analytics as kga
    from owl_n4j_spark.sources import events_transcripts as et
    from owl_n4j_spark.streaming.incremental import run_incremental_extraction

    spark, L, lay = run.spark, run.labels, run.layer
    sf = write_events(os.path.join(run.work, "sf"),
                      SIZES[run.size]["warehouse_serve"], run.seed)
    with L.span("setup.oracle"):
        expect = oracle_counts(sf, KG_READS + SOURCE_READS)
    kg_expect = {k: expect[k] for k in ("triples", "nodes", "edges")}
    with L.span("setup.transcripts"):
        transcripts = et.transcripts_from_events(spark, sf)
        alias_dict = et.alias_dict_df(spark)
        n_turns = transcripts.count()
    drops = os.path.join(run.work, "drops")
    with L.span("setup.fixtures"):
        xml_dir = kga.ensure_ufed_xml(spark, sf)
        case_dir = kga.ensure_wiretap(spark, sf)
        # incremental input: a seeded split of the transcripts by thread
        part = (F.abs(F.xxhash64("conv_id", F.lit(run.seed))) % N_DROPS)
        tagged = transcripts.withColumn("__drop", part)
        for d in range(N_DROPS if traced else 0):
            (tagged.filter(F.col("__drop") == d).drop("__drop").coalesce(1)
             .write.parquet(os.path.join(drops, f"drop{d}")))
    # No warm-up pass: the cold commit is the session's first construction,
    # as for a serving process that starts and builds its KG.
    run.e2e["setup_s"] = time.perf_counter() - run.t_start
    t_work = time.perf_counter()

    # -- cold commit: kg_result writes every stage to an empty warehouse
    with L.span("pipeline.commit"):
        res = kga.kg_result(spark, sf)
    commit_s = L.total("pipeline.commit")
    counts = kg_counts(res)
    run.check("pipeline.commit", counts == kg_expect,
              f"{counts} != {kg_expect}")
    wh = kga.warehouse_dir(spark, sf, "kg_wh")
    lay["pipeline.commit.bytes"] = dir_bytes(wh)
    run.e2e["turns_per_s"] = n_turns / commit_s
    lay["pipeline.s"] = commit_s
    if run.probe:
        return

    # -- resume: the same call on the committed warehouse reuses every stage
    before = _stage_mtimes(wh)
    with L.span("pipeline.resume"):
        again = run_pipeline(spark, transcripts, alias_dict=alias_dict,
                             warehouse=wh, with_manifest=True)
    after = _stage_mtimes(wh)
    lay["pipeline.resume.stages_reused"] = sum(
        1 for k, v in before.items() if after.get(k) == v)
    counts = kg_counts(again)
    run.check("pipeline.resume", counts == kg_expect,
              f"{counts} != {kg_expect}")
    lay["pipeline.resume.s"] = L.total("pipeline.resume")

    # -- first touch, then warm rounds
    first: dict[str, int] = {}
    first_s: dict[str, float] = {}

    def call(label: str, q: str) -> int | None:
        try:
            with L.span(label):
                n = REGISTRY[q][0](spark, sf).count()
        except Exception:
            run.fail(label)
            return None
        return n

    mix = FIRST_TOUCH if traced else tuple(
        q for q in FIRST_TOUCH if q not in TRACED_ONLY)
    for q in mix:
        n = call(f"first_touch.{q}", q)
        first_s[q] = L.walls[f"first_touch.{q}"][-1]
        if n is None:
            continue
        first[q] = n
        want = expect.get(q)
        run.check(f"first_touch.{q}", n > 0 and (want is None or n == want),
                  f"{n} rows, oracle {want}")
    lay["serve.first_touch_s"] = sum(first_s.values())

    def warm(group: str, q: str) -> None:
        n = call(f"{group}.{q}", q)
        if n is not None:
            run.check(f"{group}.{q}", n == first.get(q),
                      f"{n} rows, first touch {first.get(q)}")

    serve: list[float] = []
    while len(serve) < (SERVE_SAMPLES if traced else len(KG_READS)):
        for q in KG_READS:
            warm("kg_analytics", q)
            serve.append(L.walls[f"kg_analytics.{q}"][-1])
    lay["serve.p50_s"], lay["serve.p75_s"] = _pctl(serve, 0.5), _pctl(serve, 0.75)
    for q in KG_READS:
        lay[f"kg_analytics.{q}.p50_s"] = _median(L.walls[f"kg_analytics.{q}"])
    lay["shared.kg_warehouse.build_s"] = commit_s - lay["pipeline.resume.s"]
    run.e2e["work_s"] = time.perf_counter() - t_work
    if not traced:
        return

    # -- traced only: stream the drops through the extractor, recommit
    out = os.path.join(run.work, "inc_records")
    ckpt = os.path.join(run.work, "inc_ckpt")
    with L.span("incremental.extract"):
        run_incremental_extraction(spark, os.path.join(drops, "*"), out, ckpt)
    with L.span("incremental.commit"):
        inc = run_pipeline(
            spark, transcripts, alias_dict=alias_dict,
            records_df=add_thread_mentions(spark.read.parquet(out)),
            warehouse=os.path.join(run.work, "inc_wh"), with_manifest=True)
    counts = kg_counts(inc)
    run.check("incremental", counts == kg_expect,
              f"{counts} != batch {kg_expect}")
    extract_s = L.total("incremental.extract")
    lay["incremental.extract.s"] = extract_s
    lay["incremental.commit.s"] = L.total("incremental.commit")
    lay["incremental.turns_per_s"] = n_turns / extract_s
    commits = os.path.join(ckpt, "commits")
    lay["incremental.batches"] = len([n for n in os.listdir(commits)
                                      if n.isdigit()])
    lay["incremental.s"] = extract_s + lay["incremental.commit.s"]

    # a warm round of the graph operators and the source reads (first touch
    # minus warm = the shared-table build), then the layer decomposition
    # and the bare source parsers
    from owl_n4j_spark.sources.ufed_xml import read_ufed_xml
    from owl_n4j_spark.sources.wiretap import read_wiretap_sessions

    t_round = time.perf_counter()
    for q in GRAPH_OPS:
        warm("graph_algos", q)
    lay["graph_algos.round_s"] = time.perf_counter() - t_round
    for q in GRAPH_OPS:
        lay[f"graph_algos.{q}.s"] = L.walls[f"graph_algos.{q}"][-1]
    for q in SOURCE_READS:
        warm("sources", q)

    def build_s(q: str, group: str) -> float:
        return first_s[q] - L.walls[f"{group}.{q}"][-1]

    lay["shared.ufed_turns.build_s"] = build_s("q_xml_ingest", "sources")
    lay["shared.wiretap_sessions.build_s"] = build_s("q_wiretap_ingest",
                                                     "sources")
    lay["shared.copresence_edges.build_s"] = build_s("q_graph_degree",
                                                     "graph_algos")
    lay["shared.lpa_membership.build_s"] = build_s("q_lpa_communities",
                                                   "graph_algos")
    decompose(run, transcripts, res, alias_dict)
    with L.span("ufed_xml"):
        n_xml = read_ufed_xml(spark, xml_dir).count()
    lay["ufed_xml.parse.s"] = L.total("ufed_xml")
    lay["ufed_xml.turns_per_s"] = n_xml / lay["ufed_xml.parse.s"]
    with L.span("wiretap"):
        row = read_wiretap_sessions(spark, case_dir).agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("interpretation").isNull(), 1))
            .alias("bad")).collect()[0]
    n_folders = len(os.listdir(os.path.join(case_dir, "sessions")))
    lay["wiretap.parse.s"] = L.total("wiretap")
    lay["wiretap.sessions_per_s"] = row["n"] / lay["wiretap.parse.s"]
    lay["wiretap.quarantined"] = row["bad"] + max(0, n_folders - row["n"])


RUNNERS = {"batch_events": batch_events, "batch_synth_hub": batch_synth_hub,
           "warehouse_serve": warehouse_serve}
