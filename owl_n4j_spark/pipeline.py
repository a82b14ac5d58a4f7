"""End-to-end KG-construction pipeline (SURVEY.md §7 stage order).

transcripts -> normalize -> extract -> link -> canonicalize -> materialize

Each stage is a DataFrame -> DataFrame transform. With a ``warehouse`` path,
every stage's output is committed to parquet and the run RESUMES from the
last committed stage (_SUCCESS marker = the snapshot; the Iceberg analog is
the table snapshot id) — re-running after a crash recomputes nothing that
already committed, mirroring the reference's resumable background tasks
(/root/reference/ingestion/scripts/cellebrite/ingestion.py:219-241) with
deterministic outputs instead of progress bookkeeping.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from owl_n4j_spark.manifest import ManifestWriter, stage_is_committed
from owl_n4j_spark.operators.canonicalize import canonical_mapping
from owl_n4j_spark.operators.extraction import get_extractor
from owl_n4j_spark.operators.linking import build_key_mapping, remap_keys
from owl_n4j_spark.operators.materialize import (
    build_edges,
    build_nodes,
    enforce_referential,
)

# Bump whenever ANY staged output's schema or semantics change (a column
# added/renamed/retyped, an election rule changed, ...). A committed
# warehouse stamped with a different version — or not stamped at all (older
# engine, or a crash between the parquet commit and the stamp) — is
# resume-invalid at every stage: the run recomputes instead of resuming a
# shape this engine version never wrote. v2 = link_key on t03_mapping.
STAGE_SCHEMA_VERSION = 2
_STAMP_NAME = "_ENGINE_SCHEMA_VERSION"


def _write_stage_stamp(path: str) -> None:
    # A non-local warehouse URI (hdfs://, s3a://) isn't reachable via
    # local open(); the stamp is simply not written, _stage_stamp_ok
    # stays False, and such warehouses never resume — the same semantics
    # stage_is_committed's os.path.exists already gives them. Crashing a
    # run whose parquet write just SUCCEEDED over a stamp would be worse.
    try:
        with open(os.path.join(path, _STAMP_NAME), "w") as f:
            f.write(str(STAGE_SCHEMA_VERSION))
    except OSError:
        pass


def _stage_stamp_ok(path: str) -> bool:
    try:
        with open(os.path.join(path, _STAMP_NAME)) as f:
            return f.read().strip() == str(STAGE_SCHEMA_VERSION)
    except OSError:
        return False


def _commit_facts(path: str, started: datetime, finished: datetime) -> dict:
    """Manifest facts of a committed stage directory, from one scan and no
    Spark job: a (partition_id, rows) part per ``part-NNNNN-*`` file (rows
    from its parquet footer) and the snapshot id — the local-warehouse
    analog of an Iceberg snapshot id, derived from the committed LAYOUT
    (sorted file names + sizes + schema version), so stable across resumes
    of one commit. A non-local / unreadable warehouse has neither (such
    warehouses never resume either, _write_stage_stamp's contract)."""
    import hashlib

    import pyarrow.parquet as pq

    snapshot_id, parts = None, []
    try:
        files = sorted(
            (e.name, e.stat().st_size)
            for e in os.scandir(path)
            if e.is_file() and not e.name.startswith((".", "_")))
        parts = [(int(name.split("-")[1]),
                  pq.read_metadata(os.path.join(path, name)).num_rows)
                 for name, _ in files if name.startswith("part-")]
        h = hashlib.sha1(str(STAGE_SCHEMA_VERSION).encode())
        for name, size in files:
            h.update(f"|{name}:{size}".encode())
        snapshot_id = h.hexdigest()[:16]
    except OSError:
        pass
    return {"parts": parts, "started_at": started, "finished_at": finished,
            "snapshot_id": snapshot_id}


def _count_rows(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row count of every frame from ONE action: a no-op write of their
    tagged union, counted by one Observation on that write."""
    from functools import reduce

    obs = Observation()
    legs = [df.select(F.lit(k).alias("leg")) for k, df in frames.items()]
    (reduce(DataFrame.unionByName, legs)
     .observe(obs, *[F.count_if(F.col("leg") == k).alias(k) for k in frames])
     .write.format("noop").mode("overwrite").save())
    return obs.get


def normalize_transcripts(transcripts: DataFrame) -> DataFrame:
    """Stage 1 — clean + dedup + stable order guarantee.

    - drop rows without a thread identity or position (quarantine-counted)
    - exact-duplicate turn rows (re-ingest artifacts) -> one survivor,
      deterministically: min(struct(ts nulls-last, role, text, tool)) per
      (conv_id, turn_idx) (W7; ref _dedup_comms_items,
      neo4j_service.py:169-194). The struct-min aggregation is algebraic
      and map-side combinable — at scale it replaces a full
      sort-every-partition window with a hash aggregation whose shuffle
      volume shrinks with the duplicate rate. The election orders a NULL ts
      LAST (struct-min alone would sort it first): among duplicates that
      differ only in ts, the survivor keeps a real timestamp — same
      semantics as the window orderBy(ts asc_nulls_last) it replaced.

    Stable per-thread order is (conv_id, turn_idx) BY CONTRACT — downstream
    consumers use Window.partitionBy(conv_id).orderBy(turn_idx) and never
    rely on physical row order.
    """
    ts_sort = F.coalesce(
        F.col("ts"), F.lit("9999-12-31 23:59:59").cast("timestamp"))
    return (
        transcripts.filter(F.col("conv_id").isNotNull()
                           & F.col("turn_idx").isNotNull())
        .groupBy("conv_id", "turn_idx")
        .agg(F.min(F.struct(ts_sort.alias("__ts_sort"), F.col("role"),
                            F.col("text"), F.col("tool"),
                            F.col("ts"))).alias("__r"))
        .select("conv_id", "turn_idx", F.col("__r.role").alias("role"),
                F.col("__r.text").alias("text"), F.col("__r.tool").alias("tool"),
                F.col("__r.ts").alias("ts"))
    )


def _session_thread_target(spark: SparkSession):
    """Decorator that carries the session's local properties and tags into
    a pool thread. ``inheritable_thread_target(session)`` returns such a
    decorator only in pinned-thread mode; in the legacy mode
    (PYSPARK_PIN_THREAD=false) it returns the session itself, and the
    function is then submitted as it is."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return wrap if callable(wrap) else (lambda f: f)


class PipelineResult(dict):
    """Dict of stage DataFrames: transcripts, records, mapping, triples,
    mentions, nodes, edges, manifest."""
    __getattr__ = dict.__getitem__


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame | None = None,
    rejected_pairs: DataFrame | None = None,
    case_id: str = "case-001",
    warehouse: str | None = None,
    resume: bool = True,
    with_manifest: bool = True,
    gazetteer: list[str] | None = None,
    records_df: DataFrame | None = None,
) -> PipelineResult:
    """Extraction runs the Arrow extractor (operators/extraction.get_extractor)
    once per pass, in the batch and the warehouse path alike: the
    thread-mention tail reads the extractor's output through one checkpoint
    (``add_thread_mentions``; pinned by tests/test_plan_hygiene.py).

    ``records_df``: pre-extracted records (e.g. accumulated by the
    Structured-Streaming incremental extractor plus the relational
    thread-mention tail) — stages 1-3 are skipped and the remaining stages
    run unchanged, so incremental ingestion feeds the exact same
    link/canonicalize/materialize path as batch (asserted equal in
    tests/test_streaming.py)."""
    mw = ManifestWriter(spark, path=os.path.join(warehouse, "manifest")
                        if warehouse else None)

    # Durable rejected-pairs store (U4 — the reference keeps human-rejected
    # merge suggestions in a dedicated table consulted by every later run,
    # backend/services/rejected_pairs_service.py). With a warehouse, pairs
    # passed in are committed to <warehouse>/rejected_pairs, and a later run
    # that passes none still consults the committed store — a rejected pair
    # can never silently re-merge across re-runs
    # (tests/test_merge_audit.py proves it).
    new_rejections = rejected_pairs is not None
    if warehouse is not None:
        rp_path = os.path.join(warehouse, "rejected_pairs")
        # Crash recovery: the commit below is two writes (merged set to
        # __new, then overwrite the store). A death between them leaves the
        # store uncommitted while __new — which holds the FULL merged set —
        # is committed; without recovery the next no-pairs run would see an
        # uncommitted store and silently run with zero rejections. Restoring
        # from __new is idempotent, so a crash during recovery itself is
        # covered by the same check on the run after.
        if not stage_is_committed(rp_path) and stage_is_committed(
                rp_path + "__new"):
            (spark.read.parquet(rp_path + "__new")
             .write.mode("overwrite").parquet(rp_path))
        if rejected_pairs is not None:
            prior = (spark.read.parquet(rp_path)
                     if stage_is_committed(rp_path) else None)
            rp = rejected_pairs.select("key_a", "key_b")
            if prior is not None:
                rp = rp.unionByName(prior.select("key_a", "key_b"))
            (rp.dropDuplicates(["key_a", "key_b"])
             .write.mode("overwrite").parquet(rp_path + "__new"))
            # two-phase: never overwrite the store we just read from
            rp_new = spark.read.parquet(rp_path + "__new")
            rp_new.write.mode("overwrite").parquet(rp_path)
            rejected_pairs = spark.read.parquet(rp_path)
        elif stage_is_committed(rp_path):
            rejected_pairs = spark.read.parquet(rp_path)

    # Resume only trusts committed stages when THIS run's inputs are the ones
    # that produced them. A caller-supplied records_df (the incremental
    # workflow: re-run with the same warehouse after new drops land) is new
    # input by definition — honoring resume would silently reuse stale
    # t02_records parquet and every downstream stage, producing a stale KG
    # with no error. So records_df disables resume for the whole run.
    if records_df is not None:
        resume = False
    # Newly-supplied rejections invalidate the committed mapping and every
    # stage after it — resume would silently keep the rejected merge.
    # (A store merely read back from the warehouse is what produced the
    # committed stages, so it does NOT disable resume.)
    if new_rejections:
        resume = False

    # Manifest facts per staged name of the commit this run computed or
    # resumed from (K5 + the north rule's "resume from the last committed
    # snapshot checkpoint"), row counts, and the frames no write counted.
    stages: dict[str, dict] = {}
    counts: dict[str, int] = {}
    uncounted: dict[str, DataFrame] = {}
    import threading
    _resume_lock = threading.Lock()
    pass_started = datetime.now(timezone.utc)

    def staged(name: str, df_fn, chain: dict | None = None) -> DataFrame:
        """Compute-or-resume one stage; the one place that accounts for a
        stage in the manifest.

        With a warehouse, one Observation row count rides the stage's write
        job, and started/finished bracket the stage's compute and write (CC
        rounds included). One scan of the committed directory then gives
        the snapshot id and a row per ``part-NNNNN-*`` file (partition_id =
        NNNNN, out_rows from the file's parquet footer). A resumed stage
        takes its total and part rows from that scan, with no Spark job,
        and records zero duration.

        Without a warehouse the stage output is localCheckpoint-ed: this both
        computes the stage exactly once AND truncates the logical plan at the
        stage boundary. The truncation is load-bearing — each stage's plan
        references the previous stages several times (remaps, semi-joins), so
        without a leaf node at every boundary the composed logical plan grows
        exponentially and Catalyst analysis time dominates execution (measured
        ~10s planning per action at sf0.01). The warehouse path gets the same
        truncation for free from the parquet round-trip.

        The checkpoint is LAZY (eager=False): it still materializes exactly
        once (on the first action that touches it) and truncates lineage the
        same way, but consecutive stages fuse into one scheduled job instead
        of paying one barrier job per stage — the per-job fixed cost (~0.3 s
        each on local[32]) was the dominant pipeline cost at bench scale,
        and at cluster scale fewer barriers only helps (guide §1.2: remove
        passes). Stages with driver-side loops between them (the CC
        fixpoint) materialize at their own actions regardless. An
        Observation on a lazy checkpoint resolves when the checkpoint is
        DEFINED, before its rows flow, so batch stages are counted by the
        one action after the pass, and write stage totals only, each
        spanning the whole pass (its stages fuse into one job)."""
        nonlocal resume
        if warehouse is None:
            uncounted[name] = df_fn().localCheckpoint(eager=False)
            return uncounted[name]
        path = os.path.join(warehouse, name)
        # Schema-evolution guard, GENERIC across every stage: each commit
        # is stamped with STAGE_SCHEMA_VERSION; a committed stage whose
        # stamp is missing (older engine, or a crash between the parquet
        # commit and the stamp) or mismatched is resume-INVALID —
        # recompute and rewrite rather than failing the run later with an
        # AnalysisException on a column the old schema lacks (or, worse,
        # silently serving an old shape whose semantics changed). This is
        # the whole-warehouse analog of Iceberg's schema-id check.
        # The check-and-invalidate is atomic under a lock so the two
        # INDEPENDENT stage chains below may run concurrently. A stage on
        # a concurrent chain carries its own ``chain`` flag (seeded from
        # the global `resume` at the fork): a recompute invalidates only
        # that chain's LATER stages — its true downstream — never the
        # sibling chain, whose committed stages derive from inputs that
        # resumed (tests/test_resume pins that deleting t06 leaves t05's
        # commit untouched). The global flag is re-joined as the AND of
        # both chains before t07, which depends on both.
        with _resume_lock:
            ok = resume if chain is None else chain["ok"]
            if ok and stage_is_committed(path) and _stage_stamp_ok(path):
                now = datetime.now(timezone.utc)
                stages[name] = _commit_facts(path, now, now)
                counts[name] = sum(n for _, n in stages[name]["parts"])
                return spark.read.parquet(path)
            if chain is None:
                resume = False
            else:
                chain["ok"] = False
        started = datetime.now(timezone.utc)
        obs = Observation()
        (df_fn().observe(obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(path))
        _write_stage_stamp(path)
        stages[name] = _commit_facts(path, started, datetime.now(timezone.utc))
        counts[name] = obs.get["n"]
        return spark.read.parquet(path)

    # ---- stage 1: normalize ------------------------------------------------
    # The input counts ride the stage's warehouse write as an Observation:
    # at 100 TB a separate count would re-read the whole input just for
    # bookkeeping. A resumed stage never executes, and a batch checkpoint
    # resolves the Observation before rows flow, so those runs count the
    # input in the one counting action after the pass.
    valid_turn = F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    norm_obs = None
    if records_df is None:
        def _normalize():
            nonlocal norm_obs
            src = transcripts
            if with_manifest and warehouse is not None:
                norm_obs = Observation()
                src = src.observe(
                    norm_obs,
                    F.count(F.lit(1)).alias("n_in"),
                    F.count(F.when(valid_turn, 1)).alias("n_valid"))
            return normalize_transcripts(src)

        clean = staged("t01_normalized", _normalize)
    else:
        clean = transcripts  # informational only; stages 1-3 are external

    # ---- stage 2/3: extraction --------------------------------------------
    if records_df is not None:
        records = staged("t02_records", lambda: records_df)
    else:
        extract_fn = get_extractor()
        # NOTE (r6 measurement): repartitioning `clean` to 2x cores before
        # the Python stage speeds extraction itself ~1.7x (the AQE-coalesced
        # normalize output is a handful of partitions), but the wider
        # records checkpoint then taxes EVERY downstream stage with task
        # overhead — full-pipeline A/B: 10.3 s spread vs 6.8 s coalesced at
        # sf0.1/local[32]. Net loss; deliberately left as-is.
        records = staged("t02_records", lambda: extract_fn(clean, gazetteer))
    mentions_raw = records.filter(F.col("kind") == "mention")
    triples_raw = records.filter(F.col("kind") == "triple")
    sameas_raw = records.filter(F.col("kind") == "sameas")

    # ---- stage 4: linking ----------------------------------------------
    def _mapping():
        mention_keys = (
            mentions_raw.select(F.col("mention_key").alias("raw_key"),
                                "mention_type")
            .unionByName(sameas_raw.select(F.col("subj_key").alias("raw_key"),
                                           F.lit(None).cast("string")
                                           .alias("mention_type")))
            .unionByName(sameas_raw.select(F.col("obj_key").alias("raw_key"),
                                           F.lit(None).cast("string")
                                           .alias("mention_type")))
            .filter(F.col("raw_key").isNotNull())
        )
        # checkpoint: the mapping is small (distinct raw keys) but its plan
        # scans all records + the fuzzy join; canonical_mapping consumes it
        # three times (edge build, canon-key election, final compose) — an
        # uncached plan recomputes the full linking join per consumer.
        link_map = build_key_mapping(mention_keys, alias_dict,
                                     rejected_pairs).localCheckpoint(eager=False)
        # ---- stage 5: canonicalize (CC over the same-as graph) ----------
        return canonical_mapping(link_map, sameas_raw)

    final_mapping = staged("t03_mapping", _mapping)

    def _triples():
        linked = remap_keys(triples_raw, final_mapping,
                            ["subj_key", "obj_key"])
        base = linked.select("subj_key", "pred", "obj_key", "conv_id",
                             "turn_idx", "ts", "amount", "date") \
                     .dropDuplicates(["subj_key", "pred", "obj_key",
                                      "conv_id", "turn_idx"])
        # base feeds BOTH union legs below; without a materialization point
        # the remap broadcasts + dedup shuffle execute twice in one action
        base = base.localCheckpoint(eager=False) if warehouse is None else base
        # first-appearance PARTICIPATED_IN per canonical speaker per thread
        participated = (
            base.filter(F.col("pred") == "SENT_MESSAGE")
            .groupBy("conv_id", "subj_key", "obj_key")
            .agg(F.min("turn_idx").alias("turn_idx"), F.min("ts").alias("ts"))
            .select("subj_key", F.lit("PARTICIPATED_IN").alias("pred"),
                    "obj_key", "conv_id", "turn_idx", "ts",
                    F.lit(None).cast("string").alias("amount"),
                    F.lit(None).cast("string").alias("date"))
        )
        return base.unionByName(participated)

    # ---- stages 4/5/6: remap + materialize -------------------------------
    # Two INDEPENDENT chains hang off the committed mapping:
    #   A: t04_mentions -> t06_nodes   (mentions remap, node build)
    #   B: t05_triples                 (triple remap + dedup + union)
    # With a warehouse each stage is a real write job, and the chains
    # share no inputs beyond already-committed stages — so they run from
    # a 2-thread pool (guide §2.6: overlap independent jobs; B's tasks
    # back-fill executors freed by A's tail and vice versa). Resume
    # atomicity lives in staged()'s lock; chain A resuming t06 while
    # chain B recomputes t05 is sound because t06 derives only from
    # t03/t04 (which resumed). Without a warehouse the stages are lazy
    # plans — nothing executes here — so they are built sequentially.
    def _chain_mentions_nodes(chain=None):
        m = staged("t04_mentions",
                   lambda: remap_keys(mentions_raw, final_mapping,
                                      ["mention_key"]), chain=chain)
        n = staged("t06_nodes", lambda: build_nodes(m, final_mapping,
                                                    case_id), chain=chain)
        return m, n

    if warehouse is not None:
        from concurrent.futures import ThreadPoolExecutor

        wrap = _session_thread_target(spark)
        chain_a, chain_b = {"ok": resume}, {"ok": resume}
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_a = pool.submit(wrap(
                lambda: _chain_mentions_nodes(chain_a)))
            fut_b = pool.submit(wrap(
                lambda: staged("t05_triples", _triples, chain=chain_b)))
            mentions, nodes = fut_a.result()
            triples = fut_b.result()
        # t07 depends on BOTH chains: its resume is valid only if both were
        resume = resume and chain_a["ok"] and chain_b["ok"]
    else:
        mentions, nodes = _chain_mentions_nodes()
        triples = staged("t05_triples", _triples)
    # Referential quarantine: the pre-filter edge count rides the t07 write
    # the same way; the post-filter count is the stage's own.
    edge_obs = None

    def _edges():
        nonlocal edge_obs
        e = build_edges(triples, case_id)
        if with_manifest and warehouse is not None:
            edge_obs = Observation()
            e = e.observe(edge_obs, F.count(F.lit(1)).alias("n_all"))
        valid, _ = enforce_referential(e, nodes, count_drops=False)
        return valid

    edges = staged("t07_edges", _edges)

    if with_manifest:
        # Counts no write observed (every batch stage, a resumed run's
        # input counts) come from ONE action; in the batch path it is the
        # action that materializes t07 and every stage before it.
        if norm_obs is not None:
            counts.update(norm_obs.get)
        elif records_df is None:
            uncounted["n_in"] = transcripts
            uncounted["n_valid"] = transcripts.filter(valid_turn)
        if edge_obs is not None:
            counts.update(edge_obs.get)
        else:
            uncounted["n_all"] = build_edges(triples, case_id)
        if uncounted:
            counts.update(_count_rows(uncounted))
        whole_pass = {"started_at": pass_started,
                      "finished_at": datetime.now(timezone.utc)}

        def record(stage: str, name: str, in_rows: int, quarantined=0):
            mw.record(stage, in_rows, counts[name], quarantined,
                      **stages.get(name, whole_pass))

        if records_df is None:
            # quarantined = rows REJECTED (no thread identity/position);
            # duplicate-turn collapse is NOT quarantine — it shows as the
            # in_rows/out_rows gap beyond the quarantine count.
            record("normalize", "t01_normalized", counts["n_in"],
                   counts["n_in"] - counts["n_valid"])
            record("extract", "t02_records", counts["t01_normalized"])
        else:
            record("extract_external", "t02_records", counts["t02_records"])
        record("link_canonicalize", "t03_mapping", counts["t03_mapping"])
        record("triples", "t05_triples", counts["t02_records"])
        record("materialize_nodes", "t06_nodes", counts["t04_mentions"])
        record("edges_referential", "t07_edges", counts["n_all"],
               counts["n_all"] - counts["t07_edges"])
    manifest = mw.flush()

    # Merge-audit projection (U4): every canonicalization decision as
    # member -> canonical with its method and whether SAME_AS evidence (the
    # CC stage), rather than the dictionary, caused the final assignment.
    # Pure projection of the staged mapping — no extra jobs.
    merge_audit = final_mapping.select(
        F.col("raw_key").alias("member_key"),
        "canonical_key",
        "method",
        (F.col("link_key") != F.col("canonical_key")).alias("via_sameas"),
    )

    return PipelineResult(
        transcripts=clean, records=records, mapping=final_mapping,
        mentions=mentions, triples=triples, nodes=nodes, edges=edges,
        manifest=manifest, merge_audit=merge_audit,
    )
