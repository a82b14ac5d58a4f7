"""Incremental (streaming) triple extraction — Structured Streaming.

The reference has no streaming engine; its closest analog is resumable
batched background ingestion with MERGE idempotency
(/root/reference/ingestion/scripts/cellebrite/ingestion.py:219-241,496-522;
re-ingest MERGE semantics /root/reference/ingestion/scripts/cellebrite/
neo4j_writer.py:1123-1134). This module is the Spark-native upgrade: new
transcript files land in a directory, `readStream` picks them up, the
stateless half of the batch engine's Arrow extractor
(``extraction_vec.extract_records_stateless_vec``: stage 2/3 is stateless
per-turn, so it runs unchanged inside a streaming query) emits records, and
the parquet sink appends them partitioned by ``kind`` — re-running a batch
overwrites to the same content, preserving the MERGE idempotency contract.
The relational thread-mention tail is an aggregation and stays in the
downstream batch job (or a watermarked stream — thread_stats_stream).
The `availableNow` trigger gives catch-up-then-stop semantics (the
reference's "resume background task"); checkpointLocation carries the
source offsets so a restart never re-processes committed files.

Watermarked per-conversation windowed aggregation (`thread_stats_stream`)
covers the late/duplicate-data semantics the reference handles with
re-ingest MERGE: late turns update their window until the watermark passes.

Every job here — XML dump and wiretap session ingest, extraction, gap
sessions, thread stats, dedup — ends in the same sink,
``_drain_to_parquet`` (append, availableNow, checkpointed). The XML dump
stream parses through the batch UFED readers' own loop
(``sources.ufed_xml.parse_dumps``), and the wiretap stream through the
batch wiretap reader's own session parse and transcript build
(``sources.wiretap.parse_sessions`` + ``transcripts_from_sessions``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from owl_n4j_spark.operators.extraction_vec import extract_records_stateless_vec
from owl_n4j_spark.synth import TRANSCRIPT_SCHEMA


def _drain_to_parquet(df: DataFrame, output_dir: str, checkpoint_dir: str,
                      *partition_by: str) -> None:
    """The one sink of every job here: append ``df`` to a parquet
    directory (optionally partitioned) with ``trigger(availableNow=True)``
    — catch up on everything the source has, then stop — and wait. The
    checkpoint carries the source offsets (and any state store), so a
    restart never re-emits a committed batch."""
    (df.writeStream.format("parquet")
     .option("path", output_dir)
     .option("checkpointLocation", checkpoint_dir)
     .partitionBy(*partition_by)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript parquet drops."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def read_xml_dump_stream(spark: SparkSession, xml_dir: str,
                         max_files_per_trigger: int = 1000) -> DataFrame:
    """STREAMING XML model scan (SURVEY S1's literal reference shape —
    parser.py consumes dumps as they land): a binaryFile file-source
    stream over the dump directory, each new .xml file parsed by the
    batch readers' own per-dump loop (sources/ufed_xml.parse_dumps) into
    the transcripts contract. Checkpointed offsets mean a landed dump is
    parsed exactly once across restarts. Only the PATH rides the stream
    row — the task opens its dump locally so iterparse streams from disk
    (no 2 GB binary-column cap, no whole-dump materialization;
    sources/ufed_xml._dump_paths).

    ``max_files_per_trigger`` bounds each micro-batch, INCLUDING under
    availableNow catch-up: a 100k-dump backlog commits checkpoint
    progress every N dumps instead of running one giant all-or-nothing
    batch whose failure would re-parse everything from zero."""
    from owl_n4j_spark.sources.ufed_xml import parse_dumps

    files = (spark.readStream.format("binaryFile")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .option("pathGlobFilter", "*.xml")
             .option("maxFilesPerTrigger", str(max_files_per_trigger))
             .load(xml_dir)
             .select("path"))
    return parse_dumps(files, "turns", TRANSCRIPT_SCHEMA)


def run_incremental_xml_ingest(
    spark: SparkSession,
    xml_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1000,
) -> None:
    """Catch-up-then-stop XML dump ingestion: new dumps -> transcripts
    parquet, availableNow + checkpoint. A restart never re-parses a
    COMMITTED dump — and because availableNow honors
    ``max_files_per_trigger``, a big backlog commits every N dumps, so a
    mid-catch-up failure loses at most one bounded batch, never the whole
    backlog."""
    _drain_to_parquet(
        read_xml_dump_stream(spark, xml_dir, max_files_per_trigger),
        output_dir, checkpoint_dir)


def read_wiretap_stream(spark: SparkSession, case_dir: str,
                        max_files_per_trigger: int = 1000) -> DataFrame:
    """STREAMING wiretap session ingestion (S6's landing-folder shape —
    the reference re-scans evidence mounts for new session folders): a
    binaryFile file-source stream over `<case>/sessions/*/*.sri`. The tiny
    .sri file is the session's ARRIVAL SIGNAL and offset-tracked unit —
    one checkpointed entry per session, exactly-once across restarts —
    while the task reads the folder's sibling rtf files locally (the same
    folder-local I/O as the batch reader; bytes never shuffle). Emits the
    transcripts contract, so the stream feeds the same incremental
    extraction as transcript drops and XML dumps.

    Rows are built, typed and turned into transcripts by the batch
    reader's own ``sources.wiretap.parse_sessions`` and
    ``transcripts_from_sessions``; only the .sri bytes come from the
    stream instead of the disk.

    ``max_files_per_trigger`` bounds every micro-batch (availableNow
    included), so a large-backlog catch-up commits progress per batch.
    Scale note: the recursive listing is re-paid per trigger and the
    file-source log grows one entry per session — for a case past ~100k
    sessions, land sessions under date-bucketed roots (sessions/2024-06-*)
    and run one stream per bucket with maxFileAge aging old entries out,
    exactly how the reference shards its evidence mounts."""
    import os

    from owl_n4j_spark.sources.wiretap import (
        parse_sessions,
        parse_sri,
        rtf_of_folder,
        session_tuple,
        transcripts_from_sessions,
    )

    # repartition BEFORE the parse: .sri markers are ~100-byte rows, so the
    # file source packs an entire catch-up batch into one input split and
    # the folder-local rtf parse would run in a single Python worker
    # (measured 39 s -> 9 s at 20k sessions on 32 cores). The shuffle moves
    # only (path, tiny marker bytes); the rtf bytes are still read
    # folder-locally inside the task and never shuffle.
    files = (spark.readStream.format("binaryFile")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .option("pathGlobFilter", "*.sri")
             .option("recursiveFileLookup", "true")
             .option("maxFilesPerTrigger", str(max_files_per_trigger))
             .load(case_dir)
             .select("path", "content")
             .repartition(spark.sparkContext.defaultParallelism * 2))

    def parse(path, content):
        # Metadata comes from the offset-tracked .sri's STREAMED bytes —
        # the exactly-once unit IS this file, so its fields are
        # deterministic even if the folder gains a re-delivered sibling
        # .sri later (the batch reader elects filename-max across them).
        # Re-listing the folder for rtfs is safe because the producer
        # writes the .sri marker LAST (write_wiretap_folders' write-order
        # contract), and rtf_of_folder tolerates a folder that was
        # archived between listing and processing (a no-interpretation
        # session, never a poison-pill task).
        folder = os.path.dirname(path.replace("file:", ""))
        meta = parse_sri(bytes(content).decode("utf-8", errors="ignore"))
        return session_tuple(folder, meta, *rtf_of_folder(folder))

    return transcripts_from_sessions(
        parse_sessions(files, parse, "path", "content"))


def run_incremental_wiretap_ingest(
    spark: SparkSession,
    case_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1000,
) -> None:
    """Catch-up-then-stop wiretap session ingestion: landed session folders
    -> transcripts parquet, availableNow + checkpoint (the S6 twin of
    run_incremental_xml_ingest). The .sri marker is the offset-tracked
    unit, so a restart never re-parses a committed session, and
    ``max_files_per_trigger`` bounds each catch-up batch."""
    _drain_to_parquet(
        read_wiretap_stream(spark, case_dir, max_files_per_trigger),
        output_dir, checkpoint_dir)


def run_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gazetteer: list[str] | None = None,
) -> None:
    """Catch-up-then-stop incremental extraction (availableNow trigger).

    Appends extraction records to ``output_dir`` partitioned by ``kind``;
    restart-safe via ``checkpoint_dir`` (committed source files are never
    re-read — the Iceberg-snapshot analog of the reference's resume logic).
    """
    records = extract_records_stateless_vec(
        read_transcript_stream(spark, input_dir), gazetteer)
    _drain_to_parquet(records, output_dir, checkpoint_dir, "kind")


SESSION_GAP_S = 1800


def session_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_s: int = SESSION_GAP_S,
    watermark: str = "1 hour",
) -> None:
    """Custom STATEFUL streaming operator (SURVEY §2.11 / W5 as a stream):
    per-conversation gap sessionization via ``applyInPandasWithState``.

    State per conv_id = the open session (start, last, n_turns) in epoch
    seconds. Each micro-batch folds its turns into the open session,
    emitting every session that CLOSES (next turn > gap_s later); the open
    tail session stays in the state store with an event-time timeout at
    last + gap_s — when the watermark passes it, the timeout fires and the
    session is emitted exactly once. This is the operator Spark's built-in
    windowed aggs can't express (variable-length windows keyed by data
    gaps) and the reason applyInPandasWithState exists.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    tr = read_transcript_stream(spark, input_dir).withWatermark("ts", watermark)

    def fn(key, pdfs, state):
        conv_id = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame({"conv_id": [conv_id],
                                "session_start": [start], "session_end": [last],
                                "n_turns": [n]})
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple] = []
        ts_all: list[int] = []
        for pdf in pdfs:
            ts_all.extend(int(t.timestamp()) for t in pdf["ts"] if t is not None)
        for t in sorted(ts_all):
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_s:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                # late (out-of-order across micro-batches, within the
                # watermark) events can precede the open session's start:
                # backfill start = min so session_start is the true
                # earliest event time, matching batch gap-sessionization
                # (r2 advice). An event more than gap_s before start still
                # folds in rather than splitting retroactively — lateness
                # beyond gap_s is bounded by the watermark and documented
                # as merge-forward semantics.
                start, last, n = min(start, t), max(last, t), n + 1
        if start is not None:
            state.update((start, last, n))
            # event-time timeout must stay ahead of the current watermark
            state.setTimeoutTimestamp(
                max((last + gap_s) * 1000,
                    state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            {"conv_id": [conv_id] * len(closed),
             "session_start": [c[0] for c in closed],
             "session_end": [c[1] for c in closed],
             "n_turns": [c[2] for c in closed]})

    out = tr.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=("conv_id string, session_start long, "
                          "session_end long, n_turns long"),
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    _drain_to_parquet(out, output_dir, checkpoint_dir)


def thread_stats_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    window: str = "1 day",
) -> None:
    """Watermarked windowed thread aggregation (SURVEY A6 as a stream):
    per (conv_id, event-time window): turn count, distinct speakers,
    first/last ts. Late turns inside the watermark update their window;
    beyond it they are dropped — the declarative version of the reference's
    re-ingest MERGE for late data. Append output mode: a window row is
    emitted exactly once, when the watermark passes its end."""
    tr = read_transcript_stream(spark, input_dir)
    agg = (
        tr.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"),
             F.approx_count_distinct("role").alias("n_speakers"),
             F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .select(F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "conv_id", "n_turns", "n_speakers", "first_ts", "last_ts")
    )
    _drain_to_parquet(agg, output_dir, checkpoint_dir)


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Streaming comm dedup (SURVEY W7 as a stream): drop duplicate
    (conv_id, turn_idx) turns arriving across file drops with
    ``dropDuplicatesWithinWatermark`` — the streaming twin of the batch
    pipeline's struct-min dedup election (pipeline.py). Re-delivered or
    double-ingested turns inside the watermark are suppressed exactly once;
    the dedup state store is bounded by the watermark horizon (state is
    O(turns per watermark window), not O(stream history) — the property
    that lets this run forever at 10^12-turn scale). Catch-up-then-stop via
    availableNow; checkpointed state survives restarts, so a re-run never
    re-emits a committed turn."""
    tr = read_transcript_stream(spark, input_dir)
    deduped = (
        tr.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    _drain_to_parquet(deduped, output_dir, checkpoint_dir)
