"""Raw UFED-shaped XML -> transcripts adapter (SURVEY S1 proper).

The reference's highest-volume ingestion path starts from 100+ MB Cellebrite
UFED XML: a streaming chunked parse with explicit depth tracking over nested
model batches (/root/reference/ingestion/scripts/cellebrite/parser.py:658-757),
feeding Chat/InstantMessage models to the writer. This module re-expresses
that path Spark-first:

- PARALLEL UNIT = the XML file. A device dump is one file; a case is many.
  ``binaryFile`` gives one task per file, so a 1000-executor cluster parses
  1000 dumps concurrently with zero shuffle — the parse is a pure map.
- WITHIN a file, memory is bounded: ``xml.etree.ElementTree.iterparse``
  streams events, every InstantMessage element is ``clear()``-ed as soon as
  it is consumed and rows are yielded to Arrow in fixed-size batches, so a
  multi-GB dump never materializes as a tree (the reference's
  ``iterparse`` + ``elem.clear()`` discipline, parser.py:700-757).
- OUTPUT is the transcripts contract (conv_id, turn_idx, role, text, tool,
  ts) — the exact input of pipeline.run_pipeline, so XML drops feed the
  same normalize -> extract -> link -> materialize path as every other
  source (parity with the events-derived transcripts is asserted
  turn-for-turn in tests/test_ufed_xml.py).

ONE PARSE PATH: ``parse_dumps`` is the only per-dump loop. It turns a
``files(path)`` frame into rows of one ``emit`` kind — transcript turns
(``read_ufed_xml``), ATTACHMENT models (depth-3 nested: receipt/photo
metadata with EXIF datetime + sexagesimal GPS headers —
``read_ufed_attachments``; SURVEY S3/J10) or one row per model for the
per-type reconciliation (``read_ufed_models``) — and it is also the parse
of the Structured Streaming source over landing dumps
(``streaming.incremental.read_xml_dump_stream``; exactly-once per dump
via checkpointed offsets). A truncated dump keeps its complete batches
in every one of them.

The GENERATOR (``write_ufed_xml``) is test scaffolding: it renders the
driver ``events`` table through transcripts_from_events into UFED-shaped
XML, so the parser's expected output is relationally derivable and
``q_xml_ingest`` / ``q_xml_attachments`` get exact DuckDB oracles.
"""

from __future__ import annotations

import os
import re
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession

from owl_n4j_spark.synth import TRANSCRIPT_SCHEMA

XML_NS = "urn:ufed-models"
_BATCH_ROWS = 5000
# Dump-file split: conversations hash across this many dump files, plus one
# non-report decoy. Shared by write_ufed_xml AND the DuckDB oracle strings
# that recompute the conv->dump attribution (SQL_Q_CASE_SCAN /
# SQL_Q_EXTRACTION_INTERSECTION interpolate it) so the split cannot drift.
UFED_N_FILES = 8

# Per-model-type reconciliation contract (SURVEY K5 proper — the reference
# classifies every XML model type ok / nested / skipped / under /
# not_supported and warns LOUDLY on unknown types and writer under-counts;
# ingestion/scripts/cellebrite/ingestion.py:82-131,668-706. Its audit shows
# why: ~45k app/movement events silently dropped for weeks because a type
# was in neither SUPPORTED nor SKIPPED, and SearchedItem persisted 37/71
# because the writer required a field a subset lacks —
# CELLEBRITE_INGEST_AUDIT.md:10-40).
#
# 1:1 types: one persisted row expected per XML model; persisted < xml
# means a writer is dropping records ("under" — a bug, never silent).
UFED_ONE_TO_ONE = {"Chat", "Call", "Contact", "Location"}
# nested: persisted via a parent model's parse — count expected to differ.
UFED_NESTED = {"InstantMessage"}
# helper models consumed inline by a parent handler (no own writer row).
UFED_HELPER = {"Attachment", "Party"}
# deliberately not ingested (reference SKIPPED_MODEL_TYPES analog).
UFED_SKIPPED = {"CalendarEntry"}
# anything else seen in a dump is "not_supported": no writer exists and the
# ingest must say so loudly instead of silently dropping the instances.


def _sexagesimal(dec: float) -> tuple[str, str]:
    """decimal degrees -> ('deg, min, sec', hemisphere-ref) such that
    deg + min/60 + sec/3600 reconstructs to round(dec, 6) exactly
    (asserted over the whole gazetteer in tests)."""
    ref = "N" if dec >= 0 else "S"
    a = abs(dec)
    deg = int(a)
    mnt = int((a - deg) * 60 + 1e-9)
    sec = round((a - deg - mnt / 60) * 3600, 4)
    return f"{deg}, {mnt}, {sec}", ref


def _field(name: str, value, ftype: str = "String") -> str:
    return (f'    <field name="{name}" type="{ftype}">'
            f'<value>{escape(str(value))}</value></field>\n')


def _render_dump(i: int, turns_pdf, ev_pdf, pers, out_dir: str) -> None:
    """Render ONE dump file from its slice of turns + events (the
    distributed unit of write_ufed_xml). Byte-identical to the former
    driver-side loop: conversations in conv_id order, attachments inline
    on purchase/click turns, non-chat model sections after the Chat
    section in sorted-type order with models in event order."""
    from owl_n4j_spark.functions.keys import normalise_key
    from owl_n4j_spark.plans.kg_analytics import CITY_COORDS
    from owl_n4j_spark.synth import CITIES

    coords = [CITY_COORDS[normalise_key(c)] for c in CITIES]
    ev_pdf = ev_pdf.sort_values("event_id")

    # attachment snippets for this dump's purchase/click turns
    att: dict[tuple, str] = {}
    for r in ev_pdf.itertuples(index=False):
        if r.event_type not in ("purchase", "click"):
            continue
        conv_id = f"conv-{int(r.user_id):05d}"
        exif_dt = r.ts.strftime("%Y:%m:%d %H:%M:%S")
        if r.event_type == "purchase":
            name = f"receipt_{conv_id}_{r.turn_idx}.jpg"
            size = int(("%.2f" % r.value).replace(".", ""))
            gps = ""
        else:
            name = f"photo_{conv_id}_{r.turn_idx}.jpg"
            size = int(r.event_id) % 100000 + 1000
            lat, lon = coords[int(r.event_id) % len(CITIES)]
            la, la_ref = _sexagesimal(lat)
            lo, lo_ref = _sexagesimal(lon)
            lo_ref = {"N": "E", "S": "W"}[lo_ref]
            gps = (
                f'        <field name="GPSLatitude" type="String">'
                f'<value>{la}</value></field>\n'
                f'        <field name="GPSLatitudeRef" type="String">'
                f'<value>{la_ref}</value></field>\n'
                f'        <field name="GPSLongitude" type="String">'
                f'<value>{lo}</value></field>\n'
                f'        <field name="GPSLongitudeRef" type="String">'
                f'<value>{lo_ref}</value></field>\n')
        att[(conv_id, int(r.turn_idx))] = (
            '      <multiModelField name="Attachments" type="Attachment">\n'
            f'       <model type="Attachment" '
            f'id="{conv_id}#{r.turn_idx}#a0">\n'
            f'        <field name="Filename" type="String">'
            f'<value>{name}</value></field>\n'
            '        <field name="ContentType" type="String">'
            '<value>image/jpeg</value></field>\n'
            f'        <field name="FileSize" type="Long">'
            f'<value>{size}</value></field>\n'
            f'        <field name="DateTimeOriginal" type="String">'
            f'<value>{exif_dt}</value></field>\n'
            f'{gps}'
            '       </model>\n'
            '      </multiModelField>\n')

    # non-chat model sections for this dump. A real UFED dump carries
    # dozens of model types beyond chats; the fixture mirrors the
    # reconciliation-relevant classes, each relationally derivable from
    # the driver tables so q_xml_reconcile has an exact oracle:
    #   Call          one per 'view' event            -> 1:1 writer, ok
    #   Location      one per 'click' event           -> 1:1 writer, ok
    #   Contact       one per distinct user; Phone OMITTED when
    #                 user_id % 7 == 3 and the writer requires it ->
    #                 persisted < xml, the "under" regression class
    #   Cookie        one per 'signup' event, NO writer -> not_supported
    #   CalendarEntry one per 'error' event, deliberately skipped
    types: dict[str, list[str]] = {}

    def add(mtype: str, mid: str, fields: str):
        types.setdefault(mtype, []).append(
            f'   <model type="{mtype}" id="{mid}">\n{fields}   </model>\n')

    for r in ev_pdf.itertuples(index=False):
        iso = r.ts.isoformat()
        if r.event_type == "view":
            add("Call", f"call-{r.event_id}",
                _field("TimeStamp", iso, "TimeStamp")
                + _field("Direction", "Outgoing"))
        elif r.event_type == "click":
            city = CITIES[int(r.event_id) % len(CITIES)]
            add("Location", f"loc-{r.event_id}",
                _field("TimeStamp", iso, "TimeStamp")
                + _field("Name", city))
        elif r.event_type == "signup":
            add("Cookie", f"ck-{r.event_id}",
                _field("Domain", "example.test")
                + _field("LastAccessTime", iso, "TimeStamp"))
        elif r.event_type == "error":
            add("CalendarEntry", f"cal-{r.event_id}",
                _field("TimeStamp", iso, "TimeStamp")
                + _field("Subject", "sync"))
    for uid in sorted(int(u) for u in ev_pdf["user_id"].unique()):
        row = pers.loc[uid]
        fields = _field("Name", row.full_name)
        if uid % 7 != 3:
            fields += _field("Phone", row.jid.split("@")[0])
        add("Contact", f"ct-{uid}", fields)
    extra_parts = []
    for mtype in sorted(types):
        extra_parts.append(f'  <modelType type="{mtype}">\n')
        extra_parts.extend(types[mtype])
        extra_parts.append('  </modelType>\n')

    turns_pdf = turns_pdf.sort_values(["conv_id", "turn_idx"])
    with open(os.path.join(out_dir, f"dump_{i:03d}.xml"), "w",
              encoding="utf-8") as h:
        h.write('<?xml version="1.0" encoding="utf-8"?>\n')
        h.write(f'<project xmlns="{XML_NS}" name="case-001">\n'
                ' <decodedData>\n  <modelType type="Chat">\n')
        cur_conv = None
        for row in turns_pdf.itertuples(index=False):
            if row.conv_id != cur_conv:
                if cur_conv is not None:
                    h.write('    </multiModelField>\n   </model>\n')
                cur_conv = row.conv_id
                h.write(
                    f'   <model type="Chat" id="{escape(cur_conv)}" '
                    'deleted_state="Intact">\n'
                    '    <field name="Source" type="String">'
                    f'<value>{escape(row.tool or "")}</value></field>\n'
                    '    <field name="ServiceIdentifier" type="String">'
                    '<empty/></field>\n'
                    '    <multiModelField name="Messages" '
                    'type="InstantMessage">\n')
            ts = ("" if row.ts is None else
                  f'      <field name="TimeStamp" type="TimeStamp">'
                  f'<value>{row.ts.isoformat()}</value></field>\n')
            h.write(
                f'     <model type="InstantMessage" '
                f'id="{escape(cur_conv)}#{row.turn_idx}">\n'
                f'{ts}'
                '      <modelField name="From" type="Party">\n'
                '       <field name="Identifier" type="String">'
                f'<value>{escape(row.role or "")}</value></field>\n'
                '       <field name="Role" type="String">'
                '<value>From</value></field>\n'
                '      </modelField>\n'
                f'{att.get((row.conv_id, int(row.turn_idx)), "")}'
                '      <field name="Body" type="String">'
                f'<value>{escape(row.text or "")}</value></field>\n'
                '      <field name="Label" type="String"><empty/></field>\n'
                '     </model>\n')
        if cur_conv is not None:
            h.write('    </multiModelField>\n   </model>\n')
        h.write('  </modelType>\n')          # close the Chat section
        h.write("".join(extra_parts))        # non-chat model sections
        h.write(' </decodedData>\n</project>\n')


def write_ufed_xml(spark: SparkSession, sf_dir: str, out_dir: str,
                   n_files: int = UFED_N_FILES) -> str:
    """Render the events-derived transcripts as UFED-shaped XML dumps.

    Conversations are split across ``n_files`` by a deterministic hash so
    the reader has multiple parallel units. Messages carry decoy fields and
    attributes the parser must skip (deleted-state, user-mapping, labels) —
    mirroring the real format's width.

    DISTRIBUTED RENDER: one task per dump file via a cogrouped
    ``applyInPandas`` — each task receives exactly its dump's turns and
    events and renders/writes the whole file locally (the former shape
    collected every turn to the driver and rendered all dumps in one
    serial loop — the slowest fixture leg of the bench, and O(case) driver
    memory). Only the small person dim rides the closure; bytes written
    are identical (asserted by the turn-for-turn parse-back tests and a
    one-off byte diff at sf0.1)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from owl_n4j_spark.sources.events_transcripts import (
        persons_df,
        transcripts_from_events,
    )

    os.makedirs(out_dir, exist_ok=True)
    # a non-report decoy the case scan must classify as 'other'
    with open(os.path.join(out_dir, "case_notes.txt"), "w",
              encoding="utf-8") as f:
        f.write("investigator notes - not evidence\n")

    pers = persons_df(spark).toPandas().set_index("idx")

    # conversation -> dump assignment must be relationally derivable (the
    # extraction-intersection oracle recomputes it): numeric conv ids
    # split by modulus, anything else by crc32 fallback (F.crc32 and
    # zlib.crc32 are both standard CRC-32 — identical values)
    conv_num = F.regexp_extract("conv_id", r"^conv-(\d+)$", 1)
    fno = (F.when(conv_num != "", conv_num.cast("bigint") % n_files)
           .otherwise(F.crc32(F.col("conv_id").cast("binary")) % n_files)
           ).cast("int")
    turns = transcripts_from_events(spark, sf_dir).withColumn("fno", fno)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    evx = (spark.read.parquet(f"{sf_dir}/events.parquet")
           .select("event_id", "ts", "user_id", "event_type", "value")
           .withColumn("turn_idx",
                       (F.row_number().over(w) - 1).cast("int"))
           .withColumn("fno", (F.col("user_id") % n_files).cast("int")))

    def render(key, turns_pdf, ev_pdf):
        _render_dump(int(key[0]), turns_pdf, ev_pdf, pers, out_dir)
        return pd.DataFrame({"fno": [int(key[0])]})

    done = (turns.groupBy("fno").cogroup(evx.groupBy("fno"))
            .applyInPandas(render, "fno int").collect())
    # a dump index with no conversations AND no events still gets its
    # skeleton file (the former loop opened every handle up front)
    for i in set(range(n_files)) - {r["fno"] for r in done}:
        with open(os.path.join(out_dir, f"dump_{i:03d}.xml"), "w",
                  encoding="utf-8") as h:
            h.write('<?xml version="1.0" encoding="utf-8"?>\n')
            h.write(f'<project xmlns="{XML_NS}" name="case-001">\n'
                    ' <decodedData>\n  <modelType type="Chat">\n'
                    '  </modelType>\n </decodedData>\n</project>\n')
    return out_dir


def _parse_ufed_stream(stream, batch_rows: int = _BATCH_ROWS,
                       emit: str = "turns"):
    """Streaming UFED parse: yields lists of tuples.

    ``emit='turns'``  -> (conv_id, turn_idx, role, text, tool, ts)
    ``emit='attachments'`` -> (conv_id, turn_idx, filename, mime, size,
                               exif_dt, gps_lat, gps_lat_ref, gps_lon,
                               gps_lon_ref)
    ``emit='models'`` -> (model_type, model_id, ts, name, phone): EVERY
        <model> element at any depth, one row each — the xml-count side of
        the per-type reconciliation (the reference's
        parser.xml_counts_by_type). Fields are captured only for top-level
        non-Chat models (the per-type writers' inputs); Chat/InstantMessage/
        Attachment rows carry null fields (their content is the turns /
        attachments emitters' job).

    Depth-tracked iterparse (parser.py:658-757): nested <model> elements
    (Party inside InstantMessage inside Chat; Attachment at depth 3) are
    told apart by the model depth counter, unknown fields/attributes are
    skipped, and consumed elements are cleared so memory stays O(batch)."""
    import xml.etree.ElementTree as ET

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    def fields_of(elem) -> dict:
        out = {}
        for f in elem.iter(f"{{{XML_NS}}}field"):
            v = f.find(f"{{{XML_NS}}}value")
            out[f.get("name")] = None if v is None else v.text
        return out

    rows: list[tuple] = []
    chat_id = None
    tool = None
    turn_idx = 0
    depth = 0    # <model> nesting: 1=Chat, 2=InstantMessage, 3=Attachment
    # Open-element stack: elem.clear() empties a consumed subtree but the
    # husk Element STAYS in its parent's child list, so a dump with 50M
    # models would retain 50M empty Elements — O(file), not O(batch). At
    # each consumption point we `del parent[:]`: processed siblings are
    # all already consumed and upcoming ones haven't been attached yet,
    # so the wipe is safe and keeps the tree truly bounded.
    stack: list = []
    for event, elem in ET.iterparse(stream, events=("start", "end")):
        tag = local(elem.tag)
        if event == "start":
            stack.append(elem)
            if tag == "model":
                depth += 1
                mtype = elem.get("type")
                if depth == 1 and mtype == "Chat":
                    chat_id = elem.get("id")
                    tool = None
                    turn_idx = 0
            continue
        stack.pop()
        parent = stack[-1] if stack else None
        # end events
        if tag == "field" and depth == 1 and chat_id is not None \
                and elem.get("name") == "Source":
            v = elem.find(f"{{{XML_NS}}}value")
            tool = v.text if v is not None else None
        elif tag == "model":
            mtype = elem.get("type")
            if emit == "models":
                # EVERY <model> at ANY depth gets a reconciliation row —
                # including nested helper/unknown types (Party inside
                # InstantMessage, or a type no writer knows). Restricting
                # this to known (type, depth) pairs is exactly the silent-
                # drop class K5 exists to catch: an unclassified nested
                # model must surface as not_supported, never vanish.
                if depth == 1 and mtype != "Chat":
                    f = fields_of(elem)
                    rows.append((mtype, elem.get("id"),
                                 f.get("TimeStamp"), f.get("Name"),
                                 f.get("Phone")))
                else:
                    rows.append((mtype, elem.get("id"), None, None, None))
            if depth == 3 and mtype == "Attachment" and chat_id:
                if emit == "attachments":
                    f = fields_of(elem)
                    rows.append((
                        chat_id, turn_idx, f.get("Filename"),
                        f.get("ContentType"), f.get("FileSize"),
                        f.get("DateTimeOriginal"), f.get("GPSLatitude"),
                        f.get("GPSLatitudeRef"), f.get("GPSLongitude"),
                        f.get("GPSLongitudeRef")))
                elem.clear()    # message extraction must not see these
            elif depth == 2 and mtype == "InstantMessage" and chat_id:
                if emit == "turns":
                    f = fields_of(elem)
                    rows.append((chat_id, turn_idx, f.get("Identifier"),
                                 f.get("Body"), tool, f.get("TimeStamp")))
                turn_idx += 1
                elem.clear()    # bound memory: message subtree is consumed
                if parent is not None:
                    del parent[:]   # drop consumed-message husks too
            elif depth == 1:
                # every top-level model is consumed here — clear it so a
                # dump with millions of non-chat models stays O(batch)
                elem.clear()
                if parent is not None:
                    del parent[:]   # and unhook the husk from <modelType>
                chat_id = None
            depth -= 1
            if len(rows) >= batch_rows:
                yield rows
                rows = []
    if rows:
        yield rows


def _salvage_batches(gen, path: str):
    """Consume a per-file parse generator; on malformed XML keep every
    complete batch already produced and skip the remainder of THAT file
    only (the reference skips malformed reports rather than failing the
    whole ingest). The truncation is logged to task stderr so the
    quarantine trail is reconstructable from executor logs."""
    import sys
    while True:
        try:
            yield next(gen)
        except StopIteration:
            return
        except Exception as e:   # ET.ParseError, decode errors
            print(f"ufed_xml: malformed dump truncated at error: "
                  f"{path}: {e}", file=sys.stderr)
            return


def _dump_paths(spark: SparkSession, xml_dir: str) -> DataFrame:
    """Dump-file PATHS as a DataFrame — the parallel unit for every UFED
    reader. binaryFile with only ``path`` projected prunes the content
    column entirely, so the scan is a listing, not an I/O pass; the task
    then opens its path locally and iterparse STREAMS from disk. Shipping
    content through the binaryFile row instead (the earlier shape) both
    hard-fails past the 2 GB column limit and materializes each dump
    2-3x in memory (JVM row + Arrow batch + Python bytes) before the
    parser reads its first event — the opposite of the module's O(batch)
    contract for multi-GB dumps. Assumes a task-visible evidence mount
    (file:// paths), the same contract as the wiretap folder reader."""
    # directory + pathGlobFilter, never a multi-file glob: globs past 32
    # matches trigger a one-task-per-file distributed listing job (see
    # doc_formats.read_documents_dir)
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.xml")
            .load(xml_dir)
            .select("path"))


def _open_dump(path: str):
    return open(path.replace("file:", ""), "rb")


def parse_dumps(files: DataFrame, emit: str, schema: str) -> DataFrame:
    """``files(path)`` -> the ``emit`` rows of every dump, in ``schema``'s
    column order: the one per-dump parse loop of every UFED reader, batch
    and streaming. Each task opens its dumps locally and streams
    _parse_ufed_stream's batches through Arrow; a malformed dump keeps its
    complete batches (_salvage_batches). ``schema`` names the emitted
    tuple's fields in order, plus an optional ``src_file`` (the dump
    basename) anywhere. The fix-ups follow the schema: a timestamp column
    is parsed ISO8601 and int/bigint columns take their width."""
    import pandas as pd

    types = dict(c.split() for c in schema.split(","))
    cols = [c for c in types if c != "src_file"]
    widths = {"int": "int32", "bigint": "int64"}

    def parse(batches):
        for pdf in batches:
            for path in pdf["path"]:
                with _open_dump(path) as fh:
                    gen = _parse_ufed_stream(fh, emit=emit)
                    for rows in _salvage_batches(gen, path):
                        out = pd.DataFrame(rows, columns=cols)
                        out["src_file"] = os.path.basename(path)
                        for c, t in types.items():
                            if t == "timestamp":
                                out[c] = pd.to_datetime(out[c],
                                                        format="ISO8601")
                            elif t in widths:
                                out[c] = out[c].astype(widths[t])
                        yield out[list(types)]

    # natural binaryFile partitioning: dumps are not splittable, so at real
    # scale each multi-GB file is its own task; small test files pack
    # together via the open-cost heuristic
    return files.mapInPandas(parse, schema)


def read_ufed_xml(spark: SparkSession, xml_dir: str,
                  with_source: bool = False) -> DataFrame:
    """UFED XML directory -> transcripts DataFrame (the S1 operator).

    ``with_source=True`` appends a ``src_file`` column (dump basename) —
    the extraction-attribution the cross-extraction intersection needs."""
    schema = (TRANSCRIPT_SCHEMA + ", src_file string" if with_source
              else TRANSCRIPT_SCHEMA)
    return parse_dumps(_dump_paths(spark, xml_dir), "turns", schema)


ATTACHMENT_SCHEMA = ("conv_id string, turn_idx int, filename string, "
                     "mime string, size_bytes bigint, exif_dt string, "
                     "gps_lat string, gps_lat_ref string, gps_lon string, "
                     "gps_lon_ref string")


def read_ufed_attachments(spark: SparkSession, xml_dir: str) -> DataFrame:
    """UFED XML directory -> raw attachment metadata rows (SURVEY S3
    taggedFiles/header parse + J10 attachment map). EXIF strings come out
    RAW — normalization (sexagesimal GPS -> decimal, EXIF datetime ->
    timestamp) happens in column expressions downstream
    (functions/exif.py), never in the Python worker."""
    return parse_dumps(_dump_paths(spark, xml_dir), "attachments",
                       ATTACHMENT_SCHEMA)


MODEL_SCHEMA = ("src_file string, model_type string, model_id string, "
                "ts string, name string, phone string")


def read_ufed_models(spark: SparkSession, xml_dir: str) -> DataFrame:
    """UFED XML directory -> one row per <model> element of ANY type
    (K5 proper — the xml-count side of the reference's per-type
    reconciliation, parser.xml_counts_by_type in
    ingestion/scripts/cellebrite/ingestion.py:668-706, plus the generic
    field capture its per-type writers consume). Rows for nested Chat
    content carry null fields — only top-level non-Chat models are writer
    inputs here."""
    return parse_dumps(_dump_paths(spark, xml_dir), "models", MODEL_SCHEMA)
