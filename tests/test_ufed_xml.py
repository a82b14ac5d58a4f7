"""UFED-XML adapter (SURVEY S1): round-trip exactness + parser robustness."""

import os
import shutil
import textwrap

import pytest
from pyspark.sql import functions as F

from owl_n4j_spark.sources.events_transcripts import transcripts_from_events
from owl_n4j_spark.sources.ufed_xml import (
    XML_NS,
    read_ufed_attachments,
    read_ufed_models,
    read_ufed_xml,
    write_ufed_xml,
)
from owl_n4j_spark.streaming.incremental import (
    read_xml_dump_stream,
    run_incremental_xml_ingest,
)

SF = "/root/testdata/sf0.001"


def _sorted_pdf(df):
    return (df.toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True))


def test_roundtrip_exact(spark, tmp_path):
    # parse(generate(T)) == T, every column every row — the parser recovers
    # the transcripts contract bit-for-bit from the XML rendering
    xml_dir = str(tmp_path / "xml")
    write_ufed_xml(spark, SF, xml_dir, n_files=4)
    got = _sorted_pdf(read_ufed_xml(spark, xml_dir))
    want = _sorted_pdf(transcripts_from_events(spark, SF))
    import pandas as pd
    pd.testing.assert_frame_equal(got, want)


def test_parser_skips_junk_and_handles_gaps(spark, tmp_path):
    xml = textwrap.dedent(f"""\
        <?xml version="1.0" encoding="utf-8"?>
        <project xmlns="{XML_NS}" name="case-x">
         <decodedData>
          <modelType type="Chat">
           <model type="Chat" id="conv-a" deleted_state="Deleted">
            <field name="Source" type="String"><value>SMS</value></field>
            <field name="Junk" type="String"><value>skip me</value></field>
            <multiModelField name="Messages" type="InstantMessage">
             <model type="InstantMessage" id="m0">
              <field name="TimeStamp" type="TimeStamp"><value>2024-03-01T10:00:00.250000</value></field>
              <modelField name="From" type="Party">
               <field name="Identifier" type="String"><value>123@s.whatsapp.net</value></field>
              </modelField>
              <field name="Body" type="String"><value>hi &amp; bye &lt;3</value></field>
             </model>
             <model type="InstantMessage" id="m1">
              <modelField name="From" type="Party">
               <field name="Identifier" type="String"><value>123@s.whatsapp.net</value></field>
              </modelField>
              <field name="Body" type="String"><empty/></field>
             </model>
            </multiModelField>
           </model>
           <model type="Chat" id="conv-empty" deleted_state="Intact">
            <field name="Source" type="String"><value>WhatsApp</value></field>
            <multiModelField name="Messages" type="InstantMessage"/>
           </model>
          </modelType>
         </decodedData>
        </project>
    """)
    os.makedirs(tmp_path / "x2", exist_ok=True)
    (tmp_path / "x2" / "one.xml").write_text(xml)
    rows = (read_ufed_xml(spark, str(tmp_path / "x2"))
            .orderBy("turn_idx").collect())
    assert len(rows) == 2                       # empty chat emits nothing
    assert rows[0]["conv_id"] == "conv-a"
    assert rows[0]["tool"] == "SMS"
    assert rows[0]["text"] == "hi & bye <3"      # entities unescaped
    assert rows[0]["ts"] is not None
    assert rows[1]["ts"] is None                 # missing TimeStamp -> null
    assert rows[1]["text"] is None               # <empty/> body -> null
    assert rows[1]["turn_idx"] == 1              # document order preserved


def test_xml_feeds_pipeline_same_as_events_transcripts(spark, tmp_path):
    # the adapter's output drives the SAME pipeline entry as the native
    # transcripts source — triples built from XML match triples built
    # from the events derivation exactly
    from owl_n4j_spark.pipeline import run_pipeline
    from owl_n4j_spark.sources.events_transcripts import alias_dict_df

    xml_dir = str(tmp_path / "xml3")
    write_ufed_xml(spark, SF, xml_dir, n_files=2)
    tr = read_ufed_xml(spark, xml_dir)
    res_xml = run_pipeline(spark, tr, alias_dict=alias_dict_df(spark),
                           with_manifest=False)
    res_ev = run_pipeline(spark, transcripts_from_events(spark, SF),
                          alias_dict=alias_dict_df(spark),
                          with_manifest=False)
    cols = ["subj_key", "pred", "obj_key", "conv_id", "turn_idx"]
    a = res_xml["triples"].select(*cols)
    b = res_ev["triples"].select(*cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_sexagesimal_roundtrip_whole_gazetteer():
    # the GPS header write/parse chain must reconstruct round(dec, 6)
    # exactly for every gazetteer coordinate
    from owl_n4j_spark.plans.kg_analytics import CITY_COORDS
    from owl_n4j_spark.sources.ufed_xml import _sexagesimal
    for lat, lon in CITY_COORDS.values():
        for dec in (lat, lon):
            s, ref = _sexagesimal(dec)
            d, m, sec = [float(x) for x in s.split(",")]
            recon = d + m / 60 + sec / 3600
            if ref == "S":
                recon = -recon
            assert round(recon, 6) == round(dec, 6)


def test_attachments_extracted_and_messages_unaffected(spark, tmp_path):
    from owl_n4j_spark.sources.ufed_xml import read_ufed_attachments
    xml_dir = str(tmp_path / "xml_att")
    write_ufed_xml(spark, SF, xml_dir, n_files=2)
    att = read_ufed_attachments(spark, xml_dir)
    rows = att.collect()
    assert rows, "events corpus has purchase/click turns"
    by_kind = {r["filename"].split("_")[0] for r in rows}
    assert by_kind == {"receipt", "photo"}
    # receipts have EXIF datetime but no GPS; photos have both
    for r in rows[:50]:
        assert r["exif_dt"] and len(r["exif_dt"]) == 19
        if r["filename"].startswith("photo"):
            assert r["gps_lat"] and r["gps_lat_ref"] in ("N", "S")
        else:
            assert r["gps_lat"] is None


def test_streaming_xml_ingest_incremental_and_restart_safe(spark, tmp_path):
    # SURVEY S1 as a STREAM: dumps land incrementally; availableNow +
    # checkpoint parses each committed dump exactly once across restarts
    import shutil

    from owl_n4j_spark.streaming.incremental import run_incremental_xml_ingest

    all_dir = tmp_path / "all"
    live = tmp_path / "live"
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    live.mkdir()
    write_ufed_xml(spark, SF, str(all_dir), n_files=4)
    dumps = sorted(os.listdir(all_dir))
    for f in dumps[:2]:
        shutil.copy(all_dir / f, live / f)
    run_incremental_xml_ingest(spark, str(live), out, ck)
    n1 = spark.read.parquet(out).count()
    assert 0 < n1
    for f in dumps[2:]:
        shutil.copy(all_dir / f, live / f)
    run_incremental_xml_ingest(spark, str(live), out, ck)
    got = spark.read.parquet(out)
    want = transcripts_from_events(spark, SF)
    assert got.count() == want.count() > n1
    # third run with nothing new: no re-parse, no duplicates
    run_incremental_xml_ingest(spark, str(live), out, ck)
    assert spark.read.parquet(out).count() == want.count()
    # content parity with the batch derivation
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert got.select(*cols).exceptAll(want.select(*cols)).isEmpty()


def _stream_ingest(spark, xml_dir):
    """run_incremental_xml_ingest drained into a sibling directory, read
    back as a batch frame."""
    out, ck = xml_dir + "_out", xml_dir + "_ck"
    run_incremental_xml_ingest(spark, xml_dir, out, ck)
    return spark.read.parquet(out)


UFED_READERS = {
    "read_ufed_xml": lambda spark, d: read_ufed_xml(spark, d,
                                                    with_source=True),
    "read_ufed_attachments": read_ufed_attachments,
    "read_ufed_models": read_ufed_models,
    "run_incremental_xml_ingest": _stream_ingest,
}


@pytest.fixture(scope="module")
def truncated_case(spark, tmp_path_factory):
    """Three dump directories over one 4-dump rendering: ``full`` (as
    written), ``bad`` (the first dump cut in half, mid-element) and
    ``others`` (the three untouched dumps only)."""
    root = tmp_path_factory.mktemp("ufed_trunc")
    full = root / "full"
    write_ufed_xml(spark, SF, str(full), n_files=4)
    dumps = sorted(p for p in os.listdir(full) if p.endswith(".xml"))
    for name in ("bad", "others"):
        (root / name).mkdir()
    for p in dumps:
        data = (full / p).read_bytes()
        if p == dumps[0]:
            (root / "bad" / p).write_bytes(data[: len(data) // 2])
        else:
            (root / "bad" / p).write_bytes(data)
            (root / "others" / p).write_bytes(data)
    return root


@pytest.mark.parametrize("reader", list(UFED_READERS))
def test_malformed_dump_salvaged_not_fatal(spark, truncated_case, reader):
    # a truncated dump must not fail the job: its complete batches are
    # kept, its remainder skipped, and every OTHER dump parses fully
    read = UFED_READERS[reader]
    # each parse gets its own copy so stream outputs never share a root
    parsed = {}
    for name in ("full", "bad", "others"):
        d = truncated_case / f"{name}_{reader}"
        shutil.copytree(truncated_case / name, d)
        parsed[name] = read(spark, str(d))
    got, full, others = parsed["bad"], parsed["full"], parsed["others"]
    n_got, n_full = got.count(), full.count()
    assert 0 < n_got < n_full
    # every parsed row is a true row of the full parse (no corruption)
    assert got.exceptAll(full).isEmpty()
    # ... and every row of the untouched dumps survives
    assert others.count() > 0
    assert others.exceptAll(got).isEmpty()


@pytest.mark.parametrize("read, ddl", [
    (read_ufed_xml,
     "struct<conv_id:string,turn_idx:int,role:string,text:string,"
     "tool:string,ts:timestamp>"),
    (lambda spark, d: read_ufed_xml(spark, d, with_source=True),
     "struct<conv_id:string,turn_idx:int,role:string,text:string,"
     "tool:string,ts:timestamp,src_file:string>"),
    (read_ufed_attachments,
     "struct<conv_id:string,turn_idx:int,filename:string,mime:string,"
     "size_bytes:bigint,exif_dt:string,gps_lat:string,gps_lat_ref:string,"
     "gps_lon:string,gps_lon_ref:string>"),
    (read_ufed_models,
     "struct<src_file:string,model_type:string,model_id:string,ts:string,"
     "name:string,phone:string>"),
    (read_xml_dump_stream,
     "struct<conv_id:string,turn_idx:int,role:string,text:string,"
     "tool:string,ts:timestamp>"),
], ids=["read_ufed_xml", "read_ufed_xml_with_source", "read_ufed_attachments",
        "read_ufed_models", "read_xml_dump_stream"])
def test_reader_schema_pinned(spark, truncated_case, read, ddl):
    assert read(spark, str(truncated_case / "full")).schema.simpleString() \
        == ddl


def test_bounded_trigger_commits_backlog_in_batches(spark, tmp_path):
    """availableNow catch-up honors max_files_per_trigger: a 4-dump
    backlog with a 1-file trigger commits >= 4 checkpointed batches, so a
    mid-catch-up failure loses one bounded batch, never the whole
    backlog — and the output still matches the batch derivation."""
    from owl_n4j_spark.streaming.incremental import run_incremental_xml_ingest

    dumps = tmp_path / "dumps"
    out = str(tmp_path / "out")
    ck = tmp_path / "ck"
    write_ufed_xml(spark, SF, str(dumps), n_files=4)
    run_incremental_xml_ingest(spark, str(dumps), out, str(ck),
                               max_files_per_trigger=1)
    commits = [p for p in os.listdir(ck / "commits")
               if not p.startswith(".")]
    assert len(commits) >= 4
    got = spark.read.parquet(out)
    want = transcripts_from_events(spark, SF)
    assert got.count() == want.count()
