"""Wiretap folder ingestion (SURVEY S6): .sri/.rtf parse + pipeline feed."""

import os

from pyspark.sql import functions as F

from owl_n4j_spark.sources.wiretap import (
    parse_rtf,
    rtf_to_text,
    wiretap_transcripts,
)

SF = "/root/testdata/sf0.001"


def test_rtf_stripper():
    rtf = ("{\\rtf1\\ansi\\deff0\n"
           "{\\fonttbl{\\f0\\fnil Courier New;}}\n"
           "{\\colortbl;\\red0\\green0\\blue0;}\n"
           "\\f0\\fs24 PARTICIPANTS: CHARLIE AND UF\\#96\\par\n"
           "line with \\{braces\\} and a back\\\\slash\\par\n}")
    text = rtf_to_text(rtf)
    # destination groups (fonts/colors) never leak into the text
    assert "Courier" not in text and "red0" not in text
    assert text.splitlines()[0] == "PARTICIPANTS: CHARLIE AND UF#96"
    assert "line with {braces} and a back\\slash" in text
    parts, _ = parse_rtf(rtf)
    assert parts == "CHARLIE,UF#96"


def test_syn_rtf_preferred_over_decoy(spark):
    from owl_n4j_spark.plans.kg_analytics import (
        ensure_wiretap,
        q_wiretap_ingest,
    )

    ensure_wiretap(spark, SF)
    rows = q_wiretap_ingest(spark, SF).collect()
    assert rows, "fixture produced no sessions"
    # eid%41 sessions have no syn rtf AT ALL (degenerate classes) — the
    # preference rule is only observable where both syn and decoy exist
    decoyed = [r for r in rows
               if int(r.folder_name) % 10 == 0
               and int(r.folder_name) % 41 != 0]
    assert decoyed, "no decoy-bearing sessions at this sf"
    for r in decoyed:
        assert "DRAFT" not in r.interpretation
        assert r.interpretation.startswith("PARTICIPANTS: ")
    # and where ONLY the decoy exists, the parser falls back to it
    fallback = [r for r in rows
                if int(r.folder_name) % 41 == 0
                and int(r.folder_name) % 2 == 0]
    assert fallback, "no decoy-fallback sessions at this sf"
    for r in fallback:
        assert r.interpretation == "DRAFT - do not use"
        assert r.participants == ""


def test_wiretap_feeds_pipeline(spark):
    from owl_n4j_spark.pipeline import run_pipeline
    from owl_n4j_spark.plans.kg_analytics import ensure_wiretap
    from owl_n4j_spark.sources import events_transcripts as et

    case_dir = ensure_wiretap(spark, SF)
    tr = wiretap_transcripts(spark, case_dir)
    n_sessions = tr.count()
    # degenerate sessions (no rtf / no SYNOPSIS line) carry text='' and
    # must yield no CALLED claim — but still flow through the pipeline
    n_extractable = tr.filter(F.col("text") != "").count()
    assert 0 < n_extractable < n_sessions
    res = run_pipeline(spark, tr, alias_dict=et.alias_dict_df(spark),
                       with_manifest=False)
    called = res["triples"].filter(F.col("pred") == "CALLED")
    # one CALLED claim per extractable session, resolved to canonical keys
    assert called.count() == n_extractable
    assert (called.filter(F.col("subj_key").startswith("phone-")).count()
            == n_extractable)
    # the role-derived legs emit for EVERY session, degenerate or not
    sent = res["triples"].filter(F.col("pred") == "SENT_MESSAGE")
    assert sent.count() == n_sessions


def test_streaming_wiretap_incremental_and_restart_safe(spark, tmp_path):
    # S6 as a STREAM: session folders land incrementally; the .sri file is
    # the offset-tracked arrival signal — availableNow + checkpoint ingests
    # each committed session exactly once across restarts
    import shutil

    from owl_n4j_spark.plans.kg_analytics import ensure_wiretap
    from owl_n4j_spark.streaming.incremental import read_wiretap_stream

    all_dir = ensure_wiretap(spark, SF)
    sessions = sorted(
        e.path for e in os.scandir(f"{all_dir}/sessions"))
    live = tmp_path / "case" / "sessions"
    live.mkdir(parents=True)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run():
        q = (read_wiretap_stream(spark, str(tmp_path / "case")).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    for s in sessions[:3]:
        shutil.copytree(s, live / os.path.basename(s))
    run()
    n1 = spark.read.parquet(out).count()
    assert n1 == 3
    for s in sessions[3:]:
        shutil.copytree(s, live / os.path.basename(s))
    run()
    assert spark.read.parquet(out).count() == len(sessions)
    run()   # nothing new: no re-ingest, no duplicates
    got = spark.read.parquet(out)
    assert got.count() == len(sessions)
    # content parity with the batch derivation
    want = wiretap_transcripts(spark, all_dir)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert got.select(*cols).exceptAll(want.select(*cols)).isEmpty()


def test_rtf_hex_and_unicode_escapes():
    """Word-authored interpretations carry \\'xx (cp1252) and \\uN escapes;
    accented names must survive, with the one \\uN fallback char skipped
    whether it is bare or itself a \\'xx escape."""
    rtf = "{\\rtf1\\ansi caf\\'e9\\par \\u233?t\\'e9\\par \\u8364\\'80!\\par}"
    assert rtf_to_text(rtf).splitlines() == ["café", "été", "€!"]
    # escapes inside destination groups stay dropped
    assert rtf_to_text(
        "{\\rtf1{\\fonttbl{\\f0 X\\'e9;}}body\\par}") == "body"


def test_rtf_unicode_fallback_never_eats_structure():
    """Spec-violating RTF that supplies FEWER \\ucN fallback chars than
    declared before a group delimiter: the fallback skip must stop at the
    unescaped brace (or a control backslash) — consuming it would desync
    group depth and extend a destination skip over visible text."""
    # \uc2 declares two fallback chars but the group closes after \u233 —
    # the '}' must close the group, not be eaten as a fallback char
    assert rtf_to_text(
        "{\\rtf1\\ansi{\\uc2\\u233}X\\par}") == "éX"
    # a control word directly after \uN is likewise structure, not fallback
    assert rtf_to_text(
        "{\\rtf1\\ansi\\uc2\\u233\\par done}").splitlines() == ["é", "done"]
    # the compliant shape (full fallback supplied) still skips exactly ucN
    assert rtf_to_text(
        "{\\rtf1\\ansi\\uc2\\u233ab X\\par}") == "é X"


def test_wiretap_empty_case(spark, tmp_path):
    """A case with no sessions yet (or no sessions/ dir) is an empty
    DataFrame, not a crash — the landing-folder shape starts empty."""
    from owl_n4j_spark.sources.wiretap import read_wiretap_sessions

    assert read_wiretap_sessions(spark, str(tmp_path)).count() == 0
    (tmp_path / "sessions").mkdir()
    assert read_wiretap_sessions(spark, str(tmp_path)).count() == 0
    assert wiretap_transcripts(spark, str(tmp_path)).count() == 0


def test_synopsis_line_anchored_both_paths(spark, tmp_path):
    """The SYNOPSIS rule is line-anchored and SHARED: a mid-line
    'SYNOPSIS:' mention never wins over the real claim line, and batch and
    stream extract the identical text (they share the rtf_of_folder
    election + SYNOPSIS_RE rule)."""
    folder = tmp_path / "sessions" / "00000002"
    folder.mkdir(parents=True)
    (folder / "00000002.syn.rtf").write_text(
        "{\\rtf1\\ansi PARTICIPANTS: A AND B\\par "
        "Call re SYNOPSIS: see below\\par "
        "SYNOPSIS: A called B yesterday.\\par}")
    (folder / "00000002.sri").write_text(
        "version=2\ninput_line_id=210-555-0001\n"
        "start_string=2024-01-01 11:00:00 CST\nsession_length=60\n")
    batch = wiretap_transcripts(spark, str(tmp_path)).collect()
    assert len(batch) == 1
    assert batch[0].text == "A called B yesterday."

    from owl_n4j_spark.streaming.incremental import read_wiretap_stream
    q = (read_wiretap_stream(spark, str(tmp_path))
         .writeStream.format("memory").queryName("wt_anchor")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    srows = spark.sql("SELECT * FROM wt_anchor").collect()
    assert len(srows) == 1 and srows[0].text == batch[0].text


def test_fixture_writes_sri_marker_last(spark, tmp_path):
    """write_wiretap_folders honors the marker protocol: the offset-
    tracked .sri lands AFTER every sibling rtf, so a stream trigger that
    sees the .sri can never commit a session whose interpretation hasn't
    landed yet (exactly-once would make that loss permanent)."""
    import os as _os

    from owl_n4j_spark.sources.wiretap import write_wiretap_folders

    write_wiretap_folders(spark, SF, str(tmp_path))
    checked = bare = 0
    for folder in _os.scandir(tmp_path / "sessions"):
        files = list(_os.scandir(folder.path))
        sri = [f for f in files if f.name.endswith(".sri")]
        rtfs = [f for f in files if f.name.endswith(".rtf")]
        assert sri, "every session folder must end with its .sri marker"
        if rtfs:
            assert sri[0].stat().st_mtime_ns >= max(
                r.stat().st_mtime_ns for r in rtfs)
            checked += 1
        else:
            # the no-interpretation degenerate class: marker only — the
            # stream commits it with text='', which is correct
            assert int(folder.name) % 41 == 0 and int(folder.name) % 2
            bare += 1
    assert checked > 0 and bare > 0


def test_wiretap_manifest_statuses_and_loud_report(spark, capsys):
    """The S6 reconciliation manifest surfaces every degenerate-session
    class as a counted status row (never a silent empty-text column), and
    the reconcile report warns LOUDLY about undelivered/unusable
    interpretations — the xml path's operational discipline applied to
    wiretaps."""
    from owl_n4j_spark.plans.kg_analytics import (
        q_wiretap_manifest,
        wiretap_reconcile_report,
    )

    rows = {r.status: r for r in q_wiretap_manifest(spark, SF).collect()}
    assert set(rows) == {"ok", "no_interpretation", "no_participants",
                         "no_synopsis"}
    assert rows["ok"].n_sessions > sum(
        r.n_sessions for s, r in rows.items() if s != "ok")
    assert abs(sum(r.pct_of_sessions for r in rows.values()) - 100.0) < 0.01

    got, warnings = wiretap_reconcile_report(spark, SF)
    err = capsys.readouterr().err
    assert len(warnings) == 2
    assert "NO usable interpretation" in err and "no SYNOPSIS" in err


def test_synopsis_rule_cross_engine_adversarial(spark):
    """SYNOPSIS_RE is written to mean the same in Java and Python re; the
    engine evaluates it with Java (regexp_extract) and this test holds
    that to a Python re reference. One generated adversarial corpus
    through both: mid-line mentions, CRLF, leading spaces, multiple claim
    lines, unicode, empty/None — the engines must agree byte-for-byte on
    every case, or the rule extracts a claim its reader would not
    expect."""
    import random
    import re

    from owl_n4j_spark.sources.wiretap import SYNOPSIS_RE

    def synopsis_of(s):
        m = re.compile(SYNOPSIS_RE).search(s or "")
        return m.group(1) if m else ""

    rng = random.Random(411)
    frags = ["SYNOPSIS: ", "SYNOPSIS:", "synopsis: ", " SYNOPSIS: ",
             "re SYNOPSIS: see", "claim A.", "café €", "B\tC",
             "\n", "\r\n", "", "PARTICIPANTS: A AND B", "S: x",
             "SYNOPSIS:  double space", "xSYNOPSIS: tail"]
    corpus = [None, "", "SYNOPSIS: ", "\nSYNOPSIS: at line 2",
              "SYNOPSIS: first\nSYNOPSIS: second"]
    corpus += ["".join(rng.choices(frags, k=rng.randint(1, 8)))
               for _ in range(300)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(corpus)],
                               "i int, interp string")
    got = {r.i: r.x for r in df.select(
        "i", F.coalesce(F.regexp_extract("interp", SYNOPSIS_RE, 1),
                        F.lit("")).alias("x")).collect()}
    for i, s in enumerate(corpus):
        assert got[i] == synopsis_of(s), (i, repr(s), got[i],
                                          synopsis_of(s))


def test_rtf_stripper_never_raises_fuzz():
    """rtf_to_text over adversarial control-word soup: truncated escapes,
    unbalanced groups, nested destinations, orphan hex — must never raise
    and must be deterministic (same input -> same text), because a
    malformed interpretation file is a quarantine case, never a crashed
    ingest task."""
    import random

    from owl_n4j_spark.sources.wiretap import parse_rtf, rtf_to_text

    rng = random.Random(89)
    atoms = ["{", "}", "\\par", "\\'e9", "\\'", "\\'zz", "\\u233?",
             "\\u-100x", "\\u8364", "\\fonttbl", "{\\fonttbl", "\\\\",
             "\\{", "\\}", "text", " ", "\\rtf1", "\\ansi", "é", "\n",
             "{\\*\\gen", "\\x", "\\"]
    for _ in range(500):
        s = "".join(rng.choices(atoms, k=rng.randint(0, 24)))
        a = rtf_to_text(s)
        assert isinstance(a, str) and a == rtf_to_text(s)
        parts, text = parse_rtf(s)
        assert isinstance(parts, str) and isinstance(text, str)


def test_parse_tolerates_vanished_folder_and_elects_sri(tmp_path):
    """Two ingestion-robustness contracts: (a) a session folder that was
    archived between listing and processing parses as a no-interpretation
    session — OSError never escapes into a (streaming) task, where the
    uncommitted offset would make it a permanent poison pill; (b) a
    re-delivered session (two .sri files) elects the filename-MAX .sri
    deterministically, independent of os.scandir order."""
    from owl_n4j_spark.sources.wiretap import (
        parse_session_folder,
        rtf_of_folder,
    )

    gone = str(tmp_path / "never-existed")
    assert rtf_of_folder(gone) == (None, None)
    t = parse_session_folder(gone)
    assert t[0] == "never-existed" and t[1:] == (None,) * 6

    redeliv = tmp_path / "sessions" / "00000009"
    redeliv.mkdir(parents=True)
    (redeliv / "00000009.sri").write_text(
        "input_line_id=210-555-0001\nstart_string=2024-01-01 10:00:00\n")
    (redeliv / "00000009v2.sri").write_text(
        "input_line_id=210-555-0002\nstart_string=2024-02-02 10:00:00\n")
    t = parse_session_folder(str(redeliv))
    assert t[2] == "210-555-0002", "filename-max .sri (re-delivery) wins"


def test_no_synopsis_batch_stream_parity(spark, tmp_path):
    """A session whose interpretation has no SYNOPSIS line yields text=''
    on BOTH ingestion paths — batch and stream must extract identical
    triples for the same session."""
    folder = tmp_path / "sessions" / "00000001"
    folder.mkdir(parents=True)
    (folder / "00000001.sri").write_text(
        "version=2\ninput_line_id=210-555-0000\n"
        "start_string=2024-01-01 10:00:00 CST\nsession_length=60\n")
    (folder / "00000001.syn.rtf").write_text(
        "{\\rtf1\\ansi PARTICIPANTS: A AND B\\par no summary here\\par}")
    batch = wiretap_transcripts(spark, str(tmp_path)).collect()
    assert len(batch) == 1 and batch[0].text == ""

    from owl_n4j_spark.streaming.incremental import read_wiretap_stream
    q = (read_wiretap_stream(spark, str(tmp_path))
         .writeStream.format("memory").queryName("wt_nosyn")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    srows = spark.sql("SELECT * FROM wt_nosyn").collect()
    assert len(srows) == 1 and srows[0].text == ""


def test_rtf_uc_scoping_and_rich_fixture_parity():
    """\\ucN is honored and group-scoped (RTF formatting-state semantics):
    \\uc2 skips two fallback chars (bare, \\'xx or \\{ \\} \\\\ escapes), a
    nested \\uc1 override dies with its group, \\uc0 skips none — and the rich
    Word-authored fixture shape strips to the IDENTICAL text as the plain
    shape, so the exact q_wiretap_ingest oracle covers it."""
    from owl_n4j_spark.sources.wiretap import _render_rtf

    assert rtf_to_text(r"{\rtf1\ansi\uc2 a\u233??b}") == "aéb"
    assert rtf_to_text(r"{\rtf1\ansi\uc2 {\uc1 \u65?x}\u66??y}") == "AxBy"
    assert rtf_to_text(r"{\rtf1\ansi\uc0 \u8364 X}") == "€X"
    # fallbacks may themselves be \'xx escapes — one skip each
    assert rtf_to_text("{\\rtf1\\ansi\\uc2 \\u233\\'e9\\'e9tail}") == "étail"
    # ... or escaped literals \{ \} \\ — one skip each, nothing leaks
    assert rtf_to_text(r"{\rtf1\ansi\uc1\u233\{x}") == "éx"
    assert rtf_to_text(r"{\rtf1\ansi\uc1\u233\\x}") == "éx"
    assert rtf_to_text(r"{\rtf1\ansi\uc2\u233\}\'e9x}") == "éx"

    for with_syn in (True, False):
        plain = parse_rtf(_render_rtf("Alice Smith", "Bob O'Neil",
                                      with_synopsis=with_syn, rich=False))
        rich = parse_rtf(_render_rtf("Alice Smith", "Bob O'Neil",
                                     with_synopsis=with_syn, rich=True))
        assert rich == plain
    # rich fixtures exist at every sf (eid % 7): the oracle parity suite
    # (scripts_dev/check_oracles.py q_wiretap_ingest) therefore covers them


def test_malformed_sri_fields_never_fail_the_read(spark, tmp_path):
    """A .sri whose start_string and session_length do not parse still
    yields its session on every reader: the malformed fields are NULL,
    never a failed job, and the text and role are the same as a
    well-formed session would get."""
    folder = tmp_path / "sessions" / "00000003"
    folder.mkdir(parents=True)
    (folder / "00000003.syn.rtf").write_text(
        "{\\rtf1\\ansi PARTICIPANTS: A AND B\\par "
        "SYNOPSIS: A called B yesterday.\\par}")
    (folder / "00000003.sri").write_text(
        "version=2\ninput_line_id=210-555-0003\n"
        "start_string=garbage\nsession_length=sixty\n")
    from owl_n4j_spark.sources.wiretap import read_wiretap_sessions
    from owl_n4j_spark.streaming.incremental import read_wiretap_stream

    sess = read_wiretap_sessions(spark, str(tmp_path)).collect()
    assert len(sess) == 1
    assert sess[0].time_of_call is None and sess[0].session_length is None
    assert "SYNOPSIS: A called B yesterday." in sess[0].doc_text

    batch = wiretap_transcripts(spark, str(tmp_path)).collect()
    q = (read_wiretap_stream(spark, str(tmp_path))
         .writeStream.format("memory").queryName("wt_malformed")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream = spark.sql("SELECT * FROM wt_malformed").collect()
    for rows in (batch, stream):
        assert len(rows) == 1
        r = rows[0]
        assert r.ts is None
        assert (r.conv_id, r.role, r.text) == (
            "wt-00000003", "210-555-0003", "A called B yesterday.")
