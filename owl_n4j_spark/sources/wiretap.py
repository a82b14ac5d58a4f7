"""Wiretap session-folder ingestion (SURVEY S6 proper).

The reference ingests wiretap recordings from per-session folders, each
holding a ``.sri`` metadata file (key=value lines: line id, start time,
session length, contact id), a prosecutor-interpretation ``.rtf`` (with a
``PARTICIPANTS:`` line), and the audio itself
(/root/reference/ingestion/scripts/audio_processor.py:130-260 parse,
:393-455 composition into one ingestible document). Audio transcription is
a Whisper call the SURVEY scopes out of the engine core (S5 stub); the
folder PARSE + composition is pure deterministic work and lives here.

Spark-first:
- one listing of the case's sessions root fans the folders out to
  executors; the per-folder parse (ini-style .sri lines, a
  destination-aware RTF stripper, the *.syn.rtf-preferred election) runs
  in ONE Arrow ``mapInPandas`` emitting raw field strings;
- normalization (timestamp parse, int casts) happens in column
  expressions, never in the Python worker (``parse_sessions``, shared by
  the batch reader and the landing-folder stream);
- the composed session rows feed the SAME transcripts contract as every
  other source, so wiretaps flow through the one
  normalize → extract → link → materialize pipeline.

The generator renders 'view' events ("A called B yesterday.") as wiretap
folders, so the whole parse has an exact relational oracle.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from owl_n4j_spark.localrel import local_df

_DESTINATIONS = re.compile(r"\{\\(?:fonttbl|colortbl|stylesheet|info|\*)")
_CTRL = re.compile(r"\\([a-z]+)(-?\d+)? ?")


def rtf_to_text(s: str) -> str:
    """Minimal deterministic RTF -> text (the striprtf contract the
    reference relies on, audio_processor.py:186-210): drops destination
    groups (font/color tables, \\* extensions) with nesting awareness,
    converts \\par to newline, decodes \\'xx 8-bit escapes (cp1252, the
    \\ansi default) and \\uN unicode escapes (the \\ucN fallback count is
    honored and GROUP-SCOPED, saved/restored on braces like any RTF
    formatting state — a Word \\uc2 document must not leak stray fallback
    chars, and a nested \\uc1 override must not survive its group),
    unescapes \\{ \\} \\\\, strips every other control word, and trims
    blank lines — so a Word-authored interpretation with accented names
    survives extraction instead of degrading to quote-garbage."""
    out: list[str] = []
    i, n = 0, len(s)
    depth = 0
    skip_depth = 0          # >0: inside a destination group at that depth
    uc_stack = [1]          # \ucN per open group (RTF 1.9 §unicode): the
    #                         count of ANSI fallback chars after each \uN
    while i < n:
        c = s[i]
        if c == "{":
            depth += 1
            uc_stack.append(uc_stack[-1])
            if not skip_depth and _DESTINATIONS.match(s, i):
                skip_depth = depth
            i += 1
        elif c == "}":
            if skip_depth == depth:
                skip_depth = 0
            depth -= 1
            if len(uc_stack) > 1:
                uc_stack.pop()
            i += 1
        elif c == "\\":
            if i + 1 < n and s[i + 1] == "'":
                code = s[i + 2:i + 4]
                if not skip_depth and len(code) == 2:
                    try:
                        out.append(bytes([int(code, 16)])
                                   .decode("cp1252", "replace"))
                    except ValueError:
                        pass
                i += 4
                continue
            m = _CTRL.match(s, i)
            if m:
                word, num = m.group(1), m.group(2)
                i = m.end()
                if word == "par" and not skip_depth:
                    out.append("\n")
                elif word == "uc" and num is not None:
                    uc_stack[-1] = max(int(num), 0)
                elif word == "u" and num is not None:
                    cp = int(num)
                    if not skip_depth:
                        out.append(chr(cp + 65536 if cp < 0 else cp))
                    # skip the current group's \ucN fallback chars — a
                    # fallback may itself be a \'xx escape (one char each).
                    # Group structure WINS over the fallback count: on RTF
                    # that supplies fewer fallback chars than \ucN before a
                    # group delimiter (spec-violating, seen in the wild),
                    # consuming a structural brace or a control word would
                    # desync depth/uc_stack and extend a destination skip
                    # over visible text — so stop at any unescaped brace or
                    # control word. An escaped literal (\{ \} \\) is one
                    # fallback char, like a \'xx escape.
                    for _ in range(uc_stack[-1]):
                        if i >= n or s[i] in "{}":
                            break
                        if s.startswith("\\'", i):
                            i += 4
                        elif s[i:i + 2] in ("\\{", "\\}", "\\\\"):
                            i += 2
                        elif s[i] == "\\":
                            break
                        else:
                            i += 1
            else:               # escaped literal: \{ \} \\
                if i + 1 < n and not skip_depth:
                    out.append(s[i + 1])
                i += 2
        else:
            if not skip_depth and c not in "\r\n":
                out.append(c)
            i += 1
    return "\n".join(ln.strip() for ln in "".join(out).split("\n")
                     if ln.strip())


_PARTICIPANTS = re.compile(r"PARTICIPANTS:\s*(.+?)(?:\n|$)", re.I)
_PART_SPLIT = re.compile(r"\s+(?:AND|AKA)\s+|\s*,\s*", re.I)

# The ONE synopsis rule, applied by ``transcripts_from_sessions`` through
# regexp_extract for the batch and streaming readers alike: the claim
# line is a line STARTING with "SYNOPSIS: ", never a mid-line mention,
# and the first (leftmost) such line wins. Deliberately NO (?m)^ and NO
# dot: Java counts \r, NEL (U+0085) and the unicode line/paragraph
# separators (U+2028/U+2029) as line terminators for both, while Python
# counts only \n — so the multiline idiom would mean something different
# to a Python reader of the rule than to the engine that runs it.
# Explicit terminator classes + a string-start alternative parse
# identically in java.util.regex and Python re on every input (the
# adversarial cross-engine test holds the JVM to a Python reference). The
# \uXXXX escapes stay literal in this raw string — both engines resolve
# them in-pattern.
_LINE_TERM = r"\n\r\u0085\u2028\u2029"
SYNOPSIS_RE = rf"(?:^|[{_LINE_TERM}])SYNOPSIS: ([^{_LINE_TERM}]*)"


def parse_rtf(raw: str) -> tuple[str, str]:
    """-> (participants comma-joined, full stripped interpretation text) —
    the reference's PARTICIPANTS-line extraction (audio_processor.py:
    211-231) over the stripped text."""
    text = rtf_to_text(raw)
    parts: list[str] = []
    m = _PARTICIPANTS.search(text)
    if m:
        parts = [p.strip() for p in _PART_SPLIT.split(m.group(1))
                 if p.strip()]
    return ",".join(parts), text


def parse_sri(raw: str) -> dict:
    """.sri key=value lines -> dict (audio_processor.py:130-185). Raw
    strings only — type normalization is the caller's column expressions."""
    out = {}
    for line in raw.splitlines():
        k, sep, v = line.partition("=")
        if sep:
            out[k.strip()] = v.strip()
    return out


def _parse_best_rtf(rtfs: list[str]) -> tuple[str | None, str | None]:
    """Deterministic rtf election + parse: *.syn.* beats decoys, filename
    max breaks ties, exactly one rtf pays the strip pass. (None, None)
    when there is none or it vanished before the open (OSError)."""
    best = max(rtfs, key=lambda p: (
        2 if ".syn." in os.path.basename(p).lower() else 1, p),
        default=None)
    if best is None:
        return None, None
    try:
        with open(best, encoding="utf-8", errors="ignore") as f:
            return parse_rtf(f.read())
    except OSError:
        return None, None


def rtf_of_folder(folder_path: str) -> tuple[str | None, str | None]:
    """Elect and parse ONE rtf from a session folder -> (participants,
    interpretation), (None, None) when the folder holds none — or has
    vanished/become unreadable (OSError-tolerant: an archived-mid-batch
    folder is a no-interpretation session, never a crashed task that
    poisons a streaming micro-batch forever)."""
    try:
        rtfs = [e.path for e in os.scandir(folder_path)
                if e.name.lower().endswith(".rtf")]
    except OSError:
        return None, None
    return _parse_best_rtf(rtfs)


_SESSION_COLS = ["folder_name", "start_string", "line_id", "contact_id",
                 "session_length", "participants", "interpretation"]
_SESSION_SCHEMA = ", ".join(f"{c} string" for c in _SESSION_COLS)


def session_tuple(folder_path: str, meta: dict, participants: str | None,
                  interpretation: str | None) -> tuple:
    """The raw session row (``_SESSION_SCHEMA``) of one folder, from its
    parsed .sri fields and its elected rtf — the one row shape the batch
    and streaming readers emit. Raw strings only; ``parse_sessions`` types
    them."""
    return (os.path.basename(folder_path),
            meta.get("start_string"),
            meta.get("input_line_id"),
            meta.get("contact_id"),
            meta.get("session_length"), participants, interpretation)


def parse_session_folder(folder_path: str) -> tuple:
    """ONE session folder -> the raw session tuple (``session_tuple``).

    This is the batch reader's per-folder parse. The streaming reader
    builds the same tuple from ``parse_sri`` of the offset-tracked .sri's
    streamed bytes and ``rtf_of_folder``, and both readers run through
    ``parse_sessions``, so batch/stream parity is structural: one
    rtf-preference rule, one .sri field set, one stripper, one typed
    column step. Multi-.sri folders (a re-delivered session dropping
    0001v2.sri next to 0001.sri) elect the filename-MAX .sri — latest
    re-delivery wins, deterministically, independent of os.scandir order.
    OSError-tolerant like ``rtf_of_folder``. Folder-local I/O only;
    nothing here touches Spark."""
    meta: dict = {}
    sris: list[str] = []
    rtfs: list[str] = []
    try:
        # ONE directory listing feeds both elections — this loop runs
        # once per session in the hottest ingest path
        for e in os.scandir(folder_path):
            name = e.name.lower()
            if name.endswith(".sri"):
                sris.append(e.path)
            elif name.endswith(".rtf"):
                rtfs.append(e.path)
        if sris:
            with open(max(sris), encoding="utf-8", errors="ignore") as f:
                meta = parse_sri(f.read())
    except OSError:
        pass
    return session_tuple(folder_path, meta, *_parse_best_rtf(rtfs))


def _fmt_line_id(digits: str) -> str:
    """NANP lines render the reference's 210-237-1858 style; non-NANP
    lines keep their country code ('+50370000039') so the key cascade
    resolves every line id to its canonical E.164 phone key."""
    if digits.startswith("1") and len(digits) == 11:
        d10 = digits[-10:]
        return f"{d10[:3]}-{d10[3:6]}-{d10[6:]}"
    return f"+{digits}"


def _rtf_escape(t: str) -> str:
    return (t.replace("\\", "\\\\").replace("{", "\\{").replace("}", "\\}"))


def _render_rtf(a: str, b: str, with_synopsis: bool, rich: bool) -> str:
    """Render one interpretation rtf. ``rich=False`` is the minimal
    single-font shape; ``rich=True`` is the Word-authored shape real
    transcribers deliver — nested formatting groups, a \\uc2 fallback
    default with \\uN escapes (and a nested \\uc1 override that must not
    leak out of its group), mid-text \\'xx hex escapes, colortbl/
    stylesheet/generator/info destinations — all of which must strip to
    the IDENTICAL text as the plain shape, so q_wiretap_ingest's exact
    oracle covers the stripper's documented contract, not just its happy
    path."""
    ea, eb = _rtf_escape(a), _rtf_escape(b)
    if not rich:
        syn = f"SYNOPSIS: {ea} called {eb} yesterday.\\par\n"
        return ("{\\rtf1\\ansi\\deff0\n"
                "{\\fonttbl{\\f0\\fnil Times New Roman;}}\n"
                f"\\f0\\fs24 PARTICIPANTS: {ea} AND {eb}\\par\n"
                + (syn if with_synopsis else "") + "}")
    # rich: first char of A rides a \uN escape inside a {\uc1 ...} group;
    # the SYNOPSIS keyword itself carries a \uc2-governed \u89?? ('Y') and
    # the trailing 'y' of 'yesterday' a \u121?? — if \ucN scoping is wrong
    # either stray '?' fallbacks leak into the claim or name chars vanish,
    # and the exact oracle catches both.
    a_esc = f"{{\\uc1 \\u{ord(a[0])}?{_rtf_escape(a[1:])}}}"
    syn = (f"{{\\i S\\u89??NOPSIS:}} {a_esc} called {eb} "
           "yesterda\\u121??.\\par\n")
    return (
        "{\\rtf1\\ansi\\ansicpg1252\\uc2\\deff0\n"
        "{\\fonttbl{\\f0\\fswiss Calibri;}{\\f1\\fnil Arial;}}\n"
        "{\\colortbl ;\\red0\\green0\\blue0;\\red192\\green0\\blue0;}\n"
        "{\\stylesheet{\\s0\\f0 Normal;}}\n"
        "{\\*\\generator TranscriberPro 9.1.4422}\n"
        "{\\info{\\author unit-7}{\\operator det. example}}\n"
        f"\\f0\\fs22\\cf1 {{\\b P\\'41RTICIPANTS:}} {ea} \\'41ND "
        f"{eb}\\par\n"
        + (syn if with_synopsis else "") + "}")


def write_wiretap_folders(spark: SparkSession, sf_dir: str,
                          out_dir: str) -> str:
    """Render every 'view' event as one wiretap session folder:
    <out>/sessions/<event_id %08d>/{<id>.sri, <id>.syn.rtf}. Every 10th
    session also gets a decoy notes.rtf the parser must NOT prefer over
    the syn interpretation, and every 7th ships the rich Word-authored
    rtf markup (_render_rtf) that must strip to the identical text.
    Fixture scaffolding — counts, metadata, and
    text are all relationally derivable from events + the person map.

    DEGENERATE SESSIONS (deterministic, so the reconciliation manifest has
    an exact oracle — the same real-world classes
    audio_processor.py:130-260 tolerates):
    - eid % 41 == 0: the transcriber never delivered — NO .syn.rtf. Half
      of those (even eid) still carry the decoy notes.rtf, so the parser's
      fallback-to-any-rtf path is exercised (status no_participants);
      odd eid folders have no rtf at all (status no_interpretation).
    - eid % 89 == 0 (and not % 41): interpretation delivered WITHOUT a
      SYNOPSIS claim line (status no_synopsis — parsed fine, nothing
      extractable).
    Every degenerate class is present at sf0.001 and up.

    WRITE ORDER CONTRACT: the .sri is written LAST (rtf files first) —
    the standard marker-file protocol. ``read_wiretap_stream`` offset-
    tracks .sri arrival and reads the sibling rtfs at process time; a
    producer that wrote the marker first could have its session committed
    (exactly-once!) before the interpretation landed, silently losing the
    session's triples forever. With the marker last, .sri arrival means
    the folder is complete; an .sri-only folder genuinely has no
    interpretation (the reference allows that) and text='' is correct."""
    import pandas as pd

    from owl_n4j_spark.sources.events_transcripts import persons_df

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("event_type") == "view")
          .select("event_id", "ts", "user_id"))
    pers = persons_df(spark).toPandas().set_index("idx")
    root = os.path.join(out_dir, "sessions")
    os.makedirs(root, exist_ok=True)

    # Folder rendering is embarrassingly parallel (each session's bytes
    # depend only on its own event row + the small person dim, shipped in
    # the closure), so it runs as a distributed map — the serial driver
    # loop this replaces was the bench's slowest fixture leg (one core
    # formatting and fsyncing 20k folders while 31 idled). Per-folder
    # content and write order (rtf files first, .sri marker LAST) are
    # unchanged; tasks never share a folder, so parallelism cannot
    # reorder anything the write-order contract cares about.
    def write_batch(batches):
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                eid = int(r.event_id)
                uid = int(r.user_id)
                a, b = pers.loc[uid], pers.loc[uid + 1]
                folder = os.path.join(root, f"{eid:08d}")
                os.makedirs(folder, exist_ok=True)
                start = r.ts.strftime("%Y-%m-%d %H:%M:%S")
                sri = (
                    "version=2\n"
                    f"input_line_id={_fmt_line_id(a.jid.split('@')[0])}\n"
                    f"start_string={start} CST\n"
                    f"session_length={eid % 900 + 30}\n"
                    "time_zone=CST\n"
                    f"contact_id=FMI={eid % 1000},{eid * 7 % 1000},"
                    f"{eid * 13 % 10000}\n")
                # every 7th session ships the Word-authored rich-markup
                # shape (nested groups, \uc2/\uN, hex escapes) — strips
                # to the SAME text
                rtf = _render_rtf(a.full_name, b.full_name,
                                  with_synopsis=eid % 89 != 0,
                                  rich=eid % 7 == 0)
                skip_syn = eid % 41 == 0   # transcriber never delivered
                if not skip_syn:
                    with open(os.path.join(folder, f"{eid:08d}.syn.rtf"),
                              "w") as f:
                        f.write(rtf)
                if eid % 10 == 0 or (skip_syn and eid % 2 == 0):
                    with open(os.path.join(folder, "notes.rtf"), "w") as f:
                        f.write("{\\rtf1\\ansi DRAFT - do not use\\par}")
                # marker LAST — see the write-order contract above
                with open(os.path.join(folder, f"{eid:08d}.sri"), "w") as f:
                    f.write(sri)
                n += 1
        yield pd.DataFrame({"n": [n]})

    (ev.repartition(spark.sparkContext.defaultParallelism * 2)
     .mapInPandas(write_batch, "n long")
     .agg(F.sum("n")).collect())
    return out_dir


def parse_sessions(df: DataFrame, parse_row, *cols: str) -> DataFrame:
    """The session parse of both readers: ``parse_row(*values of cols)``
    -> the raw ``session_tuple`` of each row of ``df``, in ONE Arrow
    ``mapInPandas``, then typed by column expressions -> (folder_name,
    time_of_call timestamp, line_id, contact_id, session_length int,
    participants, interpretation, doc_text).

    Typing is never done in the Python worker and never fails the read: a
    malformed ``start_string`` or ``session_length`` becomes NULL
    (``try_to_timestamp``/``try_cast``) and the session's text survives.

    doc_text is the composed ingest document
    (audio_processor.prepare_wiretap_for_ingestion:393-455): header with
    metadata, participants block, interpretation — the text handed to
    extraction."""
    import pandas as pd

    def parse(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [parse_row(*r) for r in zip(*(pdf[c] for c in cols))],
                columns=_SESSION_COLS)

    sess = df.mapInPandas(parse, _SESSION_SCHEMA).select(
        "folder_name",
        # "YYYY-MM-DD HH:MM:SS CST" -> timestamp (tz label is sliced off;
        # the reference parses naive local the same way,
        # audio_processor.py:158-166)
        F.try_to_timestamp(F.substring("start_string", 1, 19),
                           F.lit("yyyy-MM-dd HH:mm:ss")).alias("time_of_call"),
        "line_id", "contact_id",
        F.col("session_length").try_cast("int").alias("session_length"),
        "participants", "interpretation")
    doc_text = F.concat_ws(
        "\n",
        F.lit("=== WIRETAP RECORDING ==="),
        F.concat(F.lit("Folder: "), F.col("folder_name")),
        F.concat(F.lit("Input Line ID: "), F.col("line_id")),
        F.concat(F.lit("Session Length: "),
                 F.col("session_length").cast("string"),
                 F.lit(" seconds")),
        F.lit("=== PARTICIPANTS ==="),
        F.regexp_replace(F.col("participants"), ",", "\n"),
        F.lit("=== PROSECUTOR INTERPRETATION ==="),
        F.col("interpretation"))
    return sess.withColumn("doc_text", doc_text)


def read_wiretap_sessions(spark: SparkSession, case_dir: str) -> DataFrame:
    """Case directory -> one row per wiretap session, the
    ``parse_sessions`` columns.

    PARALLEL UNIT = the session FOLDER (exactly the reference's
    process_wiretap_folder granularity, audio_processor.py:253-260): one
    top-level directory listing fans the folder paths out across
    executors, and each task scans + parses ITS folders' few small files
    locally, emitting the composed session row directly — zero shuffle,
    no per-session metadata ever crosses the wire. A recursive binaryFile
    scan here is the wrong shape: a 20k-session case means a 20k-directory
    recursive listing serialized on the driver (measured 18 s at sf0.1,
    and re-paid per reader), where one scandir of the sessions root is
    milliseconds and the per-folder I/O rides the distributed map. The
    *.syn.rtf-over-decoy preference resolves inside the task, so no
    groupBy is needed either."""
    root = os.path.join(case_dir, "sessions")

    # ONE listing of the sessions root; folder names only (a 1M-session
    # case is ~tens of MB of names — fine to fan out). A case with no
    # sessions yet (or no sessions/ dir at all) is an empty result, not a
    # crash.
    folders = (sorted(e.path for e in os.scandir(root) if e.is_dir())
               if os.path.isdir(root) else [])
    n_slices = min(max(len(folders) // 64, 1),
                   spark.sparkContext.defaultParallelism * 4)
    fdf = local_df(
        spark, [(p,) for p in folders],
        "folder_path string").repartition(n_slices)
    return parse_sessions(fdf, parse_session_folder, "folder_path")


def wiretap_transcripts(spark: SparkSession, case_dir: str) -> DataFrame:
    """Wiretap sessions -> the transcripts contract (conv_id, turn_idx,
    role, text, tool, ts), so wiretap evidence flows through the exact
    same pipeline as chats/XML dumps (the reference likewise converges on
    one ingest document shape before extraction)."""
    return transcripts_from_sessions(read_wiretap_sessions(spark, case_dir))


def transcripts_from_sessions(s: DataFrame) -> DataFrame:
    """Transcripts contract over ALREADY-PARSED session rows: the one
    transcript build of the batch reader, the streaming reader
    (streaming.incremental.read_wiretap_stream) and callers holding a
    cached/warehoused parse (plans.kg_analytics._wiretap_sessions), which
    skip re-scanning the case folders."""
    return s.select(
        F.concat(F.lit("wt-"), F.col("folder_name")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.col("line_id").alias("role"),
        # the extractable claim line of the interpretation — SYNOPSIS_RE.
        # Coalesce: a no-rtf session has interpretation NULL, and
        # extraction gets '' for it, like any session without a claim.
        F.coalesce(
            F.regexp_extract("interpretation", SYNOPSIS_RE, 1),
            F.lit("")).alias("text"),
        F.lit("Wiretap").alias("tool"),
        F.col("time_of_call").alias("ts"))
