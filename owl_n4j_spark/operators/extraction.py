"""Stage 2-3 — mention detection + relation extraction (deterministic L1).

The reference extracts entities/relationships per chunk with an LLM under a
strict JSON contract (/root/reference/ingestion/scripts/llm_client.py:317-614:
entities {key,type,name,date,amount,location,...} + relationships
{from_key,to_key,type}). This engine replaces the LLM with a deterministic
rule/gazetteer extractor so triple P/R is testable, but keeps the dataflow
shape: one Arrow-batched ``mapInPandas`` pass per transcript partition
emitting a single long-format record table that downstream stages split into
``mentions``, ``candidate triples`` and ``same-as`` signals.

This module holds the extraction contract (grammars, normalizers, output
schema, the relational thread-mention tail) and the per-turn reference loop
(``_extract_turn`` / ``extract_records_stateless`` / ``extract_records``).
The loop is the test oracle only: the one engine that runs, batch and
streaming alike, is the Arrow extractor in ``extraction_vec.py``
(``get_extractor``), asserted record-for-record equal to the loop in
tests/test_extraction_vec.py and tests/test_streaming.py.

All keys minted here are RAW (surface-derived, per the key cascade in
functions/keys.py); entity linking (stage 4) remaps them to canonical keys.
"""

from __future__ import annotations

import re
from datetime import date as _date

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from owl_n4j_spark.functions.keys import (
    normalise_key,
    person_key,
    phone_person_key,
)

# ---------------------------------------------------------------------------
# Patterns (gazetteer + surface grammars — the extraction contract)
# ---------------------------------------------------------------------------

NAME = r"(?:[A-Z][a-z]+|[A-Z]\.) ?[A-Z][a-z]+\d*"
ORG = r"[A-Z][a-z]+ [A-Z][a-z]+\d*(?: (?:Ltd|Inc|LLC|Corp|GmbH))?"
PHONE = (r"(?:\+?\d{7,15}@(?:s\.whatsapp\.net|c\.us)"
         r"|\+\d{7,15}"
         r"|\(\d{3}\) \d{3}-\d{4}"
         r"|\d{3}\.\d{3}\.\d{4})")
EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
AMOUNT = r"(?:\$[\d,]+(?:\.\d{2})?|[\d.]+,\d{2} EUR)"
DATE = r"(?:\d{4}-\d{2}-\d{2}|\d{2}/\d{2}/\d{4}|[A-Z][a-z]+ \d{1,2}, \d{4})"
ACCOUNT = r"ACC-\d{4}"
CITY = r"[A-Z][a-z]+(?: [A-Z][a-z]+)?"

_MONTHS = {m: i + 1 for i, m in enumerate(
    ["January", "February", "March", "April", "May", "June", "July",
     "August", "September", "October", "November", "December"])}

# Relation grammars — each rule: (compiled regex, handler name)
_R_INTRO = re.compile(rf"this is ({NAME})\. Call me at ({PHONE})\.")
_R_PAID = re.compile(rf"^({NAME}) paid ({AMOUNT}) to ({NAME}) on ({DATE})\.")
_R_XFER = re.compile(rf"^({NAME}) transferred ({AMOUNT}) to account ({ACCOUNT})\.")
_R_WORKS = re.compile(rf"^({NAME}) works for ({ORG})\.")
_R_MET = re.compile(rf"^({NAME}) met ({NAME}) in ({CITY})\.")
_R_TRAVEL = re.compile(rf"^({NAME}) traveled to ({CITY}) on ({DATE})\.")
_R_CALLED = re.compile(rf"^({NAME}) called ({NAME}) yesterday\.")
_R_REACH = re.compile(rf"reach ({NAME}) at ({EMAIL})\.")
_R_OWNS = re.compile(rf"^({NAME}) owns account ({ACCOUNT})\.")


def normalize_amount(raw: str | None) -> str | None:
    """EU/US amount string -> US decimal string without $/commas.
    Re-derives /root/reference/ingestion/scripts/neo4j_client.py:19-35
    normalize_amount semantics ("1.500,00" -> "1500.00")."""
    if not raw:
        return None
    s = raw.strip().replace("$", "").replace(" EUR", "").strip()
    if re.fullmatch(r"[\d.]+,\d{1,2}", s):           # EU: 1.500,00
        s = s.replace(".", "").replace(",", ".")
    else:                                             # US: 1,500.00
        s = s.replace(",", "")
    return s or None


def normalize_date(raw: str | None) -> str | None:
    """Any supported surface date -> ISO yyyy-mm-dd (extraction contract:
    llm_client.py prompt requires YYYY-MM-DD)."""
    if not raw:
        return None
    s = raw.strip()
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
        return s
    m = re.fullmatch(r"(\d{2})/(\d{2})/(\d{4})", s)   # DD/MM/YYYY
    if m:
        d, mo, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
        try:
            return _date(y, mo, d).isoformat()
        except ValueError:
            return None
    m = re.fullmatch(r"([A-Z][a-z]+) (\d{1,2}), (\d{4})", s)
    if m and m.group(1) in _MONTHS:
        try:
            return _date(int(m.group(3)), _MONTHS[m.group(1)], int(m.group(2))).isoformat()
        except ValueError:
            return None
    return None


EXTRACTION_SCHEMA = (
    "conv_id string, turn_idx int, kind string, surface string, "
    "mention_key string, mention_type string, subj_key string, pred string, "
    "obj_key string, amount string, date string, ts timestamp"
)

# Records are built as tuples in this fixed column order — the hot loop
# emits ~4 records per turn, and tuple construction is ~3x cheaper than
# per-record dict merging (measured on the bench corpus).
_REC_COLS = ["conv_id", "turn_idx", "kind", "surface", "mention_key",
             "mention_type", "subj_key", "pred", "obj_key", "amount",
             "date", "ts"]


def _mention(conv_id, turn_idx, ts, surface, key, mtype, amount=None, date=None):
    return (conv_id, turn_idx, "mention", surface, key, mtype,
            None, None, None, amount, date, ts)


def _triple(conv_id, turn_idx, ts, s, p, o, amount=None, date=None):
    return (conv_id, turn_idx, "triple", None, None, None,
            s, p, o, amount, date, ts)


def _sameas(conv_id, turn_idx, ts, a, b):
    return (conv_id, turn_idx, "sameas", None, None, None,
            a, "SAME_AS", b, None, None, ts)


def _extract_turn(conv_id, turn_idx, role, text, tool, ts, gazetteer, out):
    """Extract one turn into `out` (list of record tuples). Test oracle:
    not used outside tests (the engine is extraction_vec)."""
    chat_key = f"chat-{conv_id}"
    # -- speaker identity from the role column (the deterministic
    #    Cellebrite-path semantics: every message links its sender;
    #    ref neo4j_writer.py:1579-1662). The role is an identifier OR a
    #    display name — never an app-scoped id — so source_app stays None
    #    (the app-id branch would mis-key "John Smith" as "sms-john-smith").
    spk = person_key(role, name=role)
    if spk:
        out.append(_mention(conv_id, turn_idx, ts, role, spk, "Person"))
        out.append(_triple(conv_id, turn_idx, ts, spk, "SENT_MESSAGE", chat_key))

    if not text:
        return
    txt = text

    m = _R_INTRO.search(txt)
    if m:
        nk = normalise_key(m.group(1))
        pk = person_key(m.group(2))
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), nk, "Person"))
        if pk:
            out.append(_mention(conv_id, turn_idx, ts, m.group(2), pk, "Person"))
            out.append(_sameas(conv_id, turn_idx, ts, nk, pk))
        return

    m = _R_PAID.match(txt)
    if m:
        a, b = normalise_key(m.group(1)), normalise_key(m.group(3))
        amt, dt = normalize_amount(m.group(2)), normalize_date(m.group(4))
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(3), b, "Person"))
        out.append(_triple(conv_id, turn_idx, ts, a, "PAID", b,
                           amount=amt, date=dt))
        return

    m = _R_XFER.match(txt)
    if m:
        a, acc = normalise_key(m.group(1)), normalise_key(m.group(3))
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(3), acc, "Account"))
        out.append(_triple(conv_id, turn_idx, ts, a, "TRANSFERRED_TO", acc,
                           amount=normalize_amount(m.group(2))))
        return

    m = _R_WORKS.match(txt)
    if m:
        a, o = normalise_key(m.group(1)), normalise_key(m.group(2))
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(2), o, "Company"))
        out.append(_triple(conv_id, turn_idx, ts, a, "WORKS_FOR", o))
        return

    m = _R_MET.match(txt)
    if m:
        a, b = normalise_key(m.group(1)), normalise_key(m.group(2))
        city = m.group(3)
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(2), b, "Person"))
        out.append(_triple(conv_id, turn_idx, ts, a, "MET", b))
        if city in gazetteer:
            ck = normalise_key(city)
            out.append(_mention(conv_id, turn_idx, ts, city, ck, "Location"))
            out.append(_triple(conv_id, turn_idx, ts, a, "WAS_AT", ck))
            out.append(_triple(conv_id, turn_idx, ts, b, "WAS_AT", ck))
        return

    m = _R_TRAVEL.match(txt)
    if m:
        a, city = normalise_key(m.group(1)), m.group(2)
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        if city in gazetteer:
            ck = normalise_key(city)
            out.append(_mention(conv_id, turn_idx, ts, city, ck, "Location",
                                date=normalize_date(m.group(3))))
            out.append(_triple(conv_id, turn_idx, ts, a, "TRAVELED_TO", ck,
                               date=normalize_date(m.group(3))))
        return

    m = _R_CALLED.match(txt)
    if m:
        a, b = normalise_key(m.group(1)), normalise_key(m.group(2))
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(2), b, "Person"))
        out.append(_triple(conv_id, turn_idx, ts, a, "CALLED", b))
        return

    m = _R_REACH.search(txt)
    if m:
        nk = normalise_key(m.group(1))
        ek = f"email-{m.group(2).lower()}"
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), nk, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(2), ek, "Person"))
        out.append(_sameas(conv_id, turn_idx, ts, nk, ek))
        return

    m = _R_OWNS.match(txt)
    if m:
        a, acc = normalise_key(m.group(1)), normalise_key(m.group(2))
        out.append(_mention(conv_id, turn_idx, ts, m.group(1), a, "Person"))
        out.append(_mention(conv_id, turn_idx, ts, m.group(2), acc, "Account"))
        out.append(_triple(conv_id, turn_idx, ts, a, "OWNS_ACCOUNT", acc))
        return


def extract_records_stateless(transcripts: DataFrame,
                              gazetteer: list[str] | None = None) -> DataFrame:
    """The stateless per-turn half of extraction as a per-turn Python loop:
    one Arrow-batched ``mapInPandas`` pass, no aggregation. Test oracle for
    ``extraction_vec.extract_records_stateless_vec``; not used outside
    tests."""
    from owl_n4j_spark.synth import CITIES
    gaz = frozenset(gazetteer or CITIES)

    def run(batches):
        for pdf in batches:
            out: list[tuple] = []
            for conv_id, turn_idx, role, text, tool, ts in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["role"], pdf["text"],
                pdf["tool"], pdf["ts"]
            ):
                _extract_turn(conv_id, int(turn_idx),
                              role if isinstance(role, str) else None,
                              text if isinstance(text, str) else None,
                              tool if isinstance(tool, str) else None,
                              ts, gaz, out)
            if out:
                o = pd.DataFrame(out, columns=_REC_COLS)
            else:
                o = pd.DataFrame({c: pd.Series(dtype="object")
                                  for c in _REC_COLS})
            o["turn_idx"] = o["turn_idx"].astype("int32")
            yield o

    return transcripts.mapInPandas(run, schema=EXTRACTION_SCHEMA)


def get_extractor():
    """The extraction engine: ``extraction_vec.extract_records_vec``
    (Arrow-native RE2 extract + columnar record build; 166-181k turns/s at
    local[8] on 1.06M turns vs 150-155k for this module's per-turn loop)."""
    from owl_n4j_spark.operators.extraction_vec import extract_records_vec
    return extract_records_vec


def extract_records(transcripts: DataFrame,
                    gazetteer: list[str] | None = None) -> DataFrame:
    """transcripts -> long-format extraction records, per-turn loop. Test
    oracle for ``extraction_vec.extract_records_vec``; not used outside
    tests.

    Output kinds: ``mention`` (entity occurrences), ``triple`` (candidate
    relationships with RAW keys), ``sameas`` (identity signals feeding
    canonicalization). Plus per-conversation ``Communication`` thread
    mentions derived relationally by ``add_thread_mentions`` (not in
    Python). The Python extractor runs once per turn per action:
    ``add_thread_mentions`` reads its output through one checkpoint.
    """
    recs = extract_records_stateless(transcripts, gazetteer)
    return add_thread_mentions(recs)


def add_thread_mentions(recs: DataFrame) -> DataFrame:
    """Append the per-conversation Communication thread mentions to a
    stateless record stream — pure relational, no Python (ref: chat handler
    neo4j_writer.py:1507-1567). Shared by the batch extractor and the
    incremental path (streamed records + this tail == batch extract_records;
    tested). PARTICIPATED_IN is derived in the pipeline AFTER linking
    (first appearance is defined on the canonical identity, not the raw
    role surface).

    ``recs`` feeds both the pass-through leg and the thread aggregation of
    the union below. A plain union would run the whole record plan — the
    Python extractor included — once per leg, so both legs read ``recs``
    through a lazy localCheckpoint and the extractor runs once per pass.
    Under AQE, defining it runs any shuffle-map job of the record plan at
    once; only the tail after the last shuffle waits for the first action."""
    recs = recs.localCheckpoint(eager=False)
    sent = recs.filter((F.col("kind") == "triple") & (F.col("pred") == "SENT_MESSAGE"))
    threads = (
        sent.groupBy("conv_id", "obj_key")
        .agg(F.min("turn_idx").alias("turn_idx"), F.min("ts").alias("ts"))
        .select(
            "conv_id", "turn_idx", F.lit("mention").alias("kind"),
            F.col("obj_key").alias("surface"),
            F.col("obj_key").alias("mention_key"),
            F.lit("Communication").alias("mention_type"),
            F.lit(None).cast("string").alias("subj_key"),
            F.lit(None).cast("string").alias("pred"),
            F.lit(None).cast("string").alias("obj_key"),
            F.lit(None).cast("string").alias("amount"),
            F.lit(None).cast("string").alias("date"), "ts",
        )
    )
    return recs.unionByName(threads)
