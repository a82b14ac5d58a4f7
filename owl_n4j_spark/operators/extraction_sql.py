"""Stage 2-3, JVM-only variant: mention/relation extraction as pure column
expressions (regexp_extract + when-chains) — zero Python in the hot path.

Same contract as operators/extraction.py (the Arrow/pandas reference
implementation): identical record schema, identical rule grammar and
precedence, identical key cascade — asserted EQUAL on both corpora by
tests/test_extraction_sql.py. The pandas path stays the reference (and the
extension point for non-regular extractors); this path is the throughput
engine: every leg lives inside whole-stage codegen, so extraction scales
with cores without Python-worker cost (SCALE.md "first optimization").

Layout: one filtered select per grammar rule ("leg"), all legs unioned.
Precedence (intro > paid > xfer > works > met > travel > called > reach >
owns, mirroring _extract_turn's early returns) is enforced by a `rule`
column computed once with a when-chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from owl_n4j_spark.functions.keys import _CC_LENGTHS, normalise_key_col
from owl_n4j_spark.operators.extraction import (
    ACCOUNT,
    AMOUNT,
    CITY,
    DATE,
    EMAIL,
    NAME,
    ORG,
    PHONE,
    add_thread_mentions,
)

# ---------------------------------------------------------------------------
# Key cascade as column expressions (mirrors functions/keys.py exactly)
# ---------------------------------------------------------------------------

_NANP_RE = r"[2-9]\d{2}[2-9]\d{6}"


def _valid_e164_digits(d: Column) -> Column:
    """digits (no '+') -> True iff the Python validator accepts them."""
    cond = F.lit(False)
    # longest-prefix-first, same as keys._CC_ORDER
    for cc in sorted(_CC_LENGTHS, key=len, reverse=True):
        lengths = _CC_LENGTHS[cc]
        nat = F.substring(d, len(cc) + 1, 32)
        ok_len = F.length(d).isin(*[len(cc) + n for n in lengths])
        ok = d.startswith(cc) & ok_len
        if cc == "1":
            ok = ok & nat.rlike(rf"^{_NANP_RE}$")
        cond = cond | ok
    return cond


def normalise_phone_col(raw: Column) -> Column:
    """E.164 or null — column mirror of keys.normalise_phone (US default)."""
    s = F.trim(raw)
    s = F.when(s.rlike("[a-zA-Z]"), F.lit(None)).otherwise(s)
    s = F.regexp_replace(s, r"[\s().\-]", "")
    s = F.when(s.startswith("00"), F.concat(F.lit("+"), F.substring(s, 3, 32))) \
         .otherwise(s)
    digits = F.substring(s, 2, 32)
    return (
        F.when(s.startswith("+") & digits.rlike(r"^\d+$")
               & _valid_e164_digits(digits), F.concat(F.lit("+"), digits))
        .when(s.rlike(rf"^{_NANP_RE}$"), F.concat(F.lit("+1"), s))
        .when(s.rlike(rf"^1{_NANP_RE}$"), F.concat(F.lit("+"), s))
        .otherwise(F.lit(None))
    )


_JID = r"^\+?(\d{7,15})@(?:s\.whatsapp\.net|c\.us)$"
_CHAT_DOMAIN = r"@(?:s\.whatsapp\.net|c\.us|g\.us)$"


def person_key_col(identifier: Column, name: Column) -> Column:
    """Column mirror of keys.person_key(identifier, name=name) with no
    source_app (the transcript-role call shape)."""
    jid_digits = F.regexp_extract(F.trim(identifier), _JID, 1)
    jid_phone = normalise_phone_col(F.concat(F.lit("+"), jid_digits))
    direct_phone = normalise_phone_col(identifier)
    nk = normalise_key_col(name)
    return (
        F.when((jid_digits != "") & jid_phone.isNotNull(),
               F.concat(F.lit("phone-"), F.substring(jid_phone, 2, 32)))
        .when(direct_phone.isNotNull(),
              F.concat(F.lit("phone-"), F.substring(direct_phone, 2, 32)))
        .when(identifier.contains("@") & identifier.contains(".")
              & ~identifier.rlike(_CHAT_DOMAIN),
              F.concat(F.lit("email-"), F.lower(F.trim(identifier))))
        .when(nk != "", nk)
        .otherwise(F.lit(None))
    )


# ---------------------------------------------------------------------------
# Amount / date normalization as column expressions
# ---------------------------------------------------------------------------


def normalize_amount_col(raw: Column) -> Column:
    s = F.trim(F.regexp_replace(F.regexp_replace(raw, r"\$", ""), " EUR", ""))
    eu = F.regexp_replace(F.regexp_replace(s, r"\.", ""), ",", ".")
    us = F.regexp_replace(s, ",", "")
    out = F.when(s.rlike(r"^[\d.]+,\d{1,2}$"), eu).otherwise(us)
    return F.when(raw.isNull() | (out == ""), F.lit(None)).otherwise(out)


def normalize_date_col(raw: Column) -> Column:
    return (
        F.when(raw.isNull(), F.lit(None).cast("date"))
        .when(raw.rlike(r"^\d{4}-\d{2}-\d{2}$"),
              F.try_to_timestamp(raw, F.lit("yyyy-MM-dd")).cast("date"))
        .when(raw.rlike(r"^\d{2}/\d{2}/\d{4}$"),
              F.try_to_timestamp(raw, F.lit("dd/MM/yyyy")).cast("date"))
        .when(raw.rlike(r"^[A-Z][a-z]+ \d{1,2}, \d{4}$"),
              F.try_to_timestamp(raw, F.lit("MMMM d, yyyy")).cast("date"))
        .otherwise(F.lit(None).cast("date"))
    ).cast("string")


# ---------------------------------------------------------------------------
# Rule grammar (same regexes, re-anchored for regexp_extract semantics)
# ---------------------------------------------------------------------------

_R = {
    # search-style rules (match anywhere)
    "intro": rf"this is ({NAME})\. Call me at ({PHONE})\.",
    "reach": rf"reach ({NAME}) at ({EMAIL})\.",
    # match-style rules (anchored at start, as re.match does)
    "paid": rf"^({NAME}) paid ({AMOUNT}) to ({NAME}) on ({DATE})\.",
    "xfer": rf"^({NAME}) transferred ({AMOUNT}) to account ({ACCOUNT})\.",
    "works": rf"^({NAME}) works for ({ORG})\.",
    "met": rf"^({NAME}) met ({NAME}) in ({CITY})\.",
    "travel": rf"^({NAME}) traveled to ({CITY}) on ({DATE})\.",
    "called": rf"^({NAME}) called ({NAME}) yesterday\.",
    "owns": rf"^({NAME}) owns account ({ACCOUNT})\.",
}
# evaluation order = _extract_turn precedence
_ORDER = ["intro", "paid", "xfer", "works", "met", "travel", "called",
          "reach", "owns"]

def _nulls() -> dict:
    # built lazily: Column construction needs an active SparkContext, so no
    # F.lit at import time (see verify-skill gotcha)
    return {k: F.lit(None).cast("string")
            for k in ("surface", "mention_key", "mention_type", "subj_key",
                      "pred", "obj_key", "amount", "date")}

_COLS = ["conv_id", "turn_idx", "kind", "surface", "mention_key",
         "mention_type", "subj_key", "pred", "obj_key", "amount", "date", "ts"]


def _emit(base: DataFrame, kind: str, **cols: Column) -> DataFrame:
    sel = {**_nulls(), **cols}
    return base.select(
        "conv_id", "turn_idx", F.lit(kind).alias("kind"),
        sel["surface"].alias("surface"),
        sel["mention_key"].alias("mention_key"),
        sel["mention_type"].alias("mention_type"),
        sel["subj_key"].alias("subj_key"), sel["pred"].alias("pred"),
        sel["obj_key"].alias("obj_key"), sel["amount"].alias("amount"),
        sel["date"].alias("date"), "ts",
    )


def extract_records_sql(transcripts: DataFrame,
                        gazetteer: list[str] | None = None) -> DataFrame:
    """transcripts -> extraction records, all-JVM. Contract-equal to
    extraction.extract_records (tested); includes the relational thread
    mentions exactly as the pandas path does."""
    from owl_n4j_spark.synth import CITIES
    gaz = list(gazetteer or CITIES)
    gaz_arr = F.array(*[F.lit(c) for c in gaz])

    rule = F.lit(None).cast("string")
    for name in reversed(_ORDER):
        rule = F.when(F.col("text").rlike(_R[name]), F.lit(name)).otherwise(rule)

    # Precompute EVERY capture group once, guarded by the rule column, into
    # the (checkpointed) base table: per row the total regex work is the
    # rule-detection rlike chain plus the matched rule's groups. Without
    # this, every leg's projections re-evaluate regexp_extract per output
    # column (measured 2x slower than the Arrow/pandas path; with it the
    # legs read plain materialized columns).
    n_groups = {"intro": 2, "paid": 4, "xfer": 3, "works": 2, "met": 3,
                "travel": 3, "called": 2, "reach": 2, "owns": 2}
    t = (
        transcripts
        .withColumn("__rule", rule)
        .withColumn("__spk", person_key_col(F.col("role"), F.col("role")))
        .withColumn("__chat", F.concat(F.lit("chat-"), F.col("conv_id")))
    )
    for rname, ng in n_groups.items():
        for i in range(1, ng + 1):
            t = t.withColumn(
                f"__{rname}_{i}",
                F.when(F.col("__rule") == rname,
                       F.regexp_extract(F.col("text"), _R[rname], i)))
    t = t.localCheckpoint(eager=False)

    legs: list[DataFrame] = []

    # speaker mention + SENT_MESSAGE (every turn with a resolvable role)
    spk = t.filter(F.col("__spk").isNotNull())
    legs.append(_emit(spk, "mention", surface=F.col("role"),
                      mention_key=F.col("__spk"),
                      mention_type=F.lit("Person")))
    legs.append(_emit(spk, "triple", subj_key=F.col("__spk"),
                      pred=F.lit("SENT_MESSAGE"), obj_key=F.col("__chat")))

    def g(rname: str, i: int) -> Column:
        return F.col(f"__{rname}_{i}")

    # intro: name mention always; phone mention + sameas only if key valid
    intro = t.filter(F.col("__rule") == "intro")
    nk = normalise_key_col(g("intro", 1))
    pk = person_key_col(g("intro", 2), g("intro", 2))
    legs.append(_emit(intro, "mention", surface=g("intro", 1),
                      mention_key=nk, mention_type=F.lit("Person")))
    intro_pk = intro.filter(pk.isNotNull())
    legs.append(_emit(intro_pk, "mention", surface=g("intro", 2),
                      mention_key=pk, mention_type=F.lit("Person")))
    legs.append(_emit(intro_pk, "sameas", subj_key=nk,
                      pred=F.lit("SAME_AS"), obj_key=pk))

    # paid
    paid = t.filter(F.col("__rule") == "paid")
    a, b = normalise_key_col(g("paid", 1)), normalise_key_col(g("paid", 3))
    legs.append(_emit(paid, "mention", surface=g("paid", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    legs.append(_emit(paid, "mention", surface=g("paid", 3),
                      mention_key=b, mention_type=F.lit("Person")))
    legs.append(_emit(paid, "triple", subj_key=a, pred=F.lit("PAID"),
                      obj_key=b, amount=normalize_amount_col(g("paid", 2)),
                      date=normalize_date_col(g("paid", 4))))

    # transferred to account
    xfer = t.filter(F.col("__rule") == "xfer")
    a = normalise_key_col(g("xfer", 1))
    acc = normalise_key_col(g("xfer", 3))
    legs.append(_emit(xfer, "mention", surface=g("xfer", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    legs.append(_emit(xfer, "mention", surface=g("xfer", 3),
                      mention_key=acc, mention_type=F.lit("Account")))
    legs.append(_emit(xfer, "triple", subj_key=a,
                      pred=F.lit("TRANSFERRED_TO"), obj_key=acc,
                      amount=normalize_amount_col(g("xfer", 2))))

    # works for
    works = t.filter(F.col("__rule") == "works")
    a = normalise_key_col(g("works", 1))
    o = normalise_key_col(g("works", 2))
    legs.append(_emit(works, "mention", surface=g("works", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    legs.append(_emit(works, "mention", surface=g("works", 2),
                      mention_key=o, mention_type=F.lit("Company")))
    legs.append(_emit(works, "triple", subj_key=a, pred=F.lit("WORKS_FOR"),
                      obj_key=o))

    # met (city legs gated on gazetteer membership)
    met = t.filter(F.col("__rule") == "met")
    a, b = normalise_key_col(g("met", 1)), normalise_key_col(g("met", 2))
    city = g("met", 3)
    ck = normalise_key_col(city)
    legs.append(_emit(met, "mention", surface=g("met", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    legs.append(_emit(met, "mention", surface=g("met", 2),
                      mention_key=b, mention_type=F.lit("Person")))
    legs.append(_emit(met, "triple", subj_key=a, pred=F.lit("MET"), obj_key=b))
    met_city = met.filter(F.array_contains(gaz_arr, city))
    legs.append(_emit(met_city, "mention", surface=city, mention_key=ck,
                      mention_type=F.lit("Location")))
    legs.append(_emit(met_city, "triple", subj_key=a, pred=F.lit("WAS_AT"),
                      obj_key=ck))
    legs.append(_emit(met_city, "triple", subj_key=b, pred=F.lit("WAS_AT"),
                      obj_key=ck))

    # traveled to
    trav = t.filter(F.col("__rule") == "travel")
    a = normalise_key_col(g("travel", 1))
    city = g("travel", 2)
    ck = normalise_key_col(city)
    dt = normalize_date_col(g("travel", 3))
    legs.append(_emit(trav, "mention", surface=g("travel", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    trav_city = trav.filter(F.array_contains(gaz_arr, city))
    legs.append(_emit(trav_city, "mention", surface=city, mention_key=ck,
                      mention_type=F.lit("Location"), date=dt))
    legs.append(_emit(trav_city, "triple", subj_key=a,
                      pred=F.lit("TRAVELED_TO"), obj_key=ck, date=dt))

    # called
    called = t.filter(F.col("__rule") == "called")
    a = normalise_key_col(g("called", 1))
    b = normalise_key_col(g("called", 2))
    legs.append(_emit(called, "mention", surface=g("called", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    legs.append(_emit(called, "mention", surface=g("called", 2),
                      mention_key=b, mention_type=F.lit("Person")))
    legs.append(_emit(called, "triple", subj_key=a, pred=F.lit("CALLED"),
                      obj_key=b))

    # reach (email sameas)
    reach = t.filter(F.col("__rule") == "reach")
    nk = normalise_key_col(g("reach", 1))
    ek = F.concat(F.lit("email-"), F.lower(g("reach", 2)))
    legs.append(_emit(reach, "mention", surface=g("reach", 1),
                      mention_key=nk, mention_type=F.lit("Person")))
    legs.append(_emit(reach, "mention", surface=g("reach", 2),
                      mention_key=ek, mention_type=F.lit("Person")))
    legs.append(_emit(reach, "sameas", subj_key=nk, pred=F.lit("SAME_AS"),
                      obj_key=ek))

    # owns account
    owns = t.filter(F.col("__rule") == "owns")
    a = normalise_key_col(g("owns", 1))
    acc = normalise_key_col(g("owns", 2))
    legs.append(_emit(owns, "mention", surface=g("owns", 1),
                      mention_key=a, mention_type=F.lit("Person")))
    legs.append(_emit(owns, "mention", surface=g("owns", 2),
                      mention_key=acc, mention_type=F.lit("Account")))
    legs.append(_emit(owns, "triple", subj_key=a, pred=F.lit("OWNS_ACCOUNT"),
                      obj_key=acc))

    recs = legs[0]
    for leg in legs[1:]:
        recs = recs.unionByName(leg)
    recs = recs.withColumn("turn_idx", F.col("turn_idx").cast("int"))
    return add_thread_mentions(recs.select(*_COLS))
