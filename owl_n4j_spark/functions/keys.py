"""Identity-key derivation — the merge identity of the whole engine.

Re-implements (from observed behavior, not code copy) the reference's
key cascade:

- ``normalise_key``        — /root/reference/ingestion/scripts/entity_resolution.py:18-51
- phone E.164 canonicalise — /root/reference/backend/services/phone_normalise.py:49-106
  (libphonenumber there; a deterministic table-driven validator here, since
  this engine must not depend on non-baked-in packages)
- ``person_key`` cascade   — /root/reference/ingestion/scripts/cellebrite/neo4j_writer.py:144-208
  priority: WhatsApp/JID -> phone -> email -> app id -> name

Everything is pure Python (used by the deterministic synth generator, the
extractors and the Arrow-batched phone UDF) plus column expressions for
the key-priority class and the phone display format.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# normalise_key
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"[\s_]+")
_SPECIAL_RE = re.compile(r"[^a-z0-9\-]")
_HYPHENS_RE = re.compile(r"-+")


def normalise_key(raw: str | None) -> str:
    """Lowercase, whitespace/underscore -> hyphen, strip non-[a-z0-9-],
    collapse hyphens. "John Smith" -> "john-smith"."""
    if not raw:
        return ""
    key = raw.strip().lower()
    key = _WS_RE.sub("-", key)
    key = _SPECIAL_RE.sub("", key)
    key = _HYPHENS_RE.sub("-", key)
    return key.strip("-")


# ---------------------------------------------------------------------------
# Phone canonicalisation (deterministic libphonenumber stand-in)
# ---------------------------------------------------------------------------
# Country-code -> set of valid national-number lengths. Covers the calling
# codes the synthetic corpus uses plus the majors; anything else with a '+'
# falls back to a length sanity check. The reference delegates to
# libphonenumber `is_valid_number`; this table reproduces its accept/reject
# behavior for the number shapes that appear in our data.

_CC_LENGTHS: dict[str, tuple[int, ...]] = {
    "1": (10,),          # NANP
    "44": (10,),         # UK
    "49": (10, 11),      # DE
    "33": (9,),          # FR
    "34": (9,),          # ES
    "39": (9, 10),       # IT
    "31": (9,),          # NL
    "46": (9,),          # SE
    "47": (8,),          # NO
    "52": (10,),         # MX
    "55": (10, 11),      # BR
    "81": (10,),         # JP
    "86": (11,),         # CN
    "91": (10,),         # IN
    "353": (9,),         # IE
    "503": (8,),         # SV (El Salvador — appears in reference regressions)
    "504": (8,),         # HN
    "240": (9,),         # GQ
}
# Longest-prefix-first for matching.
_CC_ORDER = sorted(_CC_LENGTHS, key=len, reverse=True)

_ALPHA_RE = re.compile(r"[a-zA-Z]")
_PHONE_JUNK_RE = re.compile(r"[\s().\-]")
_JID_RE = re.compile(r"^\+?(\d{7,15})@(?:s\.whatsapp\.net|c\.us)$", re.IGNORECASE)
# chat-service domains are NEVER emails — an invalid-number JID must not
# fall through to the email branch of the cascade (property-test regression)
_CHAT_DOMAIN_RE = re.compile(r"@(?:s\.whatsapp\.net|c\.us|g\.us)$", re.IGNORECASE)


def _nanp_valid(national: str) -> bool:
    """NANP: 10 digits, area code and exchange both start 2-9."""
    return (
        len(national) == 10
        and national[0] in "23456789"
        and national[3] in "23456789"
    )


def _split_cc(digits: str) -> tuple[str, str] | None:
    for cc in _CC_ORDER:
        if digits.startswith(cc):
            national = digits[len(cc):]
            if len(national) in _CC_LENGTHS[cc]:
                if cc == "1" and not _nanp_valid(national):
                    continue
                return cc, national
    return None


def normalise_phone(raw: str | None, default_region: str = "US") -> str | None:
    """Canonical E.164 (``+13017289052``) or None if not a valid number.

    Mirrors /root/reference/backend/services/phone_normalise.py:49-74:
    reject anything containing letters; '+'-prefixed numbers carry their own
    country code; bare numbers are interpreted in the default region (US).
    """
    if not raw:
        return None
    s = str(raw).strip()
    if not s or _ALPHA_RE.search(s):
        return None
    s = _PHONE_JUNK_RE.sub("", s)
    if s.startswith("00"):
        s = "+" + s[2:]
    if s.startswith("+"):
        digits = s[1:]
        if not digits.isdigit():
            return None
        hit = _split_cc(digits)
        return f"+{digits}" if hit else None
    if not s.isdigit():
        return None
    if default_region == "US":
        if len(s) == 10 and _nanp_valid(s):
            return f"+1{s}"
        if len(s) == 11 and s.startswith("1") and _nanp_valid(s[1:]):
            return f"+{s}"
    return None


def phone_person_key(raw: str | None, default_region: str = "US") -> str | None:
    """``phone-{e164digits}`` or None.
    Ref: /root/reference/backend/services/phone_normalise.py:77-85."""
    canon = normalise_phone(raw, default_region)
    return f"phone-{canon[1:]}" if canon else None


# ---------------------------------------------------------------------------
# Person-key cascade
# ---------------------------------------------------------------------------


@lru_cache(maxsize=200_000)
def person_key(
    identifier: str | None = None,
    name: str | None = None,
    source_app: str | None = None,
    default_region: str = "US",
) -> str | None:
    """Stable person key. Priority (ref neo4j_writer.py:144-208):

    1. WhatsApp/chat JID ``<digits>@s.whatsapp.net|c.us`` — digits are a FULL
       international number; parse with '+' prefix (group JIDs ``@g.us``
       excluded — they are threads, not people).
    2. Valid phone number -> ``phone-{e164digits}``.
    3. Email-looking identifier -> ``email-{lower}``.
    4. App-scoped id -> ``{app}-{normalised_id}``.
    5. Name -> ``normalise_key(name)``.
    """
    if identifier:
        m = _JID_RE.match(identifier.strip())
        if m:
            k = phone_person_key("+" + m.group(1).lstrip("+"), default_region)
            if k:
                return k

    k = phone_person_key(identifier, default_region)
    if k:
        return k

    if (identifier and "@" in identifier and "." in identifier
            and not _CHAT_DOMAIN_RE.search(identifier)):
        return f"email-{identifier.lower().strip()}"

    if identifier and source_app:
        app_key = normalise_key(source_app)
        id_key = normalise_key(identifier)
        if id_key:
            return f"{app_key}-{id_key}"

    if name:
        nk = normalise_key(name)
        if nk:
            return nk

    return None


# Key-priority class used when electing a canonical key for a connected
# component (lower sorts first). Matches the cascade priority so the
# component's canonical identity is the most stable identifier present.
def key_priority(key: str | None) -> int:
    if not key:
        return 9
    if key.startswith("phone-"):
        return 0
    if key.startswith("email-"):
        return 1
    if "-id-" in key or key.startswith(("whatsapp-", "telegram-", "signal-")):
        return 2
    return 3


def key_priority_col(col: Column) -> Column:
    return (
        F.when(col.startswith("phone-"), F.lit(0))
        .when(col.startswith("email-"), F.lit(1))
        .when(
            col.startswith("whatsapp-")
            | col.startswith("telegram-")
            | col.startswith("signal-"),
            F.lit(2),
        )
        .otherwise(F.lit(3))
    )


# ---------------------------------------------------------------------------
# Arrow-batched UDF (phone canonicalisation in a Python worker)
# ---------------------------------------------------------------------------


@pandas_udf(StringType())
def phone_e164_udf(raw: pd.Series) -> pd.Series:
    return raw.map(lambda s: normalise_phone(s) if isinstance(s, str) else None)


def display_phone(key):
    """F18 — INTERNATIONAL display rendering of a 'phone-<digits>' key as
    a pure column expression (reference display_format,
    backend/services/phone_normalise.py:133-152). The reference delegates
    to the phonenumbers metadata library; this engine renders the
    corpus's dial plans deterministically JVM-side:

      phone-12102371858 -> '+1 210-237-1858'   (NANP, 3-3-4)
      phone-50370000039 -> '+503 7000 0039'    (3-digit CC + 8, 4-4)
      anything else     -> '+<digits>'         (fallback: unchanged E.164)
    """
    digits = F.substring(key, 7, 100)
    return (
        F.when(digits.startswith("1") & (F.length(digits) == 11),
               F.concat(F.lit("+1 "),
                        F.substring(digits, 2, 3), F.lit("-"),
                        F.substring(digits, 5, 3), F.lit("-"),
                        F.substring(digits, 8, 4)))
        .when((F.length(digits) == 11) & ~digits.startswith("1"),
              F.concat(F.lit("+"), F.substring(digits, 1, 3), F.lit(" "),
                       F.substring(digits, 4, 4), F.lit(" "),
                       F.substring(digits, 8, 4)))
        .otherwise(F.concat(F.lit("+"), digits))
    )
