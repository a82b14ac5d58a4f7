"""build_nodes' per-key elections against a pandas oracle of the
argmax-count rule ``min(struct(-count, value))``: the most frequent value
wins, the lowest on a count tie, and an untyped (NULL) mention counts as a
type that sorts before every other."""

import re

import pandas as pd

from owl_n4j_spark.operators.materialize import build_nodes

_FAKE = ("(no name)", "System Message", "Sin Nombre")


def _is_real_name(s):
    if s is None:
        return False
    s = s.strip()
    return (len(s) >= 2
            and not re.match(r"^[+\d][\d\s().\-]{4,}$", s)
            and not re.match(r"^\+?\d{6,}@(s\.whatsapp\.net|c\.us|g\.us)$", s)
            and "@" not in s and s not in _FAKE)


def _argmax(values):
    """min(struct(-cnt, v)) over the groups of ``values``: NULL sorts
    first, as in Spark's ascending struct order."""
    counts = {}
    for v in values:
        counts[v] = counts.get(v, 0) + 1
    return min(counts, key=lambda v: (-counts[v], v is not None, v or ""))


def _oracle(mentions, phones):
    out = {}
    for key, g in mentions.groupby("mention_key"):
        t = _argmax([None if pd.isna(v) else v for v in g["mention_type"]])
        real = [s for s in g["surface"] if _is_real_name(s)]
        out[key] = {
            "type": "Entity" if t is None else t,
            "name": _argmax(real) if real else key,
            "name_aliases": sorted(set(real)),
            "phone_numbers": sorted(phones.get(key, [])),
            "mention_count": len(g),
        }
    return out


def test_node_elections_match_the_argmax_oracle(spark):
    rows = []

    def add(key, mtype, surface, n):
        rows.extend([(key, mtype, surface)] * n)

    # count ties: the lowest type and the lowest surface win; fake names
    # (digits, a phone echo, JIDs, "(no name)") outnumber the real ones
    # and never compete
    add("k-type-tie", "Person", "Bob", 2)
    add("k-type-tie", "Company", "Bob", 2)
    add("k-name-tie", "Person", "Bob", 2)
    add("k-name-tie", "Person", "Alice", 2)
    add("k-name-tie", "Person", "12345678", 3)
    add("k-name-tie", "Person", "+1 555 123 4567", 3)
    add("k-name-tie", "Person", "4915112345678@s.whatsapp.net", 3)
    add("k-name-tie", "Person", "(no name)", 3)
    add("k-name-tie", "Person", None, 1)
    # a strict majority beats the lower value
    add("k-major", "Person", "Zed", 3)
    add("k-major", "Account", "Amy", 2)
    # no real name: name falls back to the key, aliases are empty
    add("k-noname", "Person", "(no name)", 2)
    add("k-noname", "Person", "5551234567", 1)
    add("k-noname", "Person", "x", 1)
    # untyped mentions: NULL wins a count tie and a majority ("Entity"),
    # loses to a strict majority of one type
    add("k-null-tie", None, "Ann", 2)
    add("k-null-tie", "Person", "Ann", 2)
    add("k-null-major", None, "Ann", 3)
    add("k-null-major", "Location", "Ann", 1)
    add("k-null-minor", None, "Ann", 1)
    add("k-null-minor", "Person", "Ann", 2)
    mentions = pd.DataFrame(rows, columns=["mention_key", "mention_type",
                                           "surface"])

    df = spark.createDataFrame(
        [r + (None, None, None) for r in rows],
        "mention_key string, mention_type string, surface string, "
        "date string, ts timestamp, amount string")
    mapping = spark.createDataFrame(
        [("phone-15551234567", "k-name-tie"),
         ("phone-15550000000", "k-name-tie"), ("bob", "k-name-tie"),
         ("phone-15559999999", "k-major")],
        "raw_key string, canonical_key string")
    phones = {"k-name-tie": ["+15551234567", "+15550000000"],
              "k-major": ["+15559999999"]}

    got = {r["key"]: {"type": r["type"], "name": r["name"],
                      "name_aliases": list(r["name_aliases"]),
                      "phone_numbers": list(r["phone_numbers"]),
                      "mention_count": r["mention_count"]}
           for r in build_nodes(df, mapping, "case-x").collect()}
    want = _oracle(mentions, phones)
    assert got == want
    # the cases the oracle must decide as described above
    assert got["k-type-tie"]["type"] == "Company"
    assert got["k-name-tie"]["name"] == "Alice"
    assert got["k-name-tie"]["name_aliases"] == ["Alice", "Bob"]
    assert got["k-major"]["type"] == "Person" and got["k-major"]["name"] == "Zed"
    assert got["k-noname"]["name"] == "k-noname"
    assert got["k-noname"]["name_aliases"] == []
    assert got["k-null-tie"]["type"] == "Entity"
    assert got["k-null-major"]["type"] == "Entity"
    assert got["k-null-minor"]["type"] == "Person"
