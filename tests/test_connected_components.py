"""connected_components against a driver-side union-find.

Every vertex's canonical key must be its component's minimum
priority-prefixed label (phone > email > app > name, a dictionary
canonical first within its class), on paths (sorted and shuffled ids),
stars, binary trees and random forests, both in one union-find round
(the default ``_UF_ROWS``) and over several (a patched low value).
"""

import random

import pytest

from owl_n4j_spark.operators import canonicalize

_PRIO = (("phone-", 0), ("email-", 1), ("whatsapp-", 2), ("telegram-", 2),
         ("signal-", 2))


def _label(v, canon):
    prio = next((p for pre, p in _PRIO if v.startswith(pre)), 3)
    return f"{prio * 2 + (0 if v in canon else 1)}|{v}"


def union_find(edges, canon=frozenset()):
    """Driver-side oracle: vertex -> key of its component's minimum label."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    best = {}
    for v in parent:
        r = find(v)
        if r not in best or _label(v, canon) < _label(best[r], canon):
            best[r] = v
    return {v: best[find(v)] for v in parent}


def _cc(spark, edges, canon=None):
    df = spark.createDataFrame(edges, "src string, dst string")
    keys = (None if canon is None
            else spark.createDataFrame([(k,) for k in canon], "key string"))
    return {r["member_key"]: r["canonical_key"]
            for r in canonicalize.connected_components(
                df, canon_keys=keys).collect()}


def _shapes(n, rng):
    """A forest of the five shapes, ~n vertices each, disjoint by prefix."""
    def name(tag, i):
        return f"{tag}-{i:06d}"
    ids = list(range(n))
    rng.shuffle(ids)
    edges = [(name("sorted", i), name("sorted", i + 1)) for i in range(n - 1)]
    edges += [(name("shuffled", ids[i]), name("shuffled", ids[i + 1]))
              for i in range(n - 1)]
    edges += [(name("star", 0), name("star", i)) for i in range(1, n)]
    edges += [(name("tree", (i - 1) // 2), name("tree", i))
              for i in range(1, n)]
    # random forest: each vertex attaches to an earlier one or starts a tree
    edges += [(name("forest", rng.randrange(i)), name("forest", i))
              for i in range(1, n) if rng.random() < 0.95]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("uf_rows", [None, 500])
def test_cc_matches_union_find_on_shapes(spark, monkeypatch, uf_rows):
    """Default: 10^4-vertex shapes, one round -- the shuffled 10^4-vertex
    path that hash-min propagation could not resolve in 25 rounds converges
    under the default cap. Patched: 10^3-vertex shapes over ~20 partitions,
    several rounds."""
    n = 10_000 if uf_rows is None else 1_000
    if uf_rows is not None:
        monkeypatch.setattr(canonicalize, "_UF_ROWS", uf_rows)
    edges = _shapes(n, random.Random(n))
    want = union_find(edges)
    assert _cc(spark, edges) == want


@pytest.mark.parametrize("uf_rows", [None, 4])
def test_cc_elects_priority_canonical(spark, monkeypatch, uf_rows):
    """phone > email > app > name, whatever the lexical order; within a
    class the dictionary canonical beats an incidental alias."""
    if uf_rows is not None:
        monkeypatch.setattr(canonicalize, "_UF_ROWS", uf_rows)
    edges = [
        # phone wins over everything
        ("aaron", "email-zz@x"), ("email-zz@x", "whatsapp-1"),
        ("whatsapp-1", "phone-999"),
        # no phone: email wins over app and name
        ("abe", "whatsapp-2"), ("whatsapp-2", "email-yy@x"),
        # no phone, no email: app wins over name
        ("abel", "telegram-5"),
        # two emails: the dictionary canonical wins although it sorts last
        ("email-aa@x", "bert"), ("bert", "email-zz@y"),
        # two names: the dictionary canonical wins
        ("emerald-imports", "emerald-imports-ltd"),
    ]
    canon = {"email-zz@y", "emerald-imports-ltd"}
    got = _cc(spark, edges, canon=canon)
    assert got == union_find(edges, frozenset(canon))
    assert got["aaron"] == "phone-999"
    assert got["abe"] == "email-yy@x"
    assert got["abel"] == "telegram-5"
    assert got["bert"] == "email-zz@y"
    assert got["emerald-imports"] == "emerald-imports-ltd"


def test_cc_keeps_keys_that_contain_the_label_separator(spark):
    """The priority prefix is stripped at the first '|': a key holding '|'
    is its own canonical, not the text after its last '|'."""
    got = _cc(spark, [("x|a", "y"), ("y", "z")])
    assert got == {"x|a": "x|a", "y": "x|a", "z": "x|a"}


def test_cc_empty_edge_set(spark):
    assert _cc(spark, [("a", "a")]) == {}
