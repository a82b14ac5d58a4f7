"""MinHash-LSH fuzzy-linking strategy: must find the same typo matches as
token blocking on keys whose first token differs (where token blocking is
blind), and both strategies must agree on common cases."""

import pytest

from owl_n4j_spark.operators.linking import build_key_mapping


def _keys(spark, keys):
    return spark.createDataFrame([(k, "Person") for k in keys],
                                 "raw_key string, mention_type string")


def _dict(spark, rows):
    return spark.createDataFrame(
        [(a, c, "Person") for a, c in rows],
        "alias string, canonical_key string, entity_type string")


def test_lsh_matches_typos(spark):
    mentions = _keys(spark, ["maria-garcha", "bob-jones"])
    aliases = _dict(spark, [("maria-garcia", "phone-111"),
                            ("robert-jones", "phone-222")])
    got = {r["raw_key"]: (r["canonical_key"], r["method"])
           for r in build_key_mapping(mentions, aliases,
                                      fuzzy_strategy="lsh").collect()}
    assert got["maria-garcha"] == ("phone-111", "fuzzy")
    # 'bob' vs 'robert' is below the similarity threshold -> self
    assert got["bob-jones"][1] == "self"


def test_lsh_beats_token_blocking_on_first_token_typo(spark):
    """Typo in the FIRST token: token blocking can't see the candidate
    (different block); LSH bands still collide on shared trigrams."""
    mentions = _keys(spark, ["mario-garcia"])  # typo in token 1
    aliases = _dict(spark, [("maria-garcia", "phone-111")])
    blocked = {r["raw_key"]: r["method"]
               for r in build_key_mapping(mentions, aliases,
                                          fuzzy_strategy="block").collect()}
    lsh = {r["raw_key"]: (r["canonical_key"], r["method"])
           for r in build_key_mapping(mentions, aliases,
                                      fuzzy_strategy="lsh").collect()}
    assert blocked["mario-garcia"] == "self"          # blind
    assert lsh["mario-garcia"] == ("phone-111", "fuzzy")  # found


def test_strategies_agree_on_exact(spark):
    mentions = _keys(spark, ["maria-garcia"])
    aliases = _dict(spark, [("maria-garcia", "phone-111")])
    for strat in ("block", "lsh"):
        got = build_key_mapping(mentions, aliases,
                                fuzzy_strategy=strat).collect()[0]
        assert (got["canonical_key"], got["method"]) == ("phone-111", "exact")


@pytest.mark.parametrize("strategy", ["block", "lsh"])
@pytest.mark.parametrize("with_rejections", [False, True])
def test_one_row_per_raw_key(spark, strategy, with_rejections):
    """Every distinct raw key gets exactly one mapping row. The key table
    repeats keys on purpose: 'emerald-imports' is a typed Person mention
    AND an untyped SAME_AS endpoint (spread over partitions). The typed
    row wins, so the Company alias it resembles is not a candidate."""
    rows = [("maria-garcha", "Person"), ("maria-garcia", "Person"),
            ("emerald-imports", "Person"), ("bob-jones", "Person"),
            ("phone-555", None), ("emerald-imports", None),
            ("maria-garcha", None)]
    mentions = spark.createDataFrame(
        rows * 3, "raw_key string, mention_type string").repartition(4)
    aliases = spark.createDataFrame(
        [("maria-garcia", "phone-111", "Person"),
         ("emerald-import", "emerald-imports-ltd", "Company")],
        "alias string, canonical_key string, entity_type string")
    rejected = (spark.createDataFrame([("maria-garcha", "phone-111")],
                                      "key_a string, key_b string")
                if with_rejections else None)
    got = build_key_mapping(mentions, aliases, rejected_pairs=rejected,
                            fuzzy_strategy=strategy).collect()
    keys = [r["raw_key"] for r in got]
    assert sorted(keys) == sorted({k for k, _ in rows})
    assert {r["method"] for r in got} <= {"exact", "fuzzy", "self"}
    by_key = {r["raw_key"]: (r["canonical_key"], r["method"]) for r in got}
    assert by_key["maria-garcia"] == ("phone-111", "exact")
    assert by_key["maria-garcha"] == (
        ("maria-garcha", "self") if with_rejections
        else ("phone-111", "fuzzy"))
    assert by_key["emerald-imports"] == ("emerald-imports", "self")
    assert by_key["phone-555"] == ("phone-555", "self")
