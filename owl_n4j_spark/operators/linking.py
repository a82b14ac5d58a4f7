"""Stage 4 — entity linking: raw mention keys -> canonical keys.

Reference lifecycle (/root/reference/ingestion/scripts/entity_resolution.py:54-135):
exact key match -> fuzzy candidate search (case-insensitive token CONTAINS,
LIMIT 5 — neo4j_client.py:188-255) -> type check -> LLM disambiguation.

Spark-first re-expression:
  (a) exact:  broadcast hash join mention.raw_key = alias_dict.alias
  (b) fuzzy:  blocked candidate join — block on the first key token so the
      candidate set is bounded (the reference's CONTAINS scan is O(n) per
      mention; blocking makes it an equi-join) — then a JVM-side levenshtein
      ratio as the deterministic disambiguation scorer (the reference's
      SequenceMatcher >= 0.88 / LLM yes-no, re-derived as
      1 - lev/len >= threshold), top-1 per mention by (score desc, key asc)
  (c) anti-join against rejected pairs (U4 —
      backend/services/rejected_pairs_service.py) so human-rejected merges
      are never re-suggested.

Unresolved mentions keep their raw key (the reference creates a new node
when resolution fails — ingestion.py:511-586).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FUZZY_THRESHOLD = 0.84  # levenshtein-ratio analog of SequenceMatcher>=0.88

# MinHash-LSH blocking parameters (char-trigram shingles of the key)
LSH_N_HASHES = 6
LSH_BANDS = 3  # 2 hashes per band


def _block_token(col):
    """Blocking key: first hyphen token of the normalised key."""
    return F.split(col, "-").getItem(0)


def _lsh_bands(df: DataFrame, key_col: str) -> DataFrame:
    """(.., key) -> exploded (band, sig) blocking keys via MinHash over
    character trigrams of the key. md5(k || '|' || shingle) is the k-th
    permutation; LSH_BANDS bands of LSH_N_HASHES/LSH_BANDS minima each.

    This is the scale-out blocking strategy (north-star's minhash-LSH
    candidate join): unlike first-token blocking it has no hub blocks —
    bucket sizes are governed by actual key similarity — so the candidate
    join stays bounded when the dictionary is too large/diverse for
    token blocks.
    """
    rows_per_band = LSH_N_HASHES // LSH_BANDS
    shingled = df.withColumn(
        "__sh",
        F.expr(f"transform(sequence(1, greatest(length({key_col}) - 2, 1)), "
               f"i -> substring({key_col}, i, 3))"))
    return (
        shingled.select(key_col, F.explode("__sh").alias("__s"))
        .dropDuplicates([key_col, "__s"])
        .select(key_col, "__s",
                F.explode(F.expr(f"sequence(0, {LSH_N_HASHES - 1})")).alias("__k"))
        .withColumn("__h", F.md5(F.concat_ws("|", F.col("__k"), F.col("__s"))))
        .groupBy(key_col, "__k").agg(F.min("__h").alias("__minh"))
        .withColumn("band", (F.col("__k") / rows_per_band).cast("int"))
        .groupBy(key_col, "band")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list(
            F.concat_ws(":", F.col("__k"), F.col("__minh"))))).alias("sig"))
    )


def build_key_mapping(
    mention_keys: DataFrame,
    alias_dict: DataFrame | None,
    rejected_pairs: DataFrame | None = None,
    fuzzy_threshold: float = FUZZY_THRESHOLD,
    fuzzy_strategy: str = "block",
) -> DataFrame:
    """Resolve distinct raw keys against the alias dictionary.

    mention_keys: DataFrame(raw_key string, mention_type string); a key may
                  repeat (typed mention and untyped SAME_AS endpoint) — it
                  keeps its greatest non-null type, so typed beats untyped.
    alias_dict:   DataFrame(alias, canonical_key, entity_type) or None.
    rejected_pairs: DataFrame(key_a, key_b) — pairs a human rejected.
    fuzzy_strategy: 'block' (first-token equi-blocking, broadcast dict) or
                    'lsh' (minhash-LSH band join over char trigrams — the
                    scale path when the dictionary outgrows broadcast or
                    token blocks skew).

    Returns DataFrame(raw_key, canonical_key, method) with exactly one row
    per distinct raw_key, method in ('exact','fuzzy','self').
    """
    keys = mention_keys.groupBy("raw_key").agg(
        F.max("mention_type").alias("mention_type"))
    if alias_dict is None:
        return keys.select(
            "raw_key", F.col("raw_key").alias("canonical_key"),
            F.lit("self").alias("method"))

    aliases = alias_dict.select(
        F.col("alias"), F.col("canonical_key"), F.col("entity_type"))

    # (a) exact — broadcast: the dictionary is the small side by design.
    # The key table feeds the fuzzy leg and the final join: a lazy
    # checkpoint runs the key aggregation and the exact join once.
    linked = (
        keys.join(F.broadcast(aliases), keys["raw_key"] == aliases["alias"],
                  "left")
        .select("raw_key", "mention_type", F.col("canonical_key").alias("exact"))
        .localCheckpoint(eager=False)
    )

    # (b) fuzzy — blocked candidate join + levenshtein-ratio disambiguation.
    # Only name-shaped keys participate (phone-/email-/app keys are exact
    # identities; fuzzy-matching them would create false merges).
    fuzzy_src = linked.filter(
        F.col("exact").isNull()
        & ~F.col("raw_key").startswith("phone-")
        & ~F.col("raw_key").startswith("email-")
        & ~F.col("raw_key").startswith("chat-")
        & F.col("raw_key").contains("-")
    ).select("raw_key", "mention_type")
    cand = aliases.filter(~F.col("alias").startswith("phone-")
                          & ~F.col("alias").startswith("email-"))

    if fuzzy_strategy == "lsh":
        src_bands = _lsh_bands(fuzzy_src, "raw_key")
        cand_bands = _lsh_bands(cand.select("alias"), "alias")
        cand_pairs = (
            src_bands.join(cand_bands, on=["band", "sig"])
            .select("raw_key", "alias").dropDuplicates()
        )
        raw = (
            cand_pairs
            .join(fuzzy_src, on="raw_key")
            .join(cand, on="alias")
        )
    else:
        raw = (
            fuzzy_src.withColumn("block", _block_token(F.col("raw_key")))
            .join(F.broadcast(cand.withColumn("block",
                                              _block_token(F.col("alias")))),
                  on="block")
        )

    pairs = (
        raw
        .filter((F.col("mention_type").isNull())
                | (F.col("mention_type") == F.col("entity_type")))
        .withColumn(
            "score",
            1.0 - F.levenshtein("raw_key", "alias")
            / F.greatest(F.length("raw_key"), F.length("alias")),
        )
        .filter(F.col("score") >= F.lit(fuzzy_threshold))
    )
    if rejected_pairs is not None:
        rej = rejected_pairs.select(
            F.col("key_a").alias("raw_key"), F.col("key_b").alias("canonical_key"))
        pairs = pairs.join(F.broadcast(rej), ["raw_key", "canonical_key"], "left_anti")

    # top-1 per mention by (score desc, key asc) as an ALGEBRAIC argmax:
    # min(struct(-score, key)) is map-side combinable, so the election
    # partially aggregates before the shuffle (guide §2.3).
    fuzzy = (
        pairs.groupBy("raw_key")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                            F.col("canonical_key").alias("k"))).alias("e"))
        .select("raw_key", F.col("e.k").alias("fuzzy"))
    )

    # (c) one left join of the winners back onto the key table: exact, else
    # fuzzy, else the key maps to itself (new entity)
    return linked.join(fuzzy, "raw_key", "left").select(
        "raw_key",
        F.coalesce("exact", "fuzzy", "raw_key").alias("canonical_key"),
        F.when(F.col("exact").isNotNull(), "exact")
         .when(F.col("fuzzy").isNotNull(), "fuzzy")
         .otherwise("self").alias("method"))


def remap_keys(df: DataFrame, mapping: DataFrame, cols: list[str]) -> DataFrame:
    """Replace each key column with its canonical form via broadcast joins
    (the mapping is distinct raw keys — orders of magnitude smaller than the
    triple stream, so this never shuffles the big side)."""
    out = df
    for c in cols:
        m = mapping.select(F.col("raw_key").alias(c),
                           F.col("canonical_key").alias(f"__canon_{c}"))
        out = (
            out.join(F.broadcast(m), on=c, how="left")
            .withColumn(c, F.coalesce(F.col(f"__canon_{c}"), F.col(c)))
            .drop(f"__canon_{c}")
        )
    return out
