"""Text-analysis / deduplication / similarity operators over the
``documents`` and ``embeddings`` tables — the training-data-pipeline surface.

Reference analogs: chunk/text processing (`/root/reference/ingestion/scripts/
chunking.py`), embedding + vector search (`/root/reference/backend/services/
vector_db_service.py`, `embedding_service.py`), pairwise similarity self-join
(`/root/reference/backend/services/neo4j_service.py:2226-2327`). The dedup /
MinHash / SimHash / ANN operators are the scale-path versions a 100 TB
training-data pipeline needs: everything is expressed as declarative
DataFrame plans (explode → equi-join → aggregate) so Catalyst handles
pushdown and AQE handles skew; no Python in the hot path.

Every operator here has an exact DuckDB oracle: hash functions are md5 (same
bytes in both engines), floats are accumulated in double and rounded, and
shingle/token constructions are index-for-index identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from owl_n4j_spark.functions.numeric import sql_stable_round, stable_round
from owl_n4j_spark.plans.relational import load

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# Shared oracle-SQL rounding fragments — every query that rounds this
# quantity interpolates the ONE rendering of the stable_round formula, so
# a scale constant can never drift between copies (or vs the Spark side).
_SQL_JACCARD = sql_stable_round("common / (sa.n_sh + sb.n_sh - common)", 6)
_SQL_MEAN_TOK_LEN = sql_stable_round(
    r"length(regexp_replace(text, '\s+', '', 'g')) / n_tok", 6)


def _tokens_col():
    """Whitespace tokenization — identical in Spark and DuckDB."""
    return F.split(F.trim(F.col("text")), r"\s+")


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex) — SURVEY training-data ops
# ---------------------------------------------------------------------------


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens and a BPE-ish regex
    token stream (letter runs / digit runs / single symbols)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(_tokens_col()).cast("bigint").alias("n_ws_tokens"),
            F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
             .cast("bigint").alias("n_re_tokens"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_TOKEN_STATS = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
ORDER BY doc_id
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, mean token length, length-capped
    score — the heuristic quality filters of a pretraining data pipeline."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens_col()
    n_tok = F.size(toks).cast("double")
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(
        rf"size(filter(split(trim(text), '\\s+'), x -> x IN ({stop_in})))"
    ).cast("double")
    mean_tok_len = F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tok
    stop_ratio = n_stop / n_tok
    score = (F.lit(0.5) * (F.lit(1.0) - stop_ratio)
             + F.lit(0.5) * F.least(n_tok / F.lit(100.0), F.lit(1.0)))
    return (
        docs.select(
            "doc_id",
            # stable_round, not F.round: these are ratios of small ints,
            # which land on decimal-halfway points that Spark and DuckDB
            # round in opposite directions (functions/numeric.py)
            stable_round(stop_ratio, 6).alias("stop_ratio"),
            stable_round(mean_tok_len, 6).alias("mean_tok_len"),
            stable_round(score, 6).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


SQL_DOC_QUALITY = rf"""
SELECT doc_id,
       {sql_stable_round('n_stop / n_tok', 6)} AS stop_ratio,
       {_SQL_MEAN_TOK_LEN} AS mean_tok_len,
       {sql_stable_round('0.5 * (1.0 - n_stop / n_tok) + 0.5 * least(n_tok / 100.0, 1.0)', 6)} AS quality_score
FROM (
  SELECT doc_id, text,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x IN ({_STOP_SQL}))) AS DOUBLE) AS n_stop
  FROM documents
)
ORDER BY doc_id
"""


# Character-n-gram language profiles: high-frequency function-word /
# orthography signatures per language. Occurrence counting is substring
# replace arithmetic — exact, regex-free, identical in Spark and DuckDB.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of ", " is ", "ing "),
    "de": (" der ", " und ", " die ", " ist ", "sch"),
    "es": (" el ", " los ", " que ", " es ", "ción"),
    "fr": (" le ", " les ", " est ", " une ", " des "),
}
_CJK_SPARK = r"[一-鿿]"
_CJK_DUCK = r"[\x{4e00}-\x{9fff}]"


def lang_scores(text: F.Column) -> dict[str, F.Column]:
    """Per-language evidence score: total occurrences of the language's
    signature n-grams in ' text ' (padded so word-boundary grams match at
    the edges). Pure column arithmetic — replace-based substring counting,
    no UDF, whole-stage codegen."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    scores = {}
    for lang, grams in LANG_PROFILES.items():
        s = F.lit(0)
        for g in grams:
            s = s + (F.length(padded)
                     - F.length(F.replace(padded, F.lit(g), F.lit("")))) \
                / len(g)
        scores[lang] = s.cast("bigint")
    scores["zh"] = F.regexp_count(text, F.lit(_CJK_SPARK)).cast("bigint")
    return scores


def predict_lang(text: F.Column) -> F.Column:
    """argmax over the profile scores, ties to the first language in
    LANG_ORDER, 'unk' when no profile matches at all."""
    sc = lang_scores(text)
    mx = F.greatest(*sc.values())
    pred = F.lit("unk")
    for lang in reversed(LANG_ORDER):
        pred = F.when(sc[lang] == mx, F.lit(lang)).otherwise(pred)
    return F.when(mx > 0, pred).otherwise(F.lit("unk"))


LANG_ORDER = ("en", "de", "es", "fr", "zh")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by char-n-gram profile scoring (the fastText/langid
    method family, deterministic): per-language signature-gram occurrence
    counts -> argmax, confusion matrix vs the labeled lang column. The
    driver corpus is language-less word-soup (every label shares one
    vocabulary), so the matrix here mostly shows 'en'/'unk' — the
    classifier's actual discrimination is pinned on real multilingual
    snippets in tests/test_lang_id.py."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang"), predict_lang(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def _lang_id_sql() -> str:
    score_exprs = {}
    for lang, grams in LANG_PROFILES.items():
        parts = " + ".join(
            f"(length(p) - length(replace(p, '{g}', ''))) / {len(g)}"
            for g in grams)
        score_exprs[lang] = f"CAST({parts} AS BIGINT)"
    score_exprs["zh"] = (
        f"CAST(len(regexp_extract_all(text, '{_CJK_DUCK}')) AS BIGINT)")
    cols = ",\n         ".join(f"{e} AS s_{l}" for l, e in score_exprs.items())
    mx = "greatest(" + ", ".join(f"s_{l}" for l in LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{l} = mx THEN '{l}'" for l in LANG_ORDER) + " END"
    return f"""
WITH p AS (
  SELECT lang, text, ' ' || text || ' ' AS p FROM documents
),
scored AS (
  SELECT lang,
         {cols}
  FROM p
),
withmax AS (
  SELECT *, {mx} AS mx FROM scored
)
SELECT lang,
       CASE WHEN mx > 0 THEN {case} ELSE 'unk' END AS pred_lang,
       COUNT(*) AS n_docs
FROM withmax
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


SQL_LANG_ID = _lang_id_sql()


# ---------------------------------------------------------------------------
# Fingerprinting + exact dedup
# ---------------------------------------------------------------------------

def _fingerprint_col():
    """md5 of the whitespace-normalized lowercased text — the deterministic
    document fingerprint (same bytes in Spark and DuckDB)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _fingerprint_col().alias("fingerprint"))
        .orderBy("doc_id")
    )


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
ORDER BY doc_id
"""


WINNOW_K = 3   # tokens per gram
WINNOW_W = 4   # grams per selection window


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints by WINNOWING (the MOSS
    algorithm): hash every K-token gram, slide a W-gram window, keep the
    minimum hash per window, dedupe — the selected fingerprints are the
    document's robust near-dup signature (guaranteed to include at least
    one shared fingerprint for any sufficiently long shared passage).
    Everything is array expressions over one row per document — no explode,
    no shuffle until the final sort; hashes are fixed-width md5 prefixes so
    lexicographic min == numeric min in both engines."""
    docs = load(spark, sf_dir, "documents")
    grams = (f"transform(sequence(0, size(__w) - {WINNOW_K}), "
             f"i -> substring(md5(concat_ws(' ', slice(__w, i + 1, {WINNOW_K}))), 1, 8))")
    mins = (f"transform(sequence(0, size(__h) - {WINNOW_W}), "
            f"j -> array_min(slice(__h, j + 1, {WINNOW_W})))")
    return (
        docs.withColumn("__w", _tokens_col())
        .filter(F.size("__w") >= WINNOW_K + WINNOW_W - 1)
        .withColumn("__h", F.expr(grams))
        .withColumn("__f", F.array_sort(F.array_distinct(F.expr(mins))))
        .select("doc_id",
                F.size("__f").alias("n_fingerprints"),
                F.md5(F.concat_ws(",", F.col("__f"))).alias("fp_digest"))
        .orderBy("doc_id")
    )


SQL_WINNOWING = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= {WINNOW_K + WINNOW_W - 1}
),
h AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {WINNOW_K} + 2),
           i -> substring(md5(array_to_string(toks[i : i + {WINNOW_K} - 1], ' ')), 1, 8))
           AS hs
  FROM w
),
f AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, len(hs) - {WINNOW_W} + 2),
             j -> list_min(hs[j : j + {WINNOW_W} - 1])))) AS fps
  FROM h
)
SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
       md5(array_to_string(fps, ',')) AS fp_digest
FROM f
ORDER BY doc_id
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint, keep min(doc_id) as the
    canonical survivor. The 100 TB shape: one shuffle on an md5 key (uniform
    by construction — no skew), map-side partial agg."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _fingerprint_col().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"),
             F.count("*").alias("n_copies"))
        .orderBy("fingerprint")
    )


SQL_EXACT_DEDUP = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY fingerprint
ORDER BY fingerprint
"""


# ---------------------------------------------------------------------------
# Shingling + n-gram Jaccard + MinHash-LSH near-dup
# ---------------------------------------------------------------------------

# Word-trigram shingles, constructed index-for-index identically:
# Spark arrays are 0-based (seq 0 .. len-3), DuckDB lists 1-based (range 1 .. len-2).
_SPARK_SHINGLES = (
    "transform(sequence(0, size(__w) - 3), "
    "i -> concat_ws(' ', __w[i], __w[i+1], __w[i+2]))"
)
_DUCK_SHINGLES = (
    "list_transform(range(1, len(__w) - 1), "
    "i -> __w[i] || ' ' || __w[i+1] || ' ' || __w[i+2])"
)


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct — needs >= 3 tokens per doc.

    A parquet ``shared_table``: the Jaccard pair join, the neardup
    pruning, and the MinHash signatures all consume this table."""
    from owl_n4j_spark.plans.kg_analytics import shared_table
    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        return (
            docs.withColumn("__w", _tokens_col())
            .filter(F.size("__w") >= 3)
            .select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("shingle"))
            .dropDuplicates(["doc_id", "shingle"])
        )
    return shared_table(spark, sf_dir, "shingles", build)


_DUCK_SHINGLES_CTE = rf"""
shingled AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS __w
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES}) AS shingle
  FROM shingled
)
"""


SHINGLE_MAX_DOCS = 100


def _capped_shingles(sh: DataFrame) -> DataFrame:
    """Drop stop-shingles (document frequency > SHINGLE_MAX_DOCS) BEFORE the
    pairwise join AND the per-doc size counts — so the similarity is
    "Jaccard over informative shingles". This is the load-bearing scale cap:
    a single hot shingle shared by D documents produces a D^2 bucket in the
    equi-join; the cap bounds every bucket at SHINGLE_MAX_DOCS^2 regardless
    of corpus size (the standard stop-shingle treatment in shingle-based
    near-dup at web scale)."""
    kept = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= SHINGLE_MAX_DOCS).select("shingle"))
    return sh.join(kept, on="shingle", how="leftsemi")


_DUCK_CAPPED_SH = f"""
kept AS (SELECT shingle FROM sh GROUP BY shingle
         HAVING COUNT(*) <= {SHINGLE_MAX_DOCS}),
shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle))
"""


def _jaccard_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, common, jaccard) for word-trigram Jaccard >= 0.2 over
    capped shingles — a parquet ``shared_table``: the pairwise
    equi-join is the expensive leg of the near-dup family and THREE queries
    consume exactly this pair set (q_ngram_jaccard_pairs, the
    q_neardup_survivors prune, the q_corpus_curation near-dup stage —
    per-pair common/n_a/n_b depend only on the two docs, so the curation
    stage's survivor restriction is a semi-join on the endpoints, not a
    recompute)."""
    from owl_n4j_spark.plans.kg_analytics import shared_table
    def build() -> DataFrame:
        # hash-partition the capped shingles on the JOIN key at ~2 tasks
        # per core: the warehouse read is a couple of byte-sized splits,
        # and without the spread the |bucket|^2 pair-generating self-join
        # (the CPU-heavy leg) runs 1-2-wide; partitioning on `shingle`
        # co-partitions both join sides, so the join itself adds no
        # further exchange
        sh = (_capped_shingles(_shingles_df(spark, sf_dir))
              .repartition(spark.sparkContext.defaultParallelism * 2,
                           "shingle"))
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        return (
            a.join(b, on="shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("common"))
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("n_sh").alias("n_a")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("n_sh").alias("n_b")), "doc_b")
            .withColumn("jaccard", stable_round(
                F.col("common") / (F.col("n_a") + F.col("n_b")
                                   - F.col("common")), 6))
            .filter(F.col("jaccard") >= 0.2)
            .select("doc_a", "doc_b", "common", "jaccard")
        )
    return shared_table(spark, sf_dir, "jaccard_pairs", build)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by word-trigram Jaccard >= 0.2 over
    non-stop shingles (document frequency <= SHINGLE_MAX_DOCS).

    Scale shape: explode shingles -> stop-shingle cap -> equi-join on
    shingle (every bucket bounded by the cap) -> group by pair; the pair
    table itself is the shared _jaccard_pairs_df warehouse."""
    return (_jaccard_pairs_df(spark, sf_dir)
            .orderBy("doc_a", "doc_b"))


SQL_NGRAM_JACCARD_PAIRS = rf"""
WITH {_DUCK_SHINGLES_CTE},
{_DUCK_CAPPED_SH},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, common,
       {_SQL_JACCARD} AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_SQL_JACCARD} >= 0.2
ORDER BY doc_a, doc_b
"""

N_MINHASH = 8
LSH_ROWS_PER_BAND = 2  # 8 hashes -> 4 bands


def _lsh_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a, doc_b, n_shared_bands),
    a parquet ``shared_table`` — consumed by q_minhash_lsh_pairs AND the
    q_neardup_clusters CC stage.

    The K per-doc minima are computed as ONE map-side-combinable hash
    aggregation with K min columns (min is algebraic, so each map task
    emits one K-wide row per doc) instead of exploding the shingle stream
    K-fold and shuffling (doc, k) rows — K x fewer shuffle rows for the
    same bytes of signature (guide §2.3: aggregate before you shuffle).
    Band signatures are then pure column expressions over the K columns.
    md5(k || '|' || shingle) is the k-th "permutation" — identical bytes
    in both engines."""
    from owl_n4j_spark.plans.kg_analytics import shared_table
    def build() -> DataFrame:
        # spread the K-fold md5 work: the shingle warehouse reads back as
        # 1-2 splits (small files pack via openCostInBytes), so the
        # partial aggregation — where all K md5s per shingle run — would
        # be 1-2-wide; hash-partitioning on the grouping key both spreads
        # the CPU and makes the aggregation exchange-free
        sh = (_shingles_df(spark, sf_dir)
              .repartition(spark.sparkContext.defaultParallelism * 2,
                           "doc_id"))
        minh = sh.groupBy("doc_id").agg(*[
            F.min(F.md5(F.concat_ws("|", F.lit(str(k)), F.col("shingle"))))
             .alias(f"__h{k}") for k in range(N_MINHASH)])
        n_bands = N_MINHASH // LSH_ROWS_PER_BAND
        band_structs = []
        for band in range(n_bands):
            ks = range(band * LSH_ROWS_PER_BAND,
                       (band + 1) * LSH_ROWS_PER_BAND)
            sig = F.concat_ws(",", F.array_sort(F.array(*[
                F.concat_ws(":", F.lit(str(k)), F.col(f"__h{k}"))
                for k in ks])))
            band_structs.append(F.struct(F.lit(band).alias("band"),
                                         sig.alias("sig")))
        bands = (minh.select("doc_id",
                             F.explode(F.array(*band_structs)).alias("b"))
                 .select("doc_id", "b.band", "b.sig"))
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(b, on=["band", "sig"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared_bands"))
        )
    return shared_table(spark, sf_dir, "lsh_pairs", build)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH candidate pairs.

    shingle -> K md5-permutation minima per doc -> band signatures (K/R
    bands of R mins each) -> bucket equi-join on (band, signature) -> pair
    candidate count. This is the scalable near-dup join: cost is bounded by
    bucket sizes, never all-pairs (see _lsh_pairs_df for the plan shape)."""
    return (_lsh_pairs_df(spark, sf_dir)
            .orderBy("doc_a", "doc_b"))


SQL_MINHASH_LSH_PAIRS = rf"""
WITH {_DUCK_SHINGLES_CTE},
minh AS (
  SELECT doc_id, k, MIN(md5(k || '|' || shingle)) AS minh
  FROM sh, range({N_MINHASH}) r(k)
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, CAST(k // {LSH_ROWS_PER_BAND} AS INT) AS band,
         string_agg(k || ':' || minh, ',' ORDER BY k || ':' || minh) AS sig
  FROM minh
  GROUP BY doc_id, band
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                         AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""

def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash-LSH pair graph — the fuzzy-dedup grouping step (pair pruning
    alone misses transitivity: A~B and B~C must collapse to ONE cluster
    even when A~C was never a candidate pair). REUSES the KG
    canonicalization engine's union-find CC
    (operators/canonicalize.py) on doc-id vertices, the same
    one-engine-many-graphs rule as q_graph_cc; at 100 TB the pair graph is
    orders of magnitude smaller than the corpus, and CC on it is the
    standard MinHashLSH-then-components dedup (e.g. SlimPajama/BigCode
    pipelines). Doc ids are zero-padded so string-min == numeric-min."""
    from owl_n4j_spark.operators.canonicalize import connected_components

    pairs = _lsh_pairs_df(spark, sf_dir)
    # 9-digit pad: the string-min election must agree with numeric MIN
    # past 1M docs (d999999 < d1000000 numerically but not lexically)
    pad = lambda c: F.format_string("d%09d", F.col(c))  # noqa: E731
    comps = connected_components(
        pairs.select(pad("doc_a").alias("src"), pad("doc_b").alias("dst")))
    return (
        comps.groupBy(F.col("canonical_key").alias("cluster"))
        .agg(F.count("*").alias("size"))
        .orderBy("cluster")
    )


SQL_NEARDUP_CLUSTERS = rf"""
WITH RECURSIVE {_DUCK_SHINGLES_CTE},
minh AS (
  SELECT doc_id, k, MIN(md5(k || '|' || shingle)) AS minh
  FROM sh, range({N_MINHASH}) r(k)
  GROUP BY doc_id, k
),
bands AS (
  SELECT doc_id, CAST(k // {LSH_ROWS_PER_BAND} AS INT) AS band,
         string_agg(k || ':' || minh, ',' ORDER BY k || ':' || minh) AS sig
  FROM minh
  GROUP BY doc_id, band
),
pairs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
                           AND a.doc_id < b.doc_id
),
sym AS MATERIALIZED (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
verts AS (SELECT DISTINCT a AS v FROM sym),
reach(u, v) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.u, s.b FROM reach r JOIN sym s ON s.a = r.v
),
comp AS (SELECT u, printf('d%09d', MIN(v)) AS cluster FROM reach GROUP BY u)
SELECT cluster, COUNT(*) AS size
FROM comp GROUP BY cluster ORDER BY cluster
"""


SIMHASH_BITS = 32
_ODD_HEX = "('1','3','5','7','9','b','d','f')"


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash as a bitstring.

    bit i = majority over distinct tokens of (low bit of hex digit i of
    md5(token)). Pure column expressions — one explode + one groupBy with 32
    algebraic aggregates; whole-stage codegen end to end.
    """
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("tok"))
        .dropDuplicates(["doc_id", "tok"])
        .withColumn("h", F.md5("tok"))
    )
    aggs = [F.count("*").alias("n")]
    for i in range(SIMHASH_BITS):
        aggs.append(F.sum(
            F.when(F.expr(f"substring(h, {i + 1}, 1) IN {_ODD_HEX}"), 1)
            .otherwise(0)).alias(f"b{i}"))
    agg = tok.groupBy("doc_id").agg(*aggs)
    bit_cols = [F.when(F.col(f"b{i}") * 2 >= F.col("n"), F.lit("1"))
                .otherwise(F.lit("0")) for i in range(SIMHASH_BITS)]
    return (
        agg.select("doc_id", F.concat(*bit_cols).alias("simhash"))
        .orderBy("doc_id")
    )


def _simhash_sql() -> str:
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN substring(h, {i + 1}, 1) IN {_ODD_HEX} THEN 1 ELSE 0 END) AS b{i}"
        for i in range(SIMHASH_BITS))
    bits = " || ".join(
        f"CASE WHEN b{i} * 2 >= n THEN '1' ELSE '0' END"
        for i in range(SIMHASH_BITS))
    return rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
hashed AS (SELECT doc_id, md5(tok) AS h FROM tok),
agg AS (
  SELECT doc_id, COUNT(*) AS n,
         {bit_sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {bits} AS simhash
FROM agg ORDER BY doc_id
"""


SQL_SIMHASH = _simhash_sql()


# ---------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k + sign-LSH bucketed ANN
# ---------------------------------------------------------------------------

_SPARK_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
              "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
_DUCK_DOT = ("list_sum(list_transform(range(1, len({a}) + 1), "
             "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")

N_KNN_QUERIES = 10
KNN_K = 3


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline): queries = vec_id <
    N_KNN_QUERIES, candidates = everything else. Scale shape: broadcast the
    (small) query set against the (huge) candidate table, partial top-k per
    partition via window over candidate partitions — here expressed as the
    declarative window; AQE handles the rest."""
    emb = load(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < N_KNN_QUERIES)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")))
    c = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ce"))
    dot = F.expr(_SPARK_DOT.format(a="qe", b="ce"))
    qn = F.sqrt(F.expr(_SPARK_DOT.format(a="qe", b="qe")))
    cn = F.sqrt(F.expr(_SPARK_DOT.format(a="ce", b="ce")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cos", dot / (qn * cn))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select("qid", "rank", "nid", F.round("cos", 4).alias("cosine"))
        .orderBy("qid", "rank")
    )


SQL_KNN_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id < {N_KNN_QUERIES}),
c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
scored AS (
  SELECT qid, nid,
         {_DUCK_DOT.format(a='qe', b='ce')}
           / (sqrt({_DUCK_DOT.format(a='qe', b='qe')})
              * sqrt({_DUCK_DOT.format(a='ce', b='ce')})) AS cos
  FROM q, c WHERE qid != nid
),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, rank, nid, round(cos, 4) AS cosine
FROM ranked WHERE rank <= {KNN_K}
ORDER BY qid, rank
"""

LSH_NBITS = 8
EMB_DIM = 64
N_ANN_QUERIES = 20
ANN_K = 3


def _lsh_planes(nbits: int = LSH_NBITS, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: weight (b, i) derives from
    md5, uniform in [-1, 1] — real random-hyperplane LSH (not axis-aligned
    sign bits), reproducible bit-for-bit in both engines because the weights
    are embedded as shared literals."""
    import hashlib
    return [
        [((int(hashlib.md5(f"{b}|{i}".encode()).hexdigest()[:8], 16)
           % 2001) - 1000) / 1000.0
         for i in range(dim)]
        for b in range(nbits)
    ]


_LSH_W = _lsh_planes()


def _bucket_spark(col: str) -> F.Column:
    bits = []
    for w in _LSH_W:
        lits = ", ".join(f"{v}D" for v in w)
        proj = F.expr(
            f"aggregate(zip_with({col}, array({lits}), "
            f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), "
            f"(acc, v) -> acc + v)")
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _bucket_duck(col: str) -> str:
    bits = []
    for w in _LSH_W:
        lits = "[" + ", ".join(str(v) for v in w) + "]"
        proj = (f"list_sum(list_transform(range(1, {EMB_DIM} + 1), "
                f"i -> CAST({col}[i] AS DOUBLE) * ({lits})[i]))")
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def q_ann_signlsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane sign-LSH ANN with Hamming-1 MULTI-PROBE (the scale
    path for q_knn_bruteforce): bucket = 8 sign bits of md5-seeded
    hyperplane projections; each query probes its own bucket plus the 8
    buckets one bit-flip away (standard multi-probe LSH — recovers most of
    the recall single-probe loses at the bucket boundary; measured
    recall@3 vs brute force asserted in tests/test_ann_recall.py). At
    100 TB the bucket is the shuffle key: candidates shuffle once by
    bucket, queries replicate x9 (tiny side), and the all-pairs cross join
    never materializes."""
    emb = load(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding",
                   _bucket_spark("embedding").alias("bucket"))
    flips = F.array(*[F.lit(i) for i in range(LSH_NBITS + 1)])  # 0 = exact
    q = (b.filter(F.col("vec_id") < N_ANN_QUERIES)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
                 "bucket", F.explode(flips).alias("flip"))
         .select("qid", "qe", F.when(F.col("flip") == 0, F.col("bucket"))
                 .otherwise(F.concat(
                     F.expr("substring(bucket, 1, flip - 1)"),
                     F.when(F.expr("substring(bucket, flip, 1)") == "1",
                            F.lit("0")).otherwise(F.lit("1")),
                     F.expr(f"substring(bucket, flip + 1, {LSH_NBITS})")))
                 .alias("bucket")))
    c = b.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ce"),
                 "bucket")
    dot = F.expr(_SPARK_DOT.format(a="qe", b="ce"))
    qn = F.sqrt(F.expr(_SPARK_DOT.format(a="qe", b="qe")))
    cn = F.sqrt(F.expr(_SPARK_DOT.format(a="ce", b="ce")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        q.join(c, on="bucket")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cos", dot / (qn * cn))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= ANN_K)
        .select("qid", "rank", "nid", F.round("cos", 4).alias("cosine"))
        .orderBy("qid", "rank")
    )


def _ann_sql() -> str:
    bucket = _bucket_duck("embedding")
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
probes AS (
  SELECT qid, qe,
         CASE WHEN flip = 0 THEN bucket
              ELSE substring(bucket, 1, flip - 1)
                   || (CASE WHEN substring(bucket, flip, 1) = '1'
                            THEN '0' ELSE '1' END)
                   || substring(bucket, flip + 1, {LSH_NBITS})
         END AS bucket
  FROM (SELECT vec_id AS qid, embedding AS qe, bucket FROM b
        WHERE vec_id < {N_ANN_QUERIES}),
       range(0, {LSH_NBITS} + 1) r(flip)
),
c AS (SELECT vec_id AS nid, embedding AS ce, bucket FROM b),
scored AS (
  SELECT qid, nid,
         {_DUCK_DOT.format(a='qe', b='ce')}
           / (sqrt({_DUCK_DOT.format(a='qe', b='qe')})
              * sqrt({_DUCK_DOT.format(a='ce', b='ce')})) AS cos
  FROM probes JOIN c USING (bucket) WHERE qid != nid
),
ranked AS (
  SELECT qid, nid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
  FROM scored
)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, round(cos, 4) AS cosine
FROM ranked WHERE rank <= {ANN_K}
ORDER BY qid, rank
"""


SQL_ANN_SIGNLSH = _ann_sql()


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (the IVF build step): dim-wise mean. posexplode
    keeps it one shuffle on (label, dim) — algebraic, map-side combined."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label",
                   F.posexplode("embedding").alias("dim", "val"))
        .select("label", F.col("dim").cast("bigint").alias("dim"), "val")
        .groupBy("label", "dim")
        .agg(stable_round(F.sum(F.col("val").cast("double"))
                          / F.count("*"), 6).alias("centroid_val"),
             F.count("*").alias("n_vecs"))
        .orderBy("label", "dim")
    )


SQL_EMBEDDING_CENTROIDS = f"""
SELECT label, i - 1 AS dim,
       {sql_stable_round('SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*)', 6)} AS centroid_val,
       COUNT(*) AS n_vecs
FROM embeddings, range(1, 65) r(i)
GROUP BY label, dim
ORDER BY label, dim
"""


# ---------------------------------------------------------------------------
# IVF search path + embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

IVF_PROBES = 2
IVF_K = 3
EMB_NEARDUP_TAU = 0.2


def _centroids_rounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, dim-wise mean ROUNDED to 6 decimals —
    the rounding is load-bearing: raw FP means depend on summation order
    (partitioning), so both engines quantize to the same grid before any
    distance math, making IVF assignments bit-deterministic."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(stable_round(F.sum(F.col("val").cast("double")) / F.count("*"),
                          6).alias("cv"))
        .groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(dim, cv))), "
                    "x -> x.cv)").alias("centroid"))
    )


_DUCK_CENTROIDS = f"""
cent AS (
  SELECT label, list(cv ORDER BY dim) AS centroid FROM (
    SELECT label, i - 1 AS dim,
           {sql_stable_round('SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*)', 6)} AS cv
    FROM embeddings, range(1, 65) r(i)
    GROUP BY label, dim
  ) GROUP BY label
)
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search (the second ANN family, completing the
    q_embedding_centroids build step): every vector is assigned to its
    nearest per-label centroid cell (cosine argmax over the broadcast
    centroid table); a query scans only its IVF_PROBES nearest cells and
    returns top-k by exact cosine. At 100 TB the cell id is the shuffle
    key; the coarse quantizer is a broadcast."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _centroids_rounded(spark, sf_dir)
    dot_vc = F.expr(_SPARK_DOT.format(a="embedding", b="centroid"))
    vn = F.sqrt(F.expr(_SPARK_DOT.format(a="embedding", b="embedding")))
    cn = F.sqrt(F.expr(_SPARK_DOT.format(a="centroid", b="centroid")))
    scored = (emb.crossJoin(F.broadcast(cent))
              .withColumn("ccos", dot_vc / (vn * cn)))
    assign = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("ccos")).alias("nc"),
                            F.col("label").alias("cell"))).alias("e"),
             F.first("embedding").alias("embedding"))
        .select("vec_id", F.col("e.cell").alias("cell"), "embedding")
    )
    wq = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("label"))
    probes = (
        scored.filter(F.col("vec_id") < N_ANN_QUERIES)
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVF_PROBES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
                F.col("label").alias("cell"))
    )
    c = assign.select(F.col("vec_id").alias("nid"),
                      F.col("embedding").alias("ce"), "cell")
    dot = F.expr(_SPARK_DOT.format(a="qe", b="ce"))
    qn = F.sqrt(F.expr(_SPARK_DOT.format(a="qe", b="qe")))
    cn2 = F.sqrt(F.expr(_SPARK_DOT.format(a="ce", b="ce")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        probes.join(c, on="cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cos", dot / (qn * cn2))
        .dropDuplicates(["qid", "nid"])
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= IVF_K)
        .select("qid", "rank", "nid", F.round("cos", 4).alias("cosine"))
        .orderBy("qid", "rank")
    )


def _ivf_sql() -> str:
    dvc = _DUCK_DOT.format(a="e.embedding", b="c.centroid")
    vn = _DUCK_DOT.format(a="e.embedding", b="e.embedding")
    cn = _DUCK_DOT.format(a="c.centroid", b="c.centroid")
    return f"""
WITH {_DUCK_CENTROIDS},
scored AS (
  SELECT e.vec_id, e.embedding, c.label,
         {dvc} / (sqrt({vn}) * sqrt({cn})) AS ccos
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, embedding, label AS cell FROM (
    SELECT vec_id, embedding, label,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS qid, embedding AS qe, label AS cell FROM (
    SELECT vec_id, embedding, label,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
    FROM scored WHERE vec_id < {N_ANN_QUERIES}
  ) WHERE rn <= {IVF_PROBES}
),
cand AS (
  SELECT DISTINCT p.qid, p.qe, a.vec_id AS nid, a.embedding AS ce
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE p.qid != a.vec_id
),
ranked AS (
  SELECT qid, nid,
         {_DUCK_DOT.format(a='qe', b='ce')}
           / (sqrt({_DUCK_DOT.format(a='qe', b='qe')})
              * sqrt({_DUCK_DOT.format(a='ce', b='ce')})) AS cos,
         row_number() OVER (PARTITION BY qid ORDER BY
           {_DUCK_DOT.format(a='qe', b='ce')}
             / (sqrt({_DUCK_DOT.format(a='qe', b='qe')})
                * sqrt({_DUCK_DOT.format(a='ce', b='ce')})) DESC, nid) AS rank
  FROM cand
)
SELECT qid, CAST(rank AS BIGINT) AS rank, nid, round(cos, 4) AS cosine
FROM ranked WHERE rank <= {IVF_K}
ORDER BY qid, rank
"""


SQL_ANN_IVF = _ivf_sql()


def q_emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the fifth dedup modality):
    candidate pairs share an LSH bucket (same machinery as q_ann_signlsh —
    the shuffle key at scale), exact cosine >= EMB_NEARDUP_TAU filters, one
    row per unordered pair. Never all-pairs; bucket-bounded like the
    shingle join."""
    emb = load(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding",
                   _bucket_spark("embedding").alias("bucket"))
    a = b.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                 "bucket")
    c = b.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                 "bucket")
    dot = F.expr(_SPARK_DOT.format(a="ea", b="eb"))
    an = F.sqrt(F.expr(_SPARK_DOT.format(a="ea", b="ea")))
    bn = F.sqrt(F.expr(_SPARK_DOT.format(a="eb", b="eb")))
    return (
        a.join(c, on="bucket")
        .filter(F.col("va") < F.col("vb"))
        .withColumn("cos", dot / (an * bn))
        .filter(F.col("cos") >= EMB_NEARDUP_TAU)
        .select("va", "vb", F.round("cos", 4).alias("cosine"))
        .orderBy("va", "vb")
    )


def _emb_neardup_sql() -> str:
    bucket = _bucket_duck("embedding")
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
SELECT a.vec_id AS va, b2.vec_id AS vb,
       round({_DUCK_DOT.format(a='a.embedding', b='b2.embedding')}
         / (sqrt({_DUCK_DOT.format(a='a.embedding', b='a.embedding')})
            * sqrt({_DUCK_DOT.format(a='b2.embedding', b='b2.embedding')})), 4)
         AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE {_DUCK_DOT.format(a='a.embedding', b='b2.embedding')}
        / (sqrt({_DUCK_DOT.format(a='a.embedding', b='a.embedding')})
           * sqrt({_DUCK_DOT.format(a='b2.embedding', b='b2.embedding')}))
      >= {EMB_NEARDUP_TAU}
ORDER BY va, vb
"""


SQL_EMB_NEARDUP_PAIRS = _emb_neardup_sql()


SEARCH_TERM = "window"
SNIPPET_PAD = 25


def q_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text search + snippet builder (SURVEY F13: ±N chars around the
    first match — neo4j_service.py:13392-13420). Pure column exprs: locate +
    substring; the filter pushes to the scan."""
    docs = load(spark, sf_dir, "documents")
    pos = F.locate(SEARCH_TERM, F.col("text"))
    snippet = F.substring(
        F.col("text"),
        F.greatest(pos - SNIPPET_PAD, F.lit(1)),
        F.lit(len(SEARCH_TERM) + 2 * SNIPPET_PAD))
    return (
        docs.filter(pos > 0)
        .select("doc_id", pos.cast("bigint").alias("match_pos"),
                snippet.alias("snippet"))
        .orderBy("doc_id")
    )


SQL_DOC_SEARCH = f"""
SELECT doc_id,
       strpos(text, '{SEARCH_TERM}') AS match_pos,
       substring(text,
                 greatest(strpos(text, '{SEARCH_TERM}') - {SNIPPET_PAD}, 1),
                 {len(SEARCH_TERM) + 2 * SNIPPET_PAD}) AS snippet
FROM documents
WHERE strpos(text, '{SEARCH_TERM}') > 0
ORDER BY doc_id
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("data", "window", "spark")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked full-text search over the corpus — the scoring model
    behind the reference's Lucene full-text index queries
    (`/root/reference/backend/services/neo4j_service.py:13392-13420` runs
    `db.index.fulltext.queryNodes`, whose relevance score is BM25).

    Classic IR pipeline as pure relational algebra: tokenize (explode),
    per-doc term frequencies, per-term document frequencies, corpus stats
    (N, avgdl) as a 1-row broadcast, then the BM25 formula
    ``idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` summed over query
    terms. At 100 TB: tf/df are map-side-combinable hash aggregates on the
    token stream, the df and stats sides are tiny broadcasts, and only the
    per-(doc, query-term) rows — not the token stream — reach the scoring
    join. Floats: avgdl is exact-int-sum / count (one division, identical
    across engines), score rounded to 4dp to absorb sum-order ulps."""
    return bm25_scores(load(spark, sf_dir, "documents")).limit(20)


def bm25_scores(docs: DataFrame, terms: tuple[str, ...] = BM25_TERMS
                ) -> DataFrame:
    """(doc_id, bm25) for every doc matching >= 1 query term, best first —
    the scoring core of q_bm25_search (ranking semantics pinned in
    tests/test_operators_semantics.py on a planted fixture)."""
    toks = (docs.select(
                "doc_id",
                F.explode(F.split(F.lower("text"), "[^a-z0-9]+"))
                 .alias("term"))
            .filter(F.col("term") != ""))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("tot_dl"))
    tf = (toks.filter(F.col("term").isin(*terms))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
                .join(dl, "doc_id")
                .crossJoin(F.broadcast(stats)))
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf")
             + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl))
    contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    return (
        scored.select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

SQL_BM25_SEARCH = f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, term
),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT doc_id,
       round(SUM( ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                  * (tf * {BM25_K1 + 1.0})
                  / (tf + {BM25_K1} * (1.0 - {BM25_B}
                         + {BM25_B} * dl / (CAST(tot_dl AS DOUBLE) / n_docs)))
                ), 4) AS bm25
FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup pruning: drop the higher doc_id of every
    word-trigram-Jaccard >= 0.2 pair, keep the rest — the dataset-cleaning
    join a pretraining pipeline runs after candidate generation. Survivor
    count + total chars kept."""
    docs = load(spark, sf_dir, "documents")
    dups = (_jaccard_pairs_df(spark, sf_dir)
            .select(F.col("doc_b").alias("doc_id")).dropDuplicates())
    survivors = docs.join(dups, on="doc_id", how="left_anti")
    return survivors.agg(
        F.count("*").alias("n_survivors"),
        F.sum(F.length("text")).alias("total_chars"),
    )


SQL_NEARDUP_SURVIVORS = rf"""
WITH {_DUCK_SHINGLES_CTE},
{_DUCK_CAPPED_SH},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
dups AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE {_SQL_JACCARD} >= 0.2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM dups)
"""


# ---------------------------------------------------------------------------
# Document chunking (SURVEY F14) — token windows with overlap
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 40
CHUNK_STRIDE = 30          # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 10


def chunk_spans(n_tokens: int, size: int = CHUNK_TOKENS,
                stride: int = CHUNK_STRIDE) -> list[tuple[int, int]]:
    """Token-window spans [(start, end_exclusive), ...] for a doc of
    n_tokens — the single source of truth for the chunking rule (property-
    tested in tests/test_chunk_properties.py, mirrored by SQL_DOC_CHUNKS):
    starts step by ``stride``; a trailing window fully contained in the
    previous chunk's tail (start + overlap >= n) is not emitted."""
    overlap = size - stride
    spans = []
    for start in range(0, max(n_tokens, 1), stride):
        if start > 0 and start + overlap >= n_tokens:
            break
        spans.append((start, min(start + size, n_tokens)))
    return spans


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document — the chunking stage of
    the reference's ingestion (`/root/reference/ingestion/scripts/
    chunking.py:88-268` — fixed-size windows with overlap, boundary-snapped;
    here the boundary unit is the whitespace token, the standard unit for a
    pretraining pipeline). A trailing window fully contained in the previous
    chunk's tail (start + overlap >= n_tokens) is not emitted.

    Runs as an Arrow-batched ``mapInPandas`` — the UDF surface every
    text-heavy stage shares: batch in, variable-many rows out, only hashes
    and offsets in the shuffle (never the chunk bodies twice)."""
    import hashlib
    import re

    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = re.split(r"\s+", text.strip()) if isinstance(text, str) else [""]
                for idx, (start, end) in enumerate(chunk_spans(len(toks))):
                    chunk = " ".join(toks[start:end])
                    out.append((doc_id, idx, start, end - start,
                                hashlib.md5(chunk.encode()).hexdigest()))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_idx",
                                             "start_tok", "n_tok", "chunk_md5"])

    return (
        docs.mapInPandas(run, schema=("doc_id long, chunk_idx int, "
                                      "start_tok int, n_tok int, chunk_md5 string"))
        .orderBy("doc_id", "chunk_idx")
    )


SQL_DOC_CHUNKS = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
st AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks), 1), {CHUNK_STRIDE})) AS start
  FROM w
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_tok,
       CAST(least({CHUNK_TOKENS}, len(toks) - start) AS INT) AS n_tok,
       md5(array_to_string(toks[start + 1 : least(start + {CHUNK_TOKENS}, len(toks))], ' ')) AS chunk_md5
FROM st
WHERE start = 0 OR start + {CHUNK_TOKENS - CHUNK_STRIDE} < len(toks)
ORDER BY doc_id, chunk_idx
"""


SUMMARY_TOKENS = 12


def q_doc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic extractive document summary (SURVEY L4 — the reference
    prompts an LLM per document, llm_client.py:699-777; the deterministic
    re-expression keeps the exact per-doc string contract testable): lead
    tokens + token count, one row per doc, exact string oracle."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens_col()
    lead = F.concat_ws(" ", F.slice(toks, 1, SUMMARY_TOKENS))
    return (
        docs.select(
            "doc_id",
            F.concat(lead, F.lit(" ... ("), F.size(toks).cast("string"),
                     F.lit(" tokens)")).alias("summary"))
        .orderBy("doc_id")
    )


SQL_DOC_SUMMARY = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
)
SELECT doc_id,
       array_to_string(toks[1:{SUMMARY_TOKENS}], ' ')
         || ' ... (' || CAST(len(toks) AS VARCHAR) || ' tokens)' AS summary
FROM w
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PII redaction + benchmark decontamination — training-data scrub ops
# ---------------------------------------------------------------------------

PII_AMOUNT_RE = r"\$\d+\.\d\d"
PII_DATE_RE = r"\d{4}-\d{2}-\d{2}"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over conversation transcripts — the redaction pass a
    training-data pipeline runs before text leaves the trust boundary
    (the reference masks extracted amounts/dates into typed properties
    instead of raw strings — `/root/reference/backend/services/
    neo4j_service.py` fact properties; here the scrub is the operator).

    Spark side does the REAL redaction with JVM regexes
    (regexp_extract_all + regexp_replace inside whole-stage codegen, no
    shuffle until the per-conversation rollup); the oracle derives the
    expected hit counts from the event algebra that generated the text —
    purchase turns render exactly one ``$d.dd`` amount and one ISO date,
    click turns one date (sources/events_transcripts.py text grammar) — so
    the check is true cross-representation parity, same discipline as
    kg_triples. test_operators_semantics pins that the redacted text
    contains no residual pattern. At 100 TB this is a pure map stage."""
    from owl_n4j_spark.sources.events_transcripts import \
        transcripts_from_events

    t = transcripts_from_events(spark, sf_dir)
    n_amounts = F.size(F.regexp_extract_all("text", F.lit(PII_AMOUNT_RE), F.lit(0)))
    n_dates = F.size(F.regexp_extract_all("text", F.lit(PII_DATE_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace("text", PII_AMOUNT_RE, "[AMOUNT]"),
        PII_DATE_RE, "[DATE]")
    return (
        t.select("conv_id", n_amounts.alias("n_amounts"),
                 n_dates.alias("n_dates"),
                 # count survives into the plan so the redaction column is
                 # not pruned away before it is exercised
                 F.size(F.regexp_extract_all(
                     redacted, F.lit(PII_AMOUNT_RE), F.lit(0)))
                  .alias("n_residual"))
        .groupBy("conv_id")
        .agg(F.sum("n_amounts").alias("n_amounts"),
             F.sum("n_dates").alias("n_dates"),
             F.sum("n_residual").alias("n_residual"),
             F.count("*").alias("n_turns"))
        .orderBy("conv_id")
    )


SQL_PII_REDACT = """
SELECT printf('conv-%05d', user_id) AS conv_id,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_amounts,
       CAST(SUM(CASE WHEN event_type IN ('purchase', 'click') THEN 1 ELSE 0
                END) AS BIGINT) AS n_dates,
       CAST(0 AS BIGINT) AS n_residual,
       COUNT(*) AS n_turns
FROM events
GROUP BY conv_id
ORDER BY conv_id
"""


N_BENCH_DOCS = 5          # doc_id < 5 plays the held-out benchmark set
DECONTAM_MIN_SHARED = 3   # shared distinct shingles to flag contamination


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing >=
    DECONTAM_MIN_SHARED distinct word-trigram shingles with a held-out
    benchmark set (docs 0..N_BENCH_DOCS-1 stand in for the eval suite).
    The standard n-gram-overlap decontamination pass (GPT-3 appendix C /
    The Pile) as a relational plan: shingle explode -> equi-join against
    the benchmark shingle set -> per-doc distinct rollup.

    Scale shape: the benchmark side is tiny (eval suites are MBs) and
    broadcast, so the corpus-side token stream never shuffles — each task
    probes its shingles against the broadcast set; no cap needed because
    bucket fan-out is bounded by the benchmark's shingle multiplicity."""
    sh = _shingles_df(spark, sf_dir)
    bench = (sh.filter(F.col("doc_id") < N_BENCH_DOCS)
             .select(F.col("doc_id").alias("bench_id"), "shingle"))
    corpus = sh.filter(F.col("doc_id") >= N_BENCH_DOCS)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"),
             F.countDistinct("bench_id").alias("n_bench_docs"))
        .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
        .orderBy("doc_id")
    )


SQL_DECONTAMINATE = f"""
WITH {_DUCK_SHINGLES_CTE},
bench AS (SELECT doc_id AS bench_id, shingle FROM sh
          WHERE doc_id < {N_BENCH_DOCS}),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= {N_BENCH_DOCS})
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared,
       CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM corpus c JOIN bench b USING (shingle)
GROUP BY c.doc_id
HAVING COUNT(DISTINCT c.shingle) >= {DECONTAM_MIN_SHARED}
ORDER BY c.doc_id
"""


KEYWORDS_PER_DOC = 3


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF keywords per document — the tagging/keyword step behind
    the reference's entity-summary surface (what a doc is "about"). tf/df
    are map-side hash aggregates over the non-stopword token stream; df +
    the 1-row corpus count broadcast into the scoring join; ranking is a
    per-doc window (partitioned by doc_id — never a global sort). Score =
    tf * ln(N/df), rounded, ties broken by term for determinism."""
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(
                "doc_id",
                F.explode(F.split(F.lower("text"), "[^a-z0-9]+"))
                 .alias("term"))
            .filter((F.col("term") != "") & ~F.col("term").isin(*STOPWORDS)))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (toks.select("doc_id", "term").distinct()
             .groupBy("term").agg(F.count("*").alias("df")))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(F.broadcast(dfreq), "term")
                .crossJoin(F.broadcast(n_docs))
                .withColumn("score", F.round(
                    F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KEYWORDS_PER_DOC)
        .select("doc_id", "rank", "term", "score")
        .orderBy("doc_id", "rank")
    )


SQL_DOC_KEYWORDS = f"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE t <> '' AND t NOT IN ({_STOP_SQL})
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         round(tf * ln(n_docs / df), 6) AS score
  FROM tf JOIN dfr USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term) AS BIGINT)
           AS rank
  FROM scored
)
SELECT doc_id, rank, term, score
FROM ranked WHERE rank <= {KEYWORDS_PER_DOC}
ORDER BY doc_id, rank
"""


QUALITY_MIN = 0.6   # quality-gate threshold (drops the worst ~15-20%)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composed training-data pipeline:
    quality gate -> exact dedup -> near-dup prune -> benchmark
    decontamination, reporting per-stage attrition plus the surviving token
    budget (the cost-ledger discipline of SURVEY K6 applied to data
    curation). Each stage reuses the exact oracle-checked single-op
    semantics (q_doc_quality score, q_exact_dedup fingerprint,
    q_ngram_jaccard_pairs capped-shingle Jaccard, q_decontaminate overlap).

    Scale shape: quality + fingerprint legs are map-side aggregates; the
    near-dup leg joins the shared capped-shingle warehouse restricted to
    survivors (bucket fan-out still bounded by the stop-shingle cap); the
    decontamination leg probes a broadcast benchmark set. One small driver
    row out — nothing is collected."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens_col()
    n_tok = F.size(toks).cast("double")
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(
        rf"size(filter(split(trim(text), '\\s+'), x -> x IN ({stop_in})))"
    ).cast("double")
    score = stable_round(
        F.lit(0.5) * (F.lit(1.0) - n_stop / n_tok)
        + F.lit(0.5) * F.least(n_tok / F.lit(100.0), F.lit(1.0)), 6)
    quality = (docs.select("doc_id", score.alias("q"),
                           _fingerprint_col().alias("fingerprint"),
                           F.size(toks).alias("n_tok"))
               .filter(F.col("q") >= QUALITY_MIN))

    keepers = (quality.groupBy("fingerprint")
               .agg(F.min("doc_id").alias("doc_id")))
    exact = quality.join(keepers, ["fingerprint", "doc_id"], "leftsemi")

    # Near-dup prune over the exact-dedup survivors: per-pair common /
    # n_a / n_b depend only on the two endpoint docs, so restricting the
    # SHARED pair warehouse to survivor endpoints is plan-equivalent to
    # re-running the pairwise join over survivor shingles — two semi-joins
    # against an O(survivors) id set instead of a second shingle self-join.
    exact_ids = exact.select("doc_id")
    dup_b = (
        _jaccard_pairs_df(spark, sf_dir)
        .join(exact_ids.select(F.col("doc_id").alias("doc_a")),
              "doc_a", "leftsemi")
        .join(exact_ids.select(F.col("doc_id").alias("doc_b")),
              "doc_b", "leftsemi")
        .select(F.col("doc_b").alias("doc_id")).dropDuplicates())
    neardup = exact.join(dup_b, "doc_id", "left_anti")

    contaminated = (q_decontaminate(spark, sf_dir)
                    .select("doc_id").dropDuplicates())
    clean = neardup.join(contaminated, "doc_id", "left_anti")

    stage = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("__s"), F.count("*").alias("n"),
        F.sum("n_tok").alias("tok"))
    return (
        docs.agg(F.lit("input").alias("__s"), F.count("*").alias("n"),
                 F.sum(F.size(toks)).alias("tok"))
        .unionByName(stage(quality, "quality_gate"))
        .unionByName(stage(exact, "exact_dedup"))
        .unionByName(stage(neardup, "neardup_prune"))
        .unionByName(stage(clean, "decontaminated"))
        .select(F.col("__s").alias("stage"), F.col("n").alias("n_docs"),
                F.col("tok").alias("n_tokens"))
        .orderBy("stage")
    )


SQL_CORPUS_CURATION = rf"""
WITH q AS (
  SELECT doc_id, text,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
           AS fingerprint,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tok
  FROM (
    SELECT doc_id, text,
           {sql_stable_round('0.5 * (1.0 - n_stop / n_tokd) + 0.5 * least(n_tokd / 100.0, 1.0)', 6)} AS qs
    FROM (
      SELECT doc_id, text,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
               AS n_tokd,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x IN ({_STOP_SQL}))) AS DOUBLE)
               AS n_stop
      FROM documents))
  WHERE qs >= {QUALITY_MIN}
),
exact AS (
  SELECT q.* FROM q
  JOIN (SELECT fingerprint, MIN(doc_id) AS doc_id
        FROM q GROUP BY fingerprint) k
  USING (fingerprint, doc_id)
),
{_DUCK_SHINGLES_CTE},
{_DUCK_CAPPED_SH},
shs AS (SELECT shk.* FROM shk WHERE doc_id IN (SELECT doc_id FROM exact)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shs GROUP BY doc_id),
dupb AS (
  SELECT DISTINCT doc_b AS doc_id FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
    FROM shs a JOIN shs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b)
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE {_SQL_JACCARD} >= 0.2
),
neardup AS (SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM dupb)),
bench AS (SELECT doc_id AS bench_id, shingle FROM sh
          WHERE doc_id < {N_BENCH_DOCS}),
contaminated AS (
  SELECT c.doc_id FROM sh c JOIN bench b USING (shingle)
  WHERE c.doc_id >= {N_BENCH_DOCS}
  GROUP BY c.doc_id
  HAVING COUNT(DISTINCT c.shingle) >= {DECONTAM_MIN_SHARED}
),
clean AS (SELECT * FROM neardup
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
SELECT stage, n_docs, n_tokens FROM (
  SELECT 'input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+'))
                       AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents
  UNION ALL SELECT 'quality_gate', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tok) AS BIGINT) FROM q
  UNION ALL SELECT 'exact_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tok) AS BIGINT) FROM exact
  UNION ALL SELECT 'neardup_prune', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tok) AS BIGINT) FROM neardup
  UNION ALL SELECT 'decontaminated', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tok) AS BIGINT) FROM clean
)
ORDER BY stage
"""


# Per-language keep rates (percent) for the training-mix construction —
# upsample scarce languages, downsample the dominant one.
MIX_RATES = {"en": 40, "de": 90, "fr": 90, "es": 70, "zh": 70}
MIX_DEFAULT_RATE = 50
_MIX_HASH_PRIME = 2654435761  # Knuth multiplicative hash
# Reduce doc_id mod 2^31 BEFORE multiplying: (2^31-1)*prime < 2^63, so the
# product stays in int64 range in BOTH engines. Without the reduction a
# doc_id >= ~3.5e9 silently wraps in Spark (non-ANSI) while DuckDB widens
# to HUGEINT, and the keep decisions diverge (r2 advice).
_MIX_HASH_MOD = 2147483648


def q_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified data mixing: sample each language bucket at a configured
    rate to build a training mixture (the domain/language re-weighting step
    of a pretraining pipeline — e.g. The Pile's per-source epochs). The
    keep decision is a deterministic multiplicative hash of doc_id against
    the bucket's rate, so the sample is reproducible, join-free, and
    embarrassingly parallel — a pure map stage plus one rollup; no
    orderBy-limit sampling, no driver-side randomness. Reports kept counts
    and achieved vs target rate per bucket."""
    docs = load(spark, sf_dir, "documents")
    rate = F.lit(MIX_DEFAULT_RATE)
    for lang, pct in MIX_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    keep = (((F.col("doc_id") % _MIX_HASH_MOD) * _MIX_HASH_PRIME) % 100
            < rate)
    return (
        docs.select("lang", rate.alias("target_pct"),
                    keep.cast("bigint").alias("keep"))
        .groupBy("lang", "target_pct")
        .agg(F.count("*").alias("n_total"),
             F.sum("keep").alias("n_kept"),
             stable_round(F.sum("keep") * 100.0 / F.count("*"), 4)
             .alias("achieved_pct"))
        .orderBy("lang")
    )


_MIX_CASE = " ".join(
    f"WHEN '{lang}' THEN {pct}" for lang, pct in MIX_RATES.items())

SQL_DATA_MIX = f"""
WITH d AS (
  SELECT lang,
         CAST(CASE lang {_MIX_CASE} ELSE {MIX_DEFAULT_RATE} END
              AS INT) AS target_pct,
         CASE WHEN ((doc_id % {_MIX_HASH_MOD}) * {_MIX_HASH_PRIME}) % 100
                   < (CASE lang {_MIX_CASE} ELSE {MIX_DEFAULT_RATE} END)
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, target_pct,
       COUNT(*) AS n_total,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       {sql_stable_round('SUM(keep) * 100.0 / COUNT(*)', 4)} AS achieved_pct
FROM d
GROUP BY lang, target_pct
ORDER BY lang
"""


SEQ_LEN = 512   # tokens per packed training sequence


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-length training
    sequences by running token offset (the concat-then-split packing every
    pretraining loader does). Docs are packed per language shard — the
    running sum is a window partitioned by ``lang``, NEVER a global
    cumulative sum, because a global ordering is a single-partition
    bottleneck at scale while shard-local packing parallelizes freely (and
    is what loaders do anyway: one packed stream per shard). Output: per
    (lang, seq_id) document count, token count, and fill ratio."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(_tokens_col()).cast("bigint")
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_off")
    with_off = (docs.select("lang", "doc_id", n_tok.alias("n_tok"))
                .select("lang", "doc_id", "n_tok",
                        F.floor(start / SEQ_LEN).alias("seq_id")))
    return (
        with_off.groupBy("lang", "seq_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("n_tokens"),
             stable_round(F.sum("n_tok") / F.lit(float(SEQ_LEN)), 4)
             .alias("fill_ratio"))
        .orderBy("lang", "seq_id")
    )


SQL_SEQ_PACK = rf"""
WITH d AS (
  SELECT lang, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tok
  FROM documents
),
o AS (
  SELECT lang, doc_id, n_tok,
         CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - n_tok)
                    / {SEQ_LEN}) AS BIGINT) AS seq_id
  FROM d
)
SELECT lang, seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       {sql_stable_round(f'SUM(n_tok) / {float(SEQ_LEN)!r}', 4)} AS fill_ratio
FROM o
GROUP BY lang, seq_id
ORDER BY lang, seq_id
"""


def ensure_doc_files(spark: SparkSession, sf_dir: str) -> str:
    """Render the documents table to per-doc .html/.md files once per
    (session, sf) (a ``shared_table``) — fixture scaffolding, benchmarked
    under its own name."""
    from owl_n4j_spark.plans.kg_analytics import shared_table, warehouse_dir
    from owl_n4j_spark.sources.doc_formats import write_doc_files

    return shared_table(spark, sf_dir, "doc_files", lambda: write_doc_files(
        spark, sf_dir, warehouse_dir(spark, sf_dir, "doc_files")),
        parquet=False)


def q_doc_ingest_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 proper (r2 verdict item 10): per-format file ingestion. The
    documents table is rendered to .html/.md files once per sf (test
    scaffolding), then the binaryFile + dispatching-mapInPandas reader
    (sources/doc_formats.py — reference ingest_data.py:23-30) extracts
    main text + metadata back out. Exact oracle: extraction must
    reconstruct the documents table itself, boilerplate stripped,
    entities unescaped."""
    from owl_n4j_spark.sources.doc_formats import read_documents_dir

    return (read_documents_dir(spark, ensure_doc_files(spark, sf_dir))
            .select("doc_id", "text", "lang", "source", "n_chars")
            .orderBy("doc_id"))


SQL_DOC_INGEST_FORMATS = """
SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
"""


def q_doc_ingest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-format ingest reconciliation for the document path (K5 applied
    to S4 — r3 verdict item 9): every file the scan saw becomes a manifest
    row; textless PDFs, corrupt files, and unknown extensions are
    QUARANTINED counts, not raised errors, so dispatch gaps surface as
    data the way the XML reconciliation surfaces model-type gaps. One map
    stage + one O(formats) aggregation."""
    from owl_n4j_spark.sources.doc_formats import read_documents_dir

    df = read_documents_dir(spark, ensure_doc_files(spark, sf_dir),
                            with_status=True)
    return (df.groupBy("fmt").agg(
        F.count("*").alias("n_files"),
        F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
        F.sum((F.col("status") != "ok").cast("long"))
         .alias("n_quarantined"))
        .orderBy("fmt"))


# decoys written by write_doc_files: one image-only .pdf (no text layer,
# quarantined) + one unknown .xyz
SQL_DOC_INGEST_MANIFEST = """
SELECT fmt, n_files, n_ok, n_quarantined FROM (
  SELECT 'html' AS fmt, CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(COUNT(*) AS BIGINT) AS n_ok, CAST(0 AS BIGINT) AS n_quarantined
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 'md', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(0 AS BIGINT) FROM documents WHERE doc_id % 5 = 1
  UNION ALL
  SELECT 'docx', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(0 AS BIGINT) FROM documents WHERE doc_id % 5 = 2
  UNION ALL
  SELECT 'xlsx', CAST(COUNT(*) AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(0 AS BIGINT) FROM documents WHERE doc_id % 5 = 3
  UNION ALL
  SELECT 'pdf', CAST(COUNT(*) + 1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(1 AS BIGINT) FROM documents WHERE doc_id % 5 = 4
  UNION ALL
  SELECT 'xyz', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT)
) ORDER BY fmt
"""


TEXT_REGISTRY = {
    "q_doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "q_doc_summary": (q_doc_summary, SQL_DOC_SUMMARY),
    "q_doc_search": (q_doc_search, SQL_DOC_SEARCH),
    "q_bm25_search": (q_bm25_search, SQL_BM25_SEARCH),
    "q_neardup_survivors": (q_neardup_survivors, SQL_NEARDUP_SURVIVORS),
    "q_doc_token_stats": (q_doc_token_stats, SQL_DOC_TOKEN_STATS),
    "q_doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "q_lang_id": (q_lang_id, SQL_LANG_ID),
    "q_doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "q_winnowing": (q_winnowing, SQL_WINNOWING),
    "q_exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "q_ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "q_minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "q_simhash": (q_simhash, SQL_SIMHASH),
    "q_knn_bruteforce": (q_knn_bruteforce, SQL_KNN_BRUTEFORCE),
    "q_ann_signlsh": (q_ann_signlsh, SQL_ANN_SIGNLSH),
    "q_ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "q_emb_neardup_pairs": (q_emb_neardup_pairs, SQL_EMB_NEARDUP_PAIRS),
    "q_embedding_centroids": (q_embedding_centroids, SQL_EMBEDDING_CENTROIDS),
    # scrub ops register after the 50-entry driver gate (oracle-checked by
    # tests/test_oracle_parity.py and scripts_dev/check_oracles.py)
    "q_pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "q_decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "q_corpus_curation": (q_corpus_curation, SQL_CORPUS_CURATION),
    "q_data_mix": (q_data_mix, SQL_DATA_MIX),
    "q_seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "q_neardup_clusters": (q_neardup_clusters, SQL_NEARDUP_CLUSTERS),
    "q_doc_keywords": (q_doc_keywords, SQL_DOC_KEYWORDS),
    "q_doc_ingest_formats": (q_doc_ingest_formats, SQL_DOC_INGEST_FORMATS),
    "q_doc_ingest_manifest": (q_doc_ingest_manifest,
                              SQL_DOC_INGEST_MANIFEST),
}
