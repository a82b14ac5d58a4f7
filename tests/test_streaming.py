"""Structured Streaming incremental path: streaming extraction must equal
batch extraction on the same input, resume from checkpoint without
re-processing, and the watermarked thread aggregation must match the batch
aggregate once the stream is drained."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from owl_n4j_spark.operators.extraction import extract_records_stateless
from owl_n4j_spark.streaming.incremental import (
    run_incremental_extraction,
    thread_stats_stream,
)
from owl_n4j_spark.synth import generate_corpus_pandas

RECORD_KEY = ["conv_id", "turn_idx", "kind", "surface", "mention_key",
              "subj_key", "pred", "obj_key"]


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    d = {k: str(root / k) for k in ["in", "out", "ckpt", "agg_out", "agg_ckpt"]}
    for v in d.values():
        os.makedirs(v, exist_ok=True)
    return d


@pytest.fixture(scope="module")
def corpus_batches(spark, stream_dirs):
    """Two file drops landing separately (incremental arrival)."""
    corpus = generate_corpus_pandas(30, seed=11)
    tr = corpus["transcripts"]
    convs = sorted(tr["conv_id"].unique())
    half = len(convs) // 2
    b1 = tr[tr["conv_id"].isin(convs[:half])]
    b2 = tr[tr["conv_id"].isin(convs[half:])]
    return corpus, b1, b2


def _write_drop(spark, pdf, input_dir, name):
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(input_dir, name))


@pytest.fixture(scope="module")
def drained_stream(spark, stream_dirs, corpus_batches):
    """Both drops written and drained through the incremental extractor —
    the shared precondition of every test in this module, as a fixture so
    each test is self-contained under -k selection / random ordering."""
    corpus, b1, b2 = corpus_batches
    _write_drop(spark, b1, stream_dirs["in"], "drop1")
    run_incremental_extraction(spark, stream_dirs["in"] + "/*",
                               stream_dirs["out"], stream_dirs["ckpt"])
    n_after_first = spark.read.parquet(stream_dirs["out"]).count()

    # second drop arrives; resume picks up ONLY the new files
    _write_drop(spark, b2, stream_dirs["in"], "drop2")
    run_incremental_extraction(spark, stream_dirs["in"] + "/*",
                               stream_dirs["out"], stream_dirs["ckpt"])
    return {"n_after_first": n_after_first}


def test_streaming_extraction_equals_batch(spark, stream_dirs, corpus_batches,
                                           drained_stream):
    corpus, b1, b2 = corpus_batches
    assert drained_stream["n_after_first"] > 0

    got = spark.read.parquet(stream_dirs["out"])
    want = extract_records_stateless(spark.createDataFrame(corpus["transcripts"]))
    got_set = {tuple(r) for r in got.select(*RECORD_KEY).collect()}
    want_set = {tuple(r) for r in want.select(*RECORD_KEY).collect()}
    assert got_set == want_set

    # idempotent resume: re-running with no new files adds nothing
    run_incremental_extraction(spark, stream_dirs["in"] + "/*",
                               stream_dirs["out"], stream_dirs["ckpt"])
    assert spark.read.parquet(stream_dirs["out"]).count() == got.count()


def test_streaming_extraction_writes_kind_partitions(stream_dirs,
                                                    drained_stream):
    """The extraction sink lays its records out by ``kind``."""
    parts = [p for p in os.listdir(stream_dirs["out"])
             if not p.startswith(("_", "."))]
    assert parts and all(p.startswith("kind=") for p in parts)


def test_watermarked_thread_stats(spark, stream_dirs, corpus_batches,
                                  drained_stream):
    corpus, b1, b2 = corpus_batches
    thread_stats_stream(spark, stream_dirs["in"] + "/*",
                        stream_dirs["agg_out"], stream_dirs["agg_ckpt"])
    got = spark.read.parquet(stream_dirs["agg_out"])
    # availableNow + append emits every window whose watermark passed; the
    # final watermark is max(ts) - 1h, so windows ending before that are out.
    tr = spark.createDataFrame(corpus["transcripts"])
    max_ts = tr.agg(F.max("ts")).collect()[0][0]
    want = (
        tr.groupBy(F.window("ts", "1 day"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .filter(F.col("window.end") <= F.lit(max_ts) - F.expr("INTERVAL 1 HOUR"))
    )
    got_set = {(r["win_start"], r["conv_id"], r["n_turns"])
               for r in got.collect()}
    want_set = {(r["window"]["start"], r["conv_id"], r["n_turns"])
                for r in want.collect()}
    assert got_set == want_set
    assert len(got_set) > 0


def test_incremental_pipeline_equals_batch(spark, stream_dirs, corpus_batches,
                                           drained_stream):
    """The full KG built from STREAMED extraction records (accumulated
    across drops + the relational thread tail) must equal the batch
    pipeline's nodes/edges — incremental ingestion is a first-class path,
    not an approximation."""
    from owl_n4j_spark.operators.extraction import add_thread_mentions
    from owl_n4j_spark.pipeline import run_pipeline

    corpus, b1, b2 = corpus_batches
    # stream_dirs["out"] holds the accumulated records from both drops
    # (drained by the module-scoped drained_stream fixture)
    streamed = spark.read.parquet(stream_dirs["out"])
    records = add_thread_mentions(
        streamed.select("conv_id", "turn_idx", "kind", "surface",
                        "mention_key", "mention_type", "subj_key", "pred",
                        "obj_key", "amount", "date", "ts"))
    ad = spark.createDataFrame(corpus["alias_dict"])
    inc = run_pipeline(spark, None, alias_dict=ad, records_df=records,
                       with_manifest=False)
    batch = run_pipeline(spark, spark.createDataFrame(corpus["transcripts"]),
                         alias_dict=ad, with_manifest=False)
    n_inc = sorted(map(tuple, inc["nodes"].select("node_id", "key", "type").collect()))
    n_bat = sorted(map(tuple, batch["nodes"].select("node_id", "key", "type").collect()))
    assert n_inc == n_bat
    e_inc = sorted(map(tuple, inc["edges"].select(
        "src_key", "dst_key", "rel_type", "weight").collect()))
    e_bat = sorted(map(tuple, batch["edges"].select(
        "src_key", "dst_key", "rel_type", "weight").collect()))
    assert e_inc == e_bat


def test_stateful_session_stream(spark, tmp_path_factory):
    """applyInPandasWithState gap sessionization: sessions closed by a
    later turn emit in-batch; the open tail emits via event-time timeout
    once the watermark passes it. Result must equal batch sessionization
    over the same turns."""
    import pandas as pd
    from owl_n4j_spark.streaming.incremental import SESSION_GAP_S, session_stream

    root = tmp_path_factory.mktemp("sess")
    d = {k: str(root / k) for k in ["in", "out", "ckpt"]}
    for v in d.values():
        os.makedirs(v, exist_ok=True)

    base = pd.Timestamp("2024-01-01 00:00:00")
    gap = pd.Timedelta(seconds=SESSION_GAP_S)

    def turns(conv, times):
        return pd.DataFrame({
            "conv_id": conv,
            "turn_idx": pd.Series(range(len(times)), dtype="int32"),
            "role": "u", "text": "ok", "tool": "t", "ts": times})

    # conv a: two sessions (3 turns, gap, 2 turns); conv b: one session
    a_times = [base, base + pd.Timedelta("5 min"), base + pd.Timedelta("10 min"),
               base + 2 * gap, base + 2 * gap + pd.Timedelta("1 min")]
    b_times = [base + pd.Timedelta("2 min"), base + pd.Timedelta("7 min")]
    drop1 = pd.concat([turns("a", a_times), turns("b", b_times)])
    _write_drop(spark, drop1, d["in"], "drop1")
    session_stream(spark, d["in"] + "/*", d["out"], d["ckpt"])

    # sentinel far in the future advances the watermark past every open
    # session's timeout on the next run
    sentinel = turns("zz", [base + pd.Timedelta("30 days")])
    _write_drop(spark, sentinel, d["in"], "drop2")
    session_stream(spark, d["in"] + "/*", d["out"], d["ckpt"])

    got = {(r["conv_id"], r["session_start"], r["session_end"], r["n_turns"])
           for r in spark.read.parquet(d["out"]).collect()}
    e = lambda t: int(t.timestamp())
    want = {
        ("a", e(a_times[0]), e(a_times[2]), 3),
        ("a", e(a_times[3]), e(a_times[4]), 2),
        ("b", e(b_times[0]), e(b_times[1]), 2),
    }
    assert want <= got
    # nothing except the sentinel's own (possibly still-open) session extra
    extra = got - want
    assert all(c == "zz" for c, *_ in extra)


def test_stateful_session_stream_idempotent_resume(spark, tmp_path_factory):
    """Re-running the stateful session stream with no new files must emit
    nothing (checkpoint + state store resume exactly where they left off)."""
    import pandas as pd
    from owl_n4j_spark.streaming.incremental import session_stream

    root = tmp_path_factory.mktemp("sess_resume")
    d = {k: str(root / k) for k in ["in", "out", "ckpt"]}
    for v in d.values():
        os.makedirs(v, exist_ok=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    drop = pd.DataFrame({
        "conv_id": "a",
        "turn_idx": pd.Series([0, 1, 2], dtype="int32"),
        "role": "u", "text": "ok", "tool": "t",
        "ts": [base, base + pd.Timedelta("5 min"), base + pd.Timedelta("3 h")]})
    _write_drop(spark, drop, d["in"], "drop1")
    session_stream(spark, d["in"] + "/*", d["out"], d["ckpt"])
    n1 = spark.read.parquet(d["out"]).count()
    session_stream(spark, d["in"] + "/*", d["out"], d["ckpt"])  # no new files
    assert spark.read.parquet(d["out"]).count() == n1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate (conv_id, turn_idx) turns re-delivered in a later file drop
    must be suppressed by dedup_stream, and the drained output must equal
    batch dropDuplicates on the union of drops."""
    from owl_n4j_spark.streaming.incremental import dedup_stream

    d = {k: str(tmp_path / k) for k in ["in", "out", "ckpt"]}
    os.makedirs(d["in"], exist_ok=True)
    corpus = generate_corpus_pandas(12, seed=7)
    tr = corpus["transcripts"]
    _write_drop(spark, tr, d["in"], "drop1")
    # second drop re-delivers a third of the same turns (double ingestion)
    dup = tr.iloc[: len(tr) // 3]
    _write_drop(spark, dup, d["in"], "drop2")

    dedup_stream(spark, d["in"] + "/*", d["out"], d["ckpt"])

    got = spark.read.parquet(d["out"])
    key = ["conv_id", "turn_idx"]
    assert got.count() == got.dropDuplicates(key).count()
    expect = spark.createDataFrame(tr).dropDuplicates(key)
    assert got.count() == expect.count()
    assert (got.select(key).exceptAll(expect.select(key)).count() == 0)

    # restart with the same checkpoint: nothing new to emit
    dedup_stream(spark, d["in"] + "/*", d["out"], d["ckpt"])
    assert spark.read.parquet(d["out"]).count() == expect.count()


def test_stream_parity_query(spark, sf_dir):
    """q_stream_parity (§2.11 as a driver row): the availableNow XML and
    wiretap streams must land the exact batch row multiset — both parity
    flags true, and the streamed counts match the batch readers."""
    from owl_n4j_spark.plans.kg_analytics import q_stream_parity

    rows = {r["source"]: r for r in q_stream_parity(spark, sf_dir).collect()}
    assert set(rows) == {"ufed_xml", "wiretap"}
    assert all(r["stream_equals_batch"] for r in rows.values())
    assert rows["ufed_xml"]["rows_stream"] > 0
    # one folder per 'view' event -> one conversation per streamed session
    assert (rows["wiretap"]["rows_stream"]
            == rows["wiretap"]["convs_stream"] > 0)

    # marker-guarded warm path: a second call must not re-run the streams
    # and must return the identical reconciliation
    again = {r["source"]: r for r in
             q_stream_parity(spark, sf_dir).collect()}
    assert {k: tuple(v) for k, v in again.items()} == {
        k: tuple(v) for k, v in rows.items()}
