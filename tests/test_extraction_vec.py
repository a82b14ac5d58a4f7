"""The vectorized (Arrow-regex) extraction engine must be record-for-record
equal to the per-turn loop oracle (operators/extraction.extract_records) on
both corpora: the synthetic fuzz corpus and the events-derived one."""

from datetime import datetime

from owl_n4j_spark.operators.extraction import extract_records
from owl_n4j_spark.operators.extraction_vec import extract_records_vec
from owl_n4j_spark.synth import generate_corpus_pandas

KEY = ["conv_id", "turn_idx", "kind", "surface", "mention_key",
       "mention_type", "subj_key", "pred", "obj_key", "amount", "date"]


def _sets(df):
    return {tuple(r) for r in df.select(*KEY).collect()}


def test_vec_equals_loop_on_fuzz_corpus(spark):
    corpus = generate_corpus_pandas(120, seed=7)
    tr = spark.createDataFrame(corpus["transcripts"])
    a = _sets(extract_records(tr))
    b = _sets(extract_records_vec(tr))
    assert len(a) > 1000
    assert a == b


def test_vec_equals_loop_on_events_transcripts(spark):
    from owl_n4j_spark.sources.events_transcripts import transcripts_from_events
    tr = transcripts_from_events(spark, "/root/testdata/sf0.001")
    a = _sets(extract_records(tr))
    b = _sets(extract_records_vec(tr))
    assert len(a) > 1000
    assert a == b


def test_vec_edge_cases(spark):
    rows = [
        ("c1", 0, "+13017289052@s.whatsapp.net",
         "Hi, this is John Smith. Call me at (301) 728-9052.", "WhatsApp",
         datetime(2024, 1, 1)),
        ("c1", 1, "John Smith", None, None, datetime(2024, 1, 1)),
        ("c1", 2, "John Smith", "", None, datetime(2024, 1, 1)),
        ("c1", 3, "x", "Bob Carl transferred 1.500,00 EUR to account ACC-1234.",
         None, datetime(2024, 1, 1)),
        ("c1", 4, "x", "Dan Exx met Fay Gee in Atlantis.", None, None),  # not in gaz
        ("c2", 0, None, "ok", None, datetime(2024, 1, 2)),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    a = _sets(extract_records(tr))
    b = _sets(extract_records_vec(tr))
    assert a == b
    # EU amount normalized identically
    assert any(r[9] == "1500.00" for r in b if r[2] == "triple")
