"""The manifest is built from each stage's own commit: stage totals ride
the job that writes or checkpoints the stage, per-partition rows are the
committed part files (counts from their parquet footers), and executed
stages carry real spans. Job budgets pin that no count job is added."""

import os

import pytest
from pyspark.sql import functions as F

from owl_n4j_spark.pipeline import run_pipeline
from owl_n4j_spark.synth import generate_corpus_pandas

# manifest stage -> the committed stage directory its rows describe
STAGE_DIRS = {
    "normalize": "t01_normalized",
    "extract": "t02_records",
    "extract_external": "t02_records",
    "link_canonicalize": "t03_mapping",
    "triples": "t05_triples",
    "materialize_nodes": "t06_nodes",
    "edges_referential": "t07_edges",
}


@pytest.fixture(scope="module")
def inputs(spark):
    corpus = generate_corpus_pandas(20, seed=5)
    tr = spark.createDataFrame(corpus["transcripts"]).cache()
    ad = spark.createDataFrame(corpus["alias_dict"]).cache()
    tr.count(), ad.count()
    return tr, ad


def _jobs_of(spark, fn):
    """Number of Spark jobs ``fn`` runs (jobs outside any job group)."""
    st = spark.sparkContext.statusTracker()
    mark = max(st.getJobIdsForGroup(None), default=-1)
    fn()
    return len([j for j in st.getJobIdsForGroup(None) if j > mark])


def _rows(res):
    return sorted(
        (r.stage, r.partition_id, r.in_rows, r.out_rows, r.quarantined,
         r.snapshot_id)
        for r in res["manifest"].collect())


def test_manifest_job_budget(spark, inputs, tmp_path):
    tr, ad = inputs

    def cold_and_resume(wm):
        wh = str(tmp_path / f"wh_{wm}")
        run = lambda: run_pipeline(spark, tr, alias_dict=ad,  # noqa: E731
                                   warehouse=wh, with_manifest=wm)
        return _jobs_of(spark, run), _jobs_of(spark, run)

    def batch(wm):
        # the order in which AQE's query stages finish can add a job to a
        # pass on either side: compare the fewer of two passes
        return min(_jobs_of(spark, lambda: run_pipeline(
            spark, tr, alias_dict=ad, with_manifest=wm)["edges"].count())
            for _ in range(2))

    (cold0, resume0), (cold1, resume1) = (cold_and_resume(False),
                                          cold_and_resume(True))
    assert cold1 - cold0 <= 2, (cold0, cold1)
    assert resume1 - resume0 <= 5, (resume0, resume1)
    assert batch(True) - batch(False) <= 2


def test_manifest_lineage_spans_and_resume(spark, inputs, tmp_path):
    tr, ad = inputs
    wh = str(tmp_path / "wh")
    cold = run_pipeline(spark, tr, alias_dict=ad, warehouse=wh)
    again = run_pipeline(spark, tr, alias_dict=ad, warehouse=wh)
    batch = run_pipeline(spark, tr, alias_dict=ad)
    ext_wh = str(tmp_path / "wh_ext")
    external = run_pipeline(spark, tr, alias_dict=ad, warehouse=ext_wh,
                            records_df=cold["records"])

    def check_lineage(res, root):
        mf = res["manifest"].toPandas()
        totals = mf[mf["partition_id"] == -1].set_index("stage").astype(
            {c: "int64" for c in cols})
        for stage, parts in mf[mf["partition_id"] >= 0].groupby("stage"):
            assert parts["out_rows"].sum() == totals.loc[stage, "out_rows"]
            committed = sorted(
                int(n.split("-")[1])
                for n in os.listdir(os.path.join(root, STAGE_DIRS[stage]))
                if n.startswith("part-"))
            assert sorted(parts["partition_id"]) == committed, stage
        assert set(mf[mf["partition_id"] >= 0]["stage"]) == set(totals.index)
        return totals.sort_index()

    cols = ["in_rows", "out_rows", "quarantined"]
    totals = check_lineage(cold, wh)
    assert set(totals.index) == set(STAGE_DIRS) - {"extract_external"}
    # executed stages have real spans; resumed ones zero duration
    assert (totals["finished_at"] > totals["started_at"]).all()
    resumed = check_lineage(again, wh)
    assert (resumed["finished_at"] == resumed["started_at"]).all()
    assert _rows(again) == _rows(cold)

    # batch: stage totals only, the same totals as the committed run
    mf = batch["manifest"].toPandas()
    assert (mf["partition_id"] == -1).all()
    assert mf.set_index("stage").sort_index()[cols].equals(totals[cols])

    # records_df: t01 is not staged, extraction is external
    ext = check_lineage(external, ext_wh)
    assert "normalize" not in ext.index
    assert ext.loc["extract_external", "out_rows"] == cold["records"].count()
    assert (ext.drop("extract_external")[cols]
            .equals(totals.drop(["normalize", "extract"])[cols]))
    assert external["manifest"].filter(
        F.col("snapshot_id").isNull()).count() == 0
