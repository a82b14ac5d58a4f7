"""Shared session tables (``kg_analytics.shared_table``): one rebindable
name roots every table's directory, and each table is built once per
(session, sf_dir)."""

import os
import shutil

from owl_n4j_spark.plans import graph_algos, kg_analytics, text

SF = "/root/testdata/sf0.001"


def _file_mtimes(root):
    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(root) for f in files}


def test_one_name_roots_every_shared_table(spark, tmp_path, monkeypatch):
    sf = str(tmp_path / "sf")
    shutil.copytree(SF, sf)  # a fresh (session, sf_dir) key
    root = tmp_path / "wh"
    root.mkdir()
    base = kg_analytics.warehouse_dir

    def warehouse_dir(spark, sf_dir, kind):
        return str(root / os.path.basename(base(spark, sf_dir, kind)))

    # the same rebinding perfbench applies to re-root the engine's scratch
    monkeypatch.setattr(kg_analytics, "warehouse_dir", warehouse_dir)
    builders = [graph_algos.copresence_edges, text._shingles_df,
                kg_analytics._ufed_turns, graph_algos._lpa_membership]
    first = [b(spark, sf) for b in builders]
    files = _file_mtimes(root)
    second = [b(spark, sf) for b in builders]

    kinds = ["copresence_edges", "shingles", "ufed_xml", "ufed_turns"]
    assert sorted(os.listdir(root)) == sorted(
        os.path.basename(base(spark, sf, k)) for k in kinds)
    assert not any(os.path.exists(base(spark, sf, k)) for k in kinds)
    assert all(a is b for a, b in zip(first, second))
    assert files and _file_mtimes(root) == files
