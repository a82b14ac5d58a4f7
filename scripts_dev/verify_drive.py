"""Drive the engine through its public package boundary, as a user would."""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from owl_n4j_spark.session import get_spark
from owl_n4j_spark.pipeline import run_pipeline
from owl_n4j_spark.synth import generate_corpus_pandas, generate_transcripts_spark

spark = get_spark(master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

wh = "/tmp/owl_verify_wh"
shutil.rmtree(wh, ignore_errors=True)

corpus = generate_corpus_pandas(60, seed=7)
transcripts = spark.createDataFrame(corpus["transcripts"])
alias_dict = spark.createDataFrame(corpus["alias_dict"])

t0 = time.time()
res = run_pipeline(spark, transcripts, alias_dict=alias_dict, warehouse=wh)
n_nodes, n_edges, n_triples = (res["nodes"].count(), res["edges"].count(),
                               res["triples"].count())
t_first = time.time() - t0
print(f"[cold run] nodes={n_nodes} edges={n_edges} triples={n_triples} in {t_first:.1f}s")
print("\n[sample nodes]")
res["nodes"].orderBy("key").show(6, truncate=False)
print("[sample edges]")
res["edges"].orderBy("src_key", "rel_type", "dst_key").show(6, truncate=60)
print("[manifest]")
res["manifest"].filter("partition_id = -1").show(20, truncate=False)

# resume: second run must reuse committed stages (fast, identical counts)
t0 = time.time()
res2 = run_pipeline(spark, transcripts, alias_dict=alias_dict, warehouse=wh,
                    with_manifest=False)
n2 = res2["nodes"].count()
t_resume = time.time() - t0
print(f"[resume run] nodes={n2} in {t_resume:.1f}s (cold was {t_first:.1f}s)")
assert n2 == n_nodes, "resume changed node count!"

# probe 1: no alias dictionary at all (self-linking + CC from SAME_AS only)
res3 = run_pipeline(spark, transcripts, alias_dict=None, with_manifest=False)
print(f"[no-dict probe] nodes={res3['nodes'].count()} "
      f"triples={res3['triples'].count()}")

# probe 2: empty transcripts
empty = spark.createDataFrame([], "conv_id string, turn_idx int, role string, "
                              "text string, tool string, ts timestamp")
res4 = run_pipeline(spark, empty, alias_dict=alias_dict, with_manifest=False)
print(f"[empty-input probe] nodes={res4['nodes'].count()} "
      f"edges={res4['edges'].count()}")

# probe 3: distributed generator path (bench tier entry point)
dist = generate_transcripts_spark(spark, 200, seed=7, n_partitions=8)
print(f"[distributed synth probe] turns={dist.count()}")

print("VERIFY_DRIVE_OK")
