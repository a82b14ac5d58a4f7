"""Two-parallelism scaling evidence (BASELINE.json north_rule).

The rule requires >= 0.8 throughput scaling efficiency between cluster sizes
N and 4N. No real cluster exists in this sandbox, so the evidence is the
same job on the same input at local[N_LO] vs local[N_HI] executor threads
(default 4 vs 16), reported as turns/sec at both plus
  eff = (tps_hi / tps_lo) / (N_HI / N_LO).

N_LO=4/N_HI=16 rather than 8/32 because the host has 32 cores total and a
mapInPandas stage runs one JVM thread + one Python worker per executor
thread: at local[32] the job demands ~64 runnable threads on 32 cores, so
the top measurement is core-starved in a way a real 4N-executor cluster is
not. At 16 threads the full demand (~32) fits the host.

Measures (a) the triple-extraction stage alone (the BASELINE.json metric)
and (b) the full pipeline (extract -> link -> canonicalize -> materialize).
Writes BENCH/scaling_latest.md (merge rows into BENCH/BASELINE.md by hand).

Usage: python scripts_dev/bench_scaling.py [n_convs] [n_lo] [n_hi]
"""

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_CONVS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_LO = int(sys.argv[2]) if len(sys.argv) > 2 else 4
N_HI = int(sys.argv[3]) if len(sys.argv) > 3 else 16
FULL_ONLY = len(sys.argv) > 4 and sys.argv[4] == "full_only"
DATA = f"/tmp/owl_scaling_transcripts_{N_CONVS}"
PARTITIONS = 256  # >> threads at both levels: short tail waves, even feeding


def make_session(n_threads: int):
    from owl_n4j_spark.session import get_spark
    # identical shuffle partitioning at both levels (AQE coalesces) so the
    # only variable between the two runs is executor-thread count
    s = get_spark(master=f"local[{n_threads}]",
                  app_name=f"owl-scaling-{n_threads}",
                  shuffle_partitions=64)
    s.sparkContext.setLogLevel("ERROR")
    return s


def gen_input():
    from owl_n4j_spark.synth import generate_transcripts_spark
    spark = make_session(32)
    if not os.path.exists(os.path.join(DATA, "_SUCCESS")):
        shutil.rmtree(DATA, ignore_errors=True)
        (generate_transcripts_spark(spark, N_CONVS, seed=42,
                                    n_partitions=PARTITIONS)
         .write.mode("overwrite").parquet(DATA))
    n = spark.read.parquet(DATA).count()
    spark.stop()
    return n


def run_at(n_threads: int, n_turns: int) -> dict:
    from owl_n4j_spark.operators.extraction import get_extractor
    extract_records = get_extractor()
    from owl_n4j_spark.pipeline import run_pipeline
    from owl_n4j_spark.synth import alias_dict_pandas, universe_for

    spark = make_session(n_threads)
    transcripts = spark.read.parquet(DATA)
    alias_dict = spark.createDataFrame(alias_dict_pandas(universe_for(N_CONVS)))

    # warm-up: JVM codegen + one python worker per core (excluded from
    # timing — steady-state throughput is the metric)
    extract_records(transcripts.sample(0.02, seed=1)).count()

    if FULL_ONLY:
        t_extract, n_records = float("nan"), -1
    else:
        t0 = time.time()
        n_records = extract_records(transcripts).count()
        t_extract = time.time() - t0

    t0 = time.time()
    res = run_pipeline(spark, transcripts, alias_dict=alias_dict,
                       with_manifest=False)
    n_triples = res["triples"].count()
    n_nodes = res["nodes"].count()
    n_edges = res["edges"].count()
    t_full = time.time() - t0

    spark.stop()
    # per-leg host-contention telemetry: a single-thread spin (~0.3 s on
    # an idle core) after the leg, plus loadavg — so a super-linear or
    # sub-0.8 efficiency reading is adjudicable from this file alone
    t0 = time.time()
    x = 0
    for i in range(10_000_000):
        x += i
    spin = round(time.time() - t0, 3)
    return dict(threads=n_threads, t_extract=round(t_extract, 2),
                extract_tps=round(n_turns / t_extract, 1) if t_extract == t_extract else -1,
                t_full=round(t_full, 2),
                full_tps=round(n_turns / t_full, 1),
                n_records=n_records, n_triples=n_triples,
                n_nodes=n_nodes, n_edges=n_edges,
                canary_spin_sec=spin,
                loadavg_1m=round(os.getloadavg()[0], 2))


def _caveat(eff_extract: float, eff_full: float) -> str:
    """Super-linear thread scaling is physically implausible for this
    workload — it means the LO leg ran inside an external-load window.
    Stamp the caveat into the report itself so a reader of this file
    alone cannot take the ratio at face value (r5 advice)."""
    bad = [n for n, e in (("extraction", eff_extract), ("full-pipeline",
                                                        eff_full))
           if e > 1.05]
    if not bad:
        return ""
    return ("\n> **Caveat:** the " + " and ".join(bad) + " efficiency "
            "reads super-linear (>1.05) — a host-contention artifact "
            "inflating the lo leg, not real scaling; re-run on a quiet "
            "host or use the clean pair logged in BENCH/BASELINE.md.\n")


def main():
    n_turns = gen_input()
    print(f"input: {N_CONVS} convs / {n_turns} turns / {PARTITIONS} partitions")
    r8 = run_at(N_LO, n_turns)
    print(json.dumps(r8))
    r32 = run_at(N_HI, n_turns)
    print(json.dumps(r32))
    assert r8["n_triples"] == r32["n_triples"], "parallelism changed results!"

    ratio = N_HI / N_LO
    eff_full = (r32["full_tps"] / r8["full_tps"]) / ratio
    if FULL_ONLY:
        print(f"full eff={eff_full:.3f} (full_only mode: no file written)")
        return
    eff_extract = (r32["extract_tps"] / r8["extract_tps"]) / ratio

    # BENCH/BASELINE.md is the hand-curated multi-run evidence file — a raw
    # rewrite once destroyed 300+ lines of accumulated runs. The fresh
    # report goes to its own file; merge the new run's ROW into the
    # BASELINE.md table by hand (with its loadavg context).
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", "scaling_latest.md"),
              "w") as f:
        f.write(f"""# BENCH — throughput + two-parallelism scaling evidence

North-rule metric: triple-extraction throughput (turns/sec) and scaling
efficiency >= 0.8 between cluster sizes N and 4N. No real cluster exists in
this sandbox, so the evidence is the same job on the same input at
local[{N_LO}] vs local[{N_HI}] executor threads (results asserted identical).
The pair is {N_LO}/{N_HI} rather than 8/32 because the host has 32 cores and a
mapInPandas stage runs one JVM feeder thread plus one Python worker per
executor thread — local[32] would demand ~64 runnable threads on 32 cores,
core-starving the top measurement in a way a real 4N-executor cluster is not.

- Input: {N_CONVS:,} seeded synthetic conversations = {n_turns:,} turns,
  {PARTITIONS} input partitions (deterministic; `owl_n4j_spark.synth`).
- Output parity: both runs emit {r8['n_triples']:,} triples /
  {r8['n_nodes']:,} nodes / {r8['n_edges']:,} edges (asserted equal).
- Host context (idle spin canary ~0.3 s, see bench.py): after lo leg
  spin={r8['canary_spin_sec']} s / loadavg={r8['loadavg_1m']}; after hi leg
  spin={r32['canary_spin_sec']} s / loadavg={r32['loadavg_1m']}.
{_caveat(eff_extract, eff_full)}

| stage | local[{N_LO}] | local[{N_HI}] | speedup | scaling efficiency |
|---|---|---|---|---|
| triple extraction (turns/sec) | {r8['extract_tps']:,.0f} | {r32['extract_tps']:,.0f} | {r32['extract_tps']/r8['extract_tps']:.2f}x | **{eff_extract:.2f}** |
| full pipeline (turns/sec) | {r8['full_tps']:,.0f} | {r32['full_tps']:,.0f} | {r32['full_tps']/r8['full_tps']:.2f}x | **{eff_full:.2f}** |

| stage | local[{N_LO}] wall | local[{N_HI}] wall |
|---|---|---|
| triple extraction | {r8['t_extract']} s | {r32['t_extract']} s |
| full pipeline (extract -> link -> canonicalize -> materialize) | {r8['t_full']} s | {r32['t_full']} s |

Method: input parquet written once; each run is a fresh SparkSession
(`local[N]`, shuffle_partitions=64 at both levels so AQE coalescing is the
only partitioning variable, AQE on); a 2%-sample extraction warm-up excluded
from timing amortizes JVM codegen + Python-worker startup; extraction is the
Arrow-batched `mapInPandas` stage alone; the full pipeline includes linking,
hash-min connected components, and node/edge materialization (fixed
iteration/shuffle latencies in those stages bound full-pipeline scaling
below extraction scaling).

Reproduce: `python scripts_dev/bench_scaling.py {N_CONVS} {N_LO} {N_HI}`
""")
    print(f"extract eff={eff_extract:.3f} full eff={eff_full:.3f}")
    print(json.dumps({"extract_lo_tps": r8["extract_tps"],
                      "extract_hi_tps": r32["extract_tps"],
                      "full_lo_tps": r8["full_tps"],
                      "full_hi_tps": r32["full_tps"],
                      "eff_extract": round(eff_extract, 3),
                      "eff_full": round(eff_full, 3),
                      "loadavg_1m": round(os.getloadavg()[0], 2)}))
    print("wrote BENCH/scaling_latest.md (merge the row into BENCH/BASELINE.md)")


if __name__ == "__main__":
    main()
