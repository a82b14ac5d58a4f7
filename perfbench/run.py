"""Benchmark of the spark-kg engine, run from outside the engine.

    python3 perfbench/run.py --workload warehouse_serve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds its inputs from ``--seed``,
drives the engine on ``local[<nproc - 1>]`` through its public functions,
checks every output, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the workload once untraced and once
with Spark's event log on, and reports the per-layer metrics plus the
tracing overhead. ``--size smoke`` shrinks the inputs for tests.

Everything the run writes lives under perfbench/_work/run_<pid>, which is
removed when the run ends. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")

# name -> unit. Every --trace 0 run prints exactly END_TO_END; every
# --trace 1 run prints exactly PER_LAYER (0 where a layer does not run on
# the workload). BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "work_s": "s",
    "peak_rss_mb": "MB",
}

# warehouse_serve legs printed (in seconds) beside the end-to-end metrics;
# they add up to its work_s with the cold commit
LEGS = {"resume_s": "pipeline.resume.s", "first_touch_s": "serve.first_touch_s",
        "serve_p50_s": "serve.p50_s", "serve_p75_s": "serve.p75_s",
        "incremental_s": "incremental.s"}

_COUNTER_UNITS = {"jobs": "count", "tasks": "count", "task_s": "s",
                  "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
# top-level labels that get the Spark-level counters
COUNTED_LABELS = ("pipeline", "extraction", "linking", "canonicalize",
                  "materialize", "incremental", "ufed_xml", "wiretap",
                  "kg_analytics", "graph_algos")
COMMIT_STAGES = ("t01_normalized", "t02_records", "t03_mapping",
                 "t04_mentions", "t05_triples", "t06_nodes", "t07_edges")


def _per_layer() -> dict[str, str]:
    from workloads import GRAPH_OPS, KG_READS

    m = {"pipeline.s": "s",
         "pipeline.normalize.s": "s",
         "pipeline.normalize.rows_in": "count",
         "pipeline.normalize.rows_out": "count"}
    m.update({f"pipeline.commit.{s}.s": "s" for s in COMMIT_STAGES})
    m["pipeline.commit.other.s"] = "s"
    m.update({"pipeline.commit.bytes": "bytes", "pipeline.resume.s": "s",
              "pipeline.resume.stages_reused": "count",
              "extraction.s": "s", "extraction.turns_per_s": "turns/s",
              "extraction.records": "count", "extraction.python_s": "s",
              "linking.s": "s", "linking.keys": "count",
              "linking.exact": "count", "linking.fuzzy": "count",
              "linking.self": "count", "linking.fuzzy_candidates": "count",
              "linking.fuzzy_yield": "ratio",
              "canonicalize.s": "s", "canonicalize.sameas_edges": "count",
              "canonicalize.merged_keys": "count",
              "materialize.s": "s", "materialize.nodes": "count",
              "materialize.edges": "count",
              "materialize.edges_quarantined": "count",
              "materialize.task_skew": "ratio",
              "incremental.s": "s", "incremental.extract.s": "s",
              "incremental.turns_per_s": "turns/s",
              "incremental.batches": "count", "incremental.commit.s": "s",
              "ufed_xml.parse.s": "s", "ufed_xml.turns_per_s": "turns/s",
              "wiretap.parse.s": "s", "wiretap.sessions_per_s": "sessions/s",
              "wiretap.quarantined": "count"})
    for t in ("kg_warehouse", "ufed_turns", "wiretap_sessions",
              "copresence_edges", "lpa_membership"):
        m[f"shared.{t}.build_s"] = "s"
    m.update({"serve.first_touch_s": "s", "serve.p50_s": "s",
              "serve.p75_s": "s"})
    m.update({f"kg_analytics.{q}.p50_s": "s" for q in KG_READS})
    m.update({f"graph_algos.{q}.s": "s" for q in GRAPH_OPS})
    m.update({"graph_algos.round_s": "s", "graph_algos.busy_share": "ratio"})
    for label in COUNTED_LABELS:
        for c, unit in _COUNTER_UNITS.items():
            m[f"{label}.{c}"] = unit
    m["trace.overhead_s"] = "s"
    return m


def _parse_args(argv):
    from workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="bench")
    return p.parse_args(argv)


def _prepare_environment(work: str) -> None:
    """Python workers import the engine from the checkout: Spark starts
    them with this process's environment, so PYTHONPATH must name the root
    before the JVM launches. Scratch space stays inside the run dir."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def _start_session(work: str, cores: int, event_log_dir: str | None):
    from eventlog import event_log_conf
    from owl_n4j_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a heap committed and touched in full at start (-Xms = -Xmx,
        # AlwaysPreTouch) makes the JVM's resident high-water mark the heap
        # cap plus native memory, not how many heap regions the collector
        # happened to touch (which moved it by ~300 MB from run to run)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(event_log_conf(event_log_dir))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    spark = get_spark(master=f"local[{cores}]", app_name="owl-n4j-perfbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_once(args, work: str, cores: int, t_start: float,
              event_log_dir: str | None, probe: bool = False):
    """One workload run in its own SparkContext (``probe``: stop after the
    first timed construction). Returns the Run and the peak RSS (MB) of
    this process plus its JVM."""
    import host
    import workloads
    from eventlog import Labels

    spark = _start_session(work, cores, event_log_dir)
    # each half of a traced run gets its own inputs and warehouses
    work = os.path.join(work, "traced" if event_log_dir else "untraced")
    workloads.redirect_engine_scratch(work)
    run = workloads.Run(spark=spark, labels=Labels(spark), work=work,
                        seed=args.seed, seconds=args.seconds, size=args.size,
                        t_start=t_start, probe=probe)
    try:
        workloads.RUNNERS[args.workload](run, traced=event_log_dir is not None)
    except Exception:
        run.fail(args.workload)
    rss = host.vm_hwm_mb() + host.vm_hwm_mb(host.jvm_pid(spark))
    spark.stop()
    return run, rss


def _walls_file(args) -> str:
    return os.path.join(WORK_ROOT,
                        f"untraced_walls_{args.workload}_{args.size}.jsonl")


def _record_wall(args, wall: float) -> None:
    with open(_walls_file(args), "a") as f:
        f.write(json.dumps({"seed": args.seed, "pipeline_s": wall}) + "\n")


def _recorded_walls(args) -> list[float]:
    try:
        with open(_walls_file(args)) as f:
            return [json.loads(line)["pipeline_s"] for line in f if line.strip()]
    except (OSError, ValueError, KeyError):
        return []


def _layer_metrics(run, log_path: str, cores: int, overhead_s: float) -> dict:
    """Per-layer values: Python-side walls and counts of the traced run
    plus the event log's per-description Spark counters."""
    from eventlog import COUNTERS, parse_event_log
    from workloads import GRAPH_OPS

    log = parse_event_log(log_path)
    L = run.labels
    out = {name: 0.0 for name in _per_layer()}
    for label in ("extraction", "linking", "canonicalize", "materialize"):
        out[f"{label}.s"] = L.total(label)
    out["pipeline.normalize.s"] = L.total("normalize")
    out.update({k: v for k, v in run.layer.items() if k in out})
    for label in COUNTED_LABELS:
        stats = log.rollup(label)
        for c in COUNTERS:
            out[f"{label}.{c}"] = stats.counters()[c]
    out["extraction.python_s"] = log.rollup("extraction").python_ms / 1000.0
    out["materialize.task_skew"] = log.rollup("materialize").task_skew()
    stages = log.stage_walls("pipeline.commit")
    for stage, wall in stages.items():
        out[f"pipeline.commit.{stage}.s"] = wall
    if stages:
        # cold-commit wall the stage writes do not cover: query planning
        # and the manifest counts after the last stage
        out["pipeline.commit.other.s"] = out["pipeline.s"] - sum(stages.values())
    graph = log.rollup("graph_algos")
    wall = sum(L.walls[f"graph_algos.{q}"][-1]
               for q in GRAPH_OPS if L.walls.get(f"graph_algos.{q}"))
    out["graph_algos.busy_share"] = (graph.task_ms / 1000.0 / (wall * cores)
                                     if wall else 0.0)
    out["trace.overhead_s"] = overhead_s
    return out


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "owl_n4j_spark")):
        print(f"perfbench: the engine package owl_n4j_spark is not in {ROOT}; "
              "run perfbench/run.py from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    args = _parse_args(argv)

    import host

    host.clean_stale_runs(WORK_ROOT)
    work = os.path.join(WORK_ROOT, f"run_{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    canary_start, load_start = host.spin_canary(), host.loadavg_1m()
    t_start = time.perf_counter()     # set-up starts after the canary
    cores = host.task_slots()
    try:
        _prepare_environment(work)
        # The tracing overhead is the traced construction wall minus the
        # untraced one: the median that earlier untraced runs of this
        # workload recorded in this checkout, or else a probe run that
        # stops after its first construction, in a SparkContext of its
        # own ahead of the traced one (the JVM stays up between them).
        reference = _recorded_walls(args) if args.trace else []
        if args.trace and reference:
            run, rss = None, 0.0
        else:
            run, rss = _run_once(args, work, cores, t_start, None,
                                 probe=bool(args.trace))
            reference = [run.layer.get("pipeline.s", 0.0)]
        metrics, units = {}, dict(END_TO_END)
        if args.trace:
            import eventlog

            log_dir = os.path.join(work, "eventlog")
            traced, _ = _run_once(args, work, cores, time.perf_counter(),
                                  log_dir)
            overhead = (traced.layer.get("pipeline.s", 0.0)
                        - statistics.median(reference))
            units = _per_layer()
            metrics = _layer_metrics(traced, eventlog.find_event_log(log_dir),
                                     cores, overhead)
            if run is not None:
                traced.attempted += run.attempted
                traced.failed += run.failed
            run = traced
        else:
            metrics = dict(run.e2e)
            metrics["peak_rss_mb"] = rss
            if run.failed == 0 and "pipeline.s" in run.layer:
                _record_wall(args, run.layer["pipeline.s"])
    finally:
        host.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    diag = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "size": args.size,
            "error_rate": run.failed / max(1, run.attempted),
            "canary_spin_s_start": round(canary_start, 3),
            "canary_spin_s_end": round(host.spin_canary(), 3),
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": host.loadavg_1m()}
    print("perfbench diagnostics " + json.dumps(diag))
    if not args.trace:
        print("perfbench spans " + json.dumps(
            {k: round(run.labels.total(k), 3) for k in run.labels.walls
             if "." not in k or k.startswith(("setup.", "pipeline."))}))
        for leg, key in LEGS.items():
            if key in run.layer:
                print(f"perfbench leg {leg} = {run.layer[key]:.6g} s")
    for name, value in metrics.items():
        print(f"perfbench metric {name} = {value:.6g} {units[name]}")
    missing = [n for n in units if n not in metrics]
    correct = run.failed == 0 and not missing
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": units[n]}
                    for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
