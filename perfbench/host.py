"""Host-side helpers: noise canary, memory high-water marks, work-dir
cleanup and shutting down the JVM the session started."""

from __future__ import annotations

import os
import re
import shutil
import time


def spin_canary() -> float:
    """Fixed single-thread spin (the method of the repo's bench.py): about
    0.3 s on an idle core. A reading several times higher means other
    tenants hold the CPU and every wall time of the run is inflated."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    return time.perf_counter() - t0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def task_slots() -> int:
    """Spark task threads for a run: one fewer than the cores, leaving one
    for the driver process, the JVM's GC and JIT threads and other tenants.
    On a shared 4-core host this cut the five-seed spread of the batch
    pass wall from 0.19 to 0.04 of its median and slowed a pass by ~3%."""
    return max(1, cpu_count() - 1)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for n in files:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


_RUN_DIR = re.compile(r"^run_(\d+)$")


def clean_stale_runs(work_root: str) -> int:
    """Remove run directories whose process is gone. A warehouse_serve run
    leaves thousands of wiretap folders, and stale trees skew I/O-bound
    timings (bench.py measured 2-3x on fixture writes)."""
    removed = 0
    if not os.path.isdir(work_root):
        return 0
    for name in os.listdir(work_root):
        m = _RUN_DIR.match(name)
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
            removed += 1
    return removed


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active SparkContext and wait for the JVM process it ran in
    (its Python workers are children of that JVM and end with it)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()   # the launcher exits when its stdin closes
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout_s)
