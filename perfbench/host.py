"""Host sizing, the one Spark session configuration, and process-tree memory.

Every workload runs under the same session configuration, sized from the
host: ``local[nproc]``, shuffle partitions ``nproc`` and a fixed driver
heap of a quarter of RAM, capped at 2 GiB. Options the
engine chooses for itself (tier, bucket count, state-store provider, Arrow
batch size) are left unset. All scratch state (Spark local dirs,
warehouse, JVM and Python temp files) lives under the work directory
inside the checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_config(work_dir: str) -> dict[str, str]:
    cpus = nproc()
    heap_gib = max(1, min(2, int(ram_gib() // 4)))
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_gib}g",
        # a fixed heap size keeps the collector's sizing decisions, and so
        # the run time, the same from run to run; pages are touched only as
        # the heap is used, so resident memory still follows the program
        "spark.driver.extraJavaOptions": f"-Xms{heap_gib}g -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def host_record(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gib": round(ram_gib(), 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def start_session(root: str, work_dir: str):
    """Start the benchmark's SparkSession. Python workers resolve the engine
    package from ``root`` (the checkout), whatever the working directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_config(work_dir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM behind it, and wait until it has ended
    (the JVM exits once its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def tree_hwm_mb(pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants:
    this interpreter, the JVM and the Python workers."""
    todo = [pid or os.getpid()]
    total_kb = 0
    seen = set()
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
        todo.extend(_children(p))
    return total_kb / 1024.0


def jvm_heap_peak_mb(spark) -> float:
    """Peak used heap of the JVM since it started: the sum over its heap
    memory pools of each pool's peak usage."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            total += pool.getPeakUsage().getUsed()
    return total / float(1 << 20)
