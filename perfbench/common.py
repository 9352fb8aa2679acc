"""Shared runtime for the workloads: paths inside the checkout, the Spark
session, memory peaks, statistics and the result line."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# everything the benchmark writes lives here (ignored by git)
WORK = os.path.join(ROOT, ".perfbench")

CPUS = 4
DRIVER_MEM = "3g"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "blacklab_spark", "corpus.py"))


def prepare_env() -> None:
    """Point the engine's scratch space, temp files and Python workers
    at the checkout, before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata files outside the checkout from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp}"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    """The engine's own session factory at local[4]; returns (spark,
    seconds it took until a first trivial job ran)."""
    t0 = time.perf_counter()
    from blacklab_spark.session import get_spark

    spark = get_spark(
        "perfbench", cpus=CPUS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end its JVM and wait until every process it
    started (JVM, Python workers) has exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    alive = [p for p in started if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
    while any(_running(p) for p in alive):
        time.sleep(0.1)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += os.path.getsize(os.path.join(d, f))
    return n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    """90th percentile, linear between order statistics."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def emit(correct: bool, attempted: int, failed: int, metrics: dict,
         report: list[tuple[str, float, str, str]]) -> None:
    """Print the report lines (name, value, unit, note) for people, then
    the result as one JSON line: correct, attempted, failed, metrics."""
    for name, value, unit, note in report:
        print(f"{name:<48} {value:>14.6g} {unit:<8} {note}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
