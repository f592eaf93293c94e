"""Session start, cold storage and process-memory sampling for the benchmark.

Everything here acts on one Spark session in ``local[N]`` mode, driven from
this single Python process: the JVM it launches and the Python workers that
JVM forks are the whole system under test.
"""

from __future__ import annotations

import gc
import os
import shlex
import signal
import subprocess
import sys
import threading
import time

RSS_PERIOD_S = 0.05


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_env(root: str, work: str, driver_mem: str, trace: bool) -> str:
    """Environment for the JVM and its workers, set before the JVM starts.

    - ``PYTHONPATH`` carries the repository root, so Python workers import
      the package from any working directory.
    - Spark's scratch space, the JVM's temp dir and the event log all live
      under ``work``.
    - The event log is on only for a traced run, uncompressed and not
      rolling, so one JSON-lines file per application holds every event.

    Returns the event-log directory."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    events = os.path.join(work, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # get_spark builds its own builder, so settings it does not take reach
    # the JVM through the submit arguments PySpark launches it with
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return events


def start_session(cpus: int, shuffle_partitions: int):
    from city2graph_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=str(shuffle_partitions))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until it and every Python worker it
    forked have exited.  The JVM exits when its stdin closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = _proc_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in tree if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def cached_blocks(spark) -> int:
    """Cached partitions across every persisted RDD and DataFrame."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.numCachedPartitions() for i in infos))


def make_cold(spark) -> int:
    """Drop every cached DataFrame and persisted RDD (including local
    checkpoints the library leaves behind), then collect garbage in the JVM
    and in this process, so every job starts from the same storage and heap
    state.  Returns the cached-block count afterwards, which a timed job
    requires to be 0."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    return cached_blocks(spark)


# --------------------------------------------------------------------------
# resident memory of the JVM and its Python workers, sampled from /proc
# --------------------------------------------------------------------------

def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Peak summed RSS of a process tree while the ``with`` block runs."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb,
                               _rss_mb(_proc_tree(self.root_pid)))
            if self._stop.wait(RSS_PERIOD_S):
                return

    def __enter__(self) -> RssSampler:
        self.peak_mb = _rss_mb(_proc_tree(self.root_pid))
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid

