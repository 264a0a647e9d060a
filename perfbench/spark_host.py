"""Session lifecycle, host facts and memory sampling for the benchmark.

Every file the JVM, its Python workers and this process write goes under
the run's work directory inside the checkout: Spark's local dirs, the JVM
temp dir, the Python temp dir, the SQL warehouse and (traced runs) the
event log.
"""

from __future__ import annotations

import os
import platform
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# fresh sessions per run; setup_s / session.start_s is their median
SETUPS = 5
NO_PERF_FILE = "-XX:-UsePerfData"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def total_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    """Driver heap (= executor heap in local mode): a quarter of the host's
    memory, capped at 2 GB — the inputs are a few MB, and a heap that fills
    early keeps the resident-memory peak steady from run to run."""
    return max(1, min(2, total_mem_mb() // 1024 // 4))


def configure_env(work: Path) -> None:
    """Process environment the JVM and its Python workers inherit. Must run
    before the first session is created."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb()}g"
    # the JVMs' perf-counter files would otherwise go to /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_FILE


def session_conf(work: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} {NO_PERF_FILE}",
    }
    if event_log:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start(cores: int, work: Path, event_log: bool = False):
    """A session built by the engine's own factory at local[cores]."""
    from bgp_feature_extractor_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf=session_conf(work, event_log),
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until it has exited; its Python workers end with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        pid = int(entry)
        rss[pid] = kb
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """High-water resident memory of the JVM plus its Python workers,
    sampled every ``interval`` seconds in a background thread."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.pid))


def host_record(spark, cores: int, load_before: tuple[float, ...]) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "mem_total_mb": total_mem_mb(),
        "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_before": list(load_before),
        "loadavg_after": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
