"""Host sizing, process-tree RSS sampling and process shutdown.

Everything the benchmark writes lives under the checkout: Spark's local dir,
the JVM and Python temp dirs and the event log are pointed into the run's
work directory before pyspark is imported.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    return os.sysconf("SC_PHYS_PAGES") * PAGE // (1 << 20)


def heap_mb() -> int:
    """Driver heap: a quarter of host RAM, capped at 2 GB. The fixtures are
    tens of MB, and the host is shared, so the heap stays far below RAM."""
    return min(2048, ram_mb() // 4)


def configure_env(root: Path, work: Path) -> None:
    """Size Spark to this host and keep every write inside the checkout.
    Must run before pyspark is imported."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    n = str(nproc())
    os.environ.update({
        "SPARK_GRAFT_CPUS": n,  # local[n] and n shuffle partitions
        "SPARK_DRIVER_MEM": f"{heap_mb()}m",
        "SPARK_GRAFT_PRETOUCH": "0",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it (driver JVM, Python workers)."""
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of ``root_pid`` and all its descendants, read from /proc."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass  # the process ended between the listing and the read
    return total / (1 << 20)


def descendants_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of every process below ``root_pid``,
    ``root_pid`` itself excluded. A process's reaped children count through
    its cutime/cstime, so Python workers that exited inside the window are
    still counted by the pyspark daemon that reaped them."""
    ticks = 0
    for pid in descendants(root_pid)[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass  # the process ended between the listing and the read
    return ticks / CLK_TCK


def job_cpu_s() -> float:
    """CPU clock of the work a job does: the calling thread (the Python
    driver, which runs main()) plus the JVM and Python workers below it.
    The RSS sampler's thread is left out."""
    return time.thread_time() + descendants_cpu_s(os.getpid())


class RssSampler(threading.Thread):
    """Background peak of the process tree's summed RSS."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


def cpu_probe(root: Path, procs: int) -> str:
    """One reading of the repo's CPU probe (context for the run, not a
    metric). Returns its output line, or why there is none."""
    script = root / "scripts" / "cpu_probe.py"
    if not script.is_file():
        return "unavailable (scripts/cpu_probe.py not found)"
    try:
        out = subprocess.run([sys.executable, str(script), str(procs)],
                             capture_output=True, text=True, timeout=60)
        return out.stdout.strip() or f"failed: {out.stderr.strip()[-200:]}"
    except subprocess.TimeoutExpired:
        return "timed out"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every process
    the session started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the JVM's gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    end = time.monotonic() + 30
    while time.monotonic() < end and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)
