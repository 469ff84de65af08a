"""Host hygiene and resource readers for a small shared box.

- one Spark process at local[nproc];
- a driver heap well below host RAM (the session default is 24g);
- the checkout on PYTHONPATH, so pandas-UDF workers can import the package;
- every scratch path inside the checkout;
- container CPU from cgroup v1 cpuacct, falling back to v2 cpu.stat.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

DRIVER_MEM = "3g"
CGROUP_V1_USAGE = "/sys/fs/cgroup/cpuacct/cpuacct.usage"
CGROUP_V2_STAT = "/sys/fs/cgroup/cpu.stat"


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(checkout: str, scratch: str) -> None:
    """Environment the Spark JVM and its Python workers inherit. Must run
    before the first SparkSession is created."""
    os.makedirs(scratch, exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def spark_conf(scratch: str) -> dict:
    """Session settings that keep Spark's files inside the checkout (local
    dirs come from SPARK_LOCAL_DIRS, set by prepare_env)."""
    tmp = os.path.join(scratch, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # heap committed and touched up front: otherwise G1's adaptive heap
        # growth alone moved peak RSS by up to ~40% between runs
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }


def stop_jvm(timeout: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait for it to exit
    (closing its stdin pipe is the gateway's shutdown signal)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_cpu_usage(v1_text: str | None, v2_text: str | None) -> float | None:
    """Container CPU seconds from cgroup v1 `cpuacct.usage` (ns) text, else
    from v2 `cpu.stat` (usage_usec line) text; None when neither parses."""
    if v1_text is not None:
        try:
            return int(v1_text.strip()) / 1e9
        except ValueError:
            pass
    if v2_text is not None:
        for line in v2_text.splitlines():
            parts = line.split()
            if len(parts) == 2 and parts[0] == "usage_usec":
                try:
                    return int(parts[1]) / 1e6
                except ValueError:
                    return None
    return None


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def container_cpu_s() -> float:
    v = parse_cpu_usage(_read(CGROUP_V1_USAGE), _read(CGROUP_V2_STAT))
    if v is None:
        raise RuntimeError("no cgroup CPU accounting (cpuacct.usage or cpu.stat)")
    return v


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of root_pid plus all its descendants (JVM + Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss[int(name)] = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples the summed RSS of a process tree (the JVM and its Python
    workers) every `period` seconds on a daemon thread and keeps the peak.
    Use as a context manager."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
