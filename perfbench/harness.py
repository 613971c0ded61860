"""Shared plumbing for the benchmark: the checkout's import paths, a
hermetic work directory, one Spark session on local[<cores>], and
CPU time and RSS read over the driver's process tree.

Everything the benchmark writes lives under `<checkout>/.perfbench_work/`
and is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

WORK_BASE = os.path.join(ROOT, ".perfbench_work")
# small inputs need far less than session.py's 12g default heap
DRIVER_MEM = "4g"
SPARK_MAIN = "org.apache.spark.deploy.SparkSubmit"


def slots() -> int:
    return len(os.sched_getaffinity(0))


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(path: str) -> str:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:  # the process exited between listing and reading
        return ""


def spark_jvms() -> list[int]:
    """Pids of every live Spark driver JVM."""
    return [
        p for p in _pids()
        if SPARK_MAIN in _read(f"/proc/{p}/cmdline").replace("\0", " ")
    ]


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in _pids():
        stat = _read(f"/proc/{p}/stat")
        if stat:
            # the command name may hold spaces; ppid follows its ')'
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(p)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s() -> float:
    """CPU seconds used so far by this process and every live
    descendant: the driver JVM and the Python workers, plus the workers
    that have exited, which their parent has reaped. Hypervisor steal
    is not in it."""
    total = 0
    for p in [os.getpid()] + descendants(os.getpid()):
        stat = _read(f"/proc/{p}/stat")
        if stat:
            # utime, stime, cutime, cstime: fields 14-17
            total += sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for p in pids:
        for line in _read(f"/proc/{p}/status").splitlines():
            if line.startswith("VmRSS:"):
                total_kb += int(line.split()[1])
                break
    return total_kb / 1024.0


class RssSampler:
    """Peak summed RSS of this process's children — the driver JVM and
    the Python workers it forks — sampled from /proc on a thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Workdir:
    """A fresh directory per run; Spark's local dirs, the JVM's temp
    dir and every input and output sit under it."""

    def __init__(self):
        self.path = os.path.join(WORK_BASE, f"{os.getpid()}-{time.time_ns()}")
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.sub(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:  # another run's directory is still there
            pass


def start_spark(work: Workdir):
    """The production session factory, pointed at the work directory."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["DS2_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import ds2_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from ds2_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=slots(),
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job of a unit back from the
            # status store; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end the gateway JVM and wait until every
    process it started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


@contextmanager
def no_span(layer: str, **attrs):
    """Stands in for Tracer.span when a unit runs untraced."""
    yield {}


def stat_ticks() -> tuple[int, int]:
    # the frozen harness owns the /proc/stat reader; import it, don't copy
    from bench import _stat_ticks

    return _stat_ticks()
