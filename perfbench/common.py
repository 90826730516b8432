"""Shared run state of the benchmark: launch settings, the Spark session,
process shutdown, peak-RSS sampling and small statistics helpers."""

from __future__ import annotations

import contextlib
import math
import os
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd().resolve()

# median time of one probe_kernel() call on the baseline host (4 vCPUs of a
# shared Xeon VM); the timed end-to-end metrics are scaled to a host of that
# speed
PROBE_NOMINAL_S = 0.0065
_PROBE_BUF = bytes(range(256)) * 4096


def probe_kernel() -> None:
    """A fixed piece of CPU work that uses none of the program's code:
    SHA-256 over 8 MiB, in cache. Its time follows the core clock and, unlike
    interpreted Python loops, barely moves between processes."""
    import hashlib

    h = hashlib.sha256()
    for _ in range(8):
        h.update(_PROBE_BUF)


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine from /proc/stat; steal
    is the time the hypervisor ran something else while a vCPU had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


class Timer:
    """Wall time of a block, and that wall time less the share the
    hypervisor stole from the busy vCPUs meanwhile (``unstolen_s``)."""

    def __enter__(self):
        self._jiffies = cpu_jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._jiffies, cpu_jiffies()))
        self.unstolen_s = self.wall_s * (busy / (busy + steal) if busy else 1.0)
        return False


class Bench:
    """Per-run state: paths, launch settings, the Spark session and the
    peak-RSS sampler."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = ROOT / ".perfbench_work" / f"{workload}-s{seed}-{os.getpid()}"
        self.events = self.work / "events"
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}
        self.errors: list[str] = []
        self._peak_rss = 0
        self._stop = threading.Event()
        self.probe_samples: list[float] = []

    # -- launch settings --------------------------------------------------
    def launch_settings(self) -> dict:
        """Host-fit settings passed through the environment that
        ``session.get_spark`` reads: a driver heap sized from MemTotal, Spark
        scratch on disk inside the checkout, no heap pre-touch, and
        ``local[nproc]`` with nproc shuffle partitions."""
        mem_kb = 0
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
        heap_gb = max(1, min(24, int(mem_kb / 2**20 * 0.4)))
        for d in ("spark-local", "tmp", "warehouse", "events"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        os.environ.pop("SPARK_GRAFT_PRETOUCH", None)
        os.environ.update({
            "SPARK_DRIVER_MEM": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": str(self.work / "spark-local"),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "TMPDIR": str(self.work / "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
            # JVM temp files and perf counters stay out of /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
        })
        import pyspark

        return {
            "cpus": self.cpus,
            "master": f"local[{self.cpus}]",
            "shuffle_partitions": self.cpus,
            "mem_total_gb": round(mem_kb / 2**20, 2),
            "driver_mem": f"{heap_gb}g",
            "local_dirs": str((self.work / "spark-local").relative_to(ROOT)),
            "pretouch": False,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        }

    # -- session ----------------------------------------------------------
    def start_session(self, traced: bool = False):
        from file_deduplicator_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": str(self.work / "warehouse")}
        if traced:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": self.events.as_uri()})
        with quiet():
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   master=f"local[{self.cpus}]",
                                   shuffle_partitions=self.cpus,
                                   extra_conf=conf)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def timed_setups(self, register, n: int = 5) -> float:
        """Start a session and register the inputs ``n`` times (stopping the
        earlier sessions); returns the median unstolen time. The first setup
        also launches the JVM; it is reported apart as ``jvm_launch_s``."""
        timers = []
        for i in range(n):
            if i:
                self.stop_session()
            with Timer() as t:
                register(self.start_session())
            timers.append(t)
        times = [t.wall_s for t in timers]
        self.detail["setup_runs_s"] = [round(t, 4) for t in times]
        self.detail["jvm_launch_s"] = round(times[0] - statistics.median(times[1:]), 4)
        return statistics.median(t.unstolen_s for t in timers)

    # -- processes --------------------------------------------------------
    def shutdown(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for
        every descendant process to end."""
        from pyspark import SparkContext

        with contextlib.suppress(Exception):
            self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while True:
            left = descendants(os.getpid())
            if not left:
                break
            if time.monotonic() > deadline:
                for pid in left:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 10
            time.sleep(0.2)

    # -- memory -----------------------------------------------------------
    def start_rss_sampler(self, period: float = 0.2) -> None:
        def loop():
            me = os.getpid()
            while not self._stop.is_set():
                total = sum(rss_bytes(p) for p in [me, *descendants(me)])
                self._peak_rss = max(self._peak_rss, total)
                self._stop.wait(period)

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def peak_rss_mb(self) -> float:
        self._stop.set()
        self._sampler.join()
        return self._peak_rss / 2**20

    # -- host speed ---------------------------------------------------------
    def probe(self, n: int = 24) -> None:
        """Time ``probe_kernel`` ``n`` times, while the program is idle; the
        samples are kept in ``detail["probe_s"]``."""
        for _ in range(n):
            t0 = time.perf_counter()
            probe_kernel()
            self.probe_samples.append(time.perf_counter() - t0)
        self.detail["probe_s"] = quartiles(self.probe_samples)

    def host_factor(self) -> float:
        """Median probe time of this run / PROBE_NOMINAL_S: 2 on a host
        (or in a period of the shared host) half as fast as the baseline."""
        f = statistics.median(self.probe_samples) / PROBE_NOMINAL_S
        self.detail["host_factor"] = f
        return f

    def warm_passes(self, nominal_pass_s: float) -> int:
        return max(1, math.ceil(self.seconds / nominal_pass_s))

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.errors.append(message)


# -- /proc helpers ----------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    """Proportional resident memory (PSS) of ``pid``: pages shared between
    the forked Python workers are split among them instead of counted once
    per worker, so the sum over the process tree is the memory in use."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


@contextlib.contextmanager
def quiet():
    """Send the program's own stdout prints to stderr, so stdout holds only
    the benchmark's records."""
    with contextlib.redirect_stdout(sys.stderr):
        yield


def quartiles(xs: list[float]) -> dict:
    if len(xs) >= 2:
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    else:
        q1 = q2 = q3 = xs[0]
    return {"median": q2, "q1": q1, "q3": q3, "n": len(xs)}


