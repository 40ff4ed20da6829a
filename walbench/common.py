"""Shared pieces of the benchmark: statistics, the regime stamp, the
process-tree memory sampler, the work directory and the Spark session.

Nothing here imports ``walrus_spark`` at module load; ``spark_session``
does, so a checkout without the program fails in ``run.py``'s import
check before any of this runs.
"""

from __future__ import annotations

import contextlib
import math
import os
import platform
import shutil
import statistics
import threading
import time

# Spark runs local[N] with N = min(4, cores available to this process).
MAX_CORES = 4
# Driver heap of every JVM the benchmark starts (the in-process session
# and the wire workload's serve child).
DRIVER_MEMORY = "1g"
# Restart cycles behind setup_s; the median is reported.
SETUP_REPEATS = 3
TAIL_MIN_BEYOND = 10


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def pct(xs, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return float(s[k])


def tail_pct(n: int) -> float | None:
    """The highest of p50/p90/p99/p99.9 with at least ten samples
    beyond it, or None when even p50 is unsupported."""
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        if n * (1 - p / 100.0) >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail_ms(xs) -> float:
    """The supported tail (see ``tail_pct``) of a sample in seconds, in
    ms; 0 when the sample is too small for any."""
    p = tail_pct(len(xs))
    return pct(xs, p) * 1000 if p is not None else 0.0


def summary(xs, name: str, scale: float = 1000.0) -> dict:
    """Median and supported tail of a latency sample given in seconds,
    reported in ms (``scale``), plus the sample count."""
    xs = list(xs)
    out = {f"{name}.samples": len(xs)}
    if not xs:
        return out
    out[f"{name}.p50"] = pct(xs, 50) * scale
    tp = tail_pct(len(xs))
    if tp is not None:
        out[f"{name}.tail_pct"] = tp
        out[f"{name}.tail"] = pct(xs, tp) * scale
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


def regime_stamp() -> dict:
    """Host regime at start; ``finish_stamp`` adds the end load."""
    import pyarrow

    stamp = {
        "cpu_affinity": len(os.sched_getaffinity(0)),
        "load1_start": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }
    try:
        import pyspark

        stamp["spark"] = pyspark.__version__
    except ImportError:
        stamp["spark"] = None
    return stamp


def finish_stamp(stamp: dict) -> dict:
    stamp["load1_end"] = os.getloadavg()[0]
    return stamp


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in the tree's sum, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_pss(root_pid: int) -> dict[int, int]:
    """PSS bytes of each process in the tree under ``root_pid``."""
    seen, stack, out = set(), [root_pid], {}
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        out[pid] = _pss_bytes(pid)
        stack.extend(_children(pid))
    return out


class RssSampler:
    """Samples the memory (PSS) of this process and all of its
    descendants (the Spark JVM, Python workers, the serve child) every
    ``interval`` seconds while not paused; ``peak_mb`` is the largest
    sum seen. Workloads pause it while reading outputs back for the
    checks, which is the benchmark's work, not the workload's."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_by_process: dict[str, float] = {}
        self._stop = threading.Event()
        self._active = threading.Event()
        self._active.set()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @contextlib.contextmanager
    def paused(self):
        self._active.clear()
        try:
            yield
        finally:
            self._active.set()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._active.is_set():
                per = tree_pss(pid)
                total = sum(per.values())
                if total > self.peak:
                    self.peak = total
                    self.peak_by_process = {
                        f"{_comm(p)}:{p}": round(b / 2**20, 1) for p, b in per.items()
                    }
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class WorkDir:
    """Scratch directory inside the checkout, removed on exit. Spark's
    local dirs and the JVM/Python temp dirs point into it, so a run
    writes nowhere else."""

    def __init__(self, tag: str) -> None:
        self.path = os.path.join(checkout_root(), ".walbench_work", f"{tag}-{os.getpid()}")

    def __enter__(self) -> "WorkDir":
        shutil.rmtree(self.path, ignore_errors=True)
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        # no hsperfdata files under /tmp either
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        # no console progress bars: they cost driver CPU and bury stderr
        os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        import tempfile

        tempfile.tempdir = tmp
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass

    def child(self, name: str) -> "SubDir":
        return SubDir(self.sub(name))

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p


class SubDir:
    """One pass's directory inside the run's WorkDir."""

    def __init__(self, path: str) -> None:
        self.path = path

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def spark_session():
    from walrus_spark.session import get_spark

    return get_spark("walbench", cpus=cores())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it runs on and wait until the
    JVM and every process it started (Python workers) have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    tree = [p for p in tree_pss(os.getpid()) if p != os.getpid()]
    gateway.shutdown()
    proc = gateway.proc
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def restart_session(spark):
    """Stop the session and build it again through the program's own
    factory. The JVM stays up, so this is the program's session set-up
    without the one-time JVM launch."""
    spark.stop()
    return spark_session()


def dir_stats(root: str) -> tuple[int, int]:
    """(files, bytes) under the log root; the stream mirror holds hard
    links to data files, so its bytes are not counted again."""
    files = size = 0
    for d, _dirs, fs in os.walk(root):
        in_mirror = os.path.relpath(d, root).split(os.sep)[0] == "stream"
        for f in fs:
            files += 1
            if not in_mirror:
                size += os.path.getsize(os.path.join(d, f))
    return files, size
