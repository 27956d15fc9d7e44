"""Process-level plumbing for one benchmark run.

``Env`` owns everything a run creates: an empty scratch directory inside
the checkout, the Spark session (local[nproc], bounded driver memory, no
progress bar, ``deluge_spark`` shipped to the Python workers), a sampler
of the resident memory of this process and all its descendants, and the
shutdown that waits for the JVM and its Python workers to exit.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile
from contextlib import contextmanager

DRIVER_MEMORY = "1g"
RSS_INTERVAL_S = 0.25
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, int]:
    """pid → ppid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue
        # the field after the parenthesised command name is the state,
        # then the parent pid
        out[int(d)] = int(data[data.rindex(b")") + 2:].split()[1])
    return out


def descendants(pid: int, table: dict[int, int] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for p, pp in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_bytes(pid: int) -> int | None:
    """Peak resident set (VmHWM) of ``pid``; None once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class RssSampler:
    """Peak memory of this process, the JVM and the Spark Python workers.

    Polled on a background thread: the sum, over these processes alive at a
    poll, of each one's own peak resident set so far (VmHWM, which the
    kernel keeps exactly), maximised over the run. A spike between polls
    still counts, and a worker that has exited no longer does. Short-lived
    helpers the JVM forks are left out: until they exec, they report the
    JVM's own pages."""

    def __init__(self) -> None:
        self.peak = 0
        self.jvm_pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-rss")
        self._thread.start()

    def sample(self) -> None:
        me = os.getpid()
        pids = [me] + [p for p in descendants(me)
                       if p == self.jvm_pid or _is_python_worker(p)]
        total = sum(filter(None, map(_hwm_bytes, pids)))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


class Env:
    """Scratch directory + Spark session of one run."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.base = os.path.join(root, ".perfbench")
        self.work = os.path.join(self.base, "work")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # every temp file of this process, the JVM and the workers lands in
        # the scratch directory
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # the spark-submit launcher JVM, which extraJavaOptions do not reach
        os.environ["SPARK_LAUNCHER_OPTS"] = \
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        self.cores = len(os.sched_getaffinity(0))
        self.rss = RssSampler()
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from deluge_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench", cores=self.cores, driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # the heap starts small and grows with what the program
                # allocates, so peak memory includes the JVM heap in use
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            })
        # spark-submit --py-files stand-in: workers import deluge_spark
        # from this zip, not from the driver's sys.path
        z = self.path("deluge_spark.zip")
        with zipfile.ZipFile(z, "w") as zf:
            pkg = os.path.join(self.root, "deluge_spark")
            for d, _, files in os.walk(pkg):
                for f in files:
                    if f.endswith(".py"):
                        p = os.path.join(d, f)
                        zf.write(p, os.path.relpath(p, self.root))
        self.spark.sparkContext.addPyFile(z)
        from pyspark import SparkContext

        self.rss.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def close(self) -> None:
        """Stop Spark, wait for the JVM and every worker to exit, drop the
        scratch directory."""
        started = descendants(os.getpid())
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                self.spark.stop()
                proc = getattr(gw, "proc", None)
                if gw is not None:
                    gw.shutdown()
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            self.rss.stop()
            _wait_gone(started + descendants(os.getpid()))
            shutil.rmtree(self.work, ignore_errors=True)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            state = f.read().rsplit(b")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != b"Z"


def _wait_gone(pids: list[int], timeout: float = 15.0) -> None:
    """Wait for ``pids`` (the JVM, the Python daemon and its workers, even
    once re-parented) to exit; kill what is left after ``timeout``."""
    deadline = time.time() + timeout
    while any(map(_alive, pids)) and time.time() < deadline:
        time.sleep(0.1)
    for p in filter(_alive, pids):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(_alive, pids)) and time.time() < deadline + 5:
        time.sleep(0.1)


class SparkAccounting:
    """Spark jobs, tasks and failed tasks of one operation, from a job group
    set around it and the status tracker. Jobs that helper threads launch
    carry no group; the id range between the operation's first and last job
    picks them up (one operation runs at a time)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.st = sc.statusTracker()
        self.n = 0
        self.overhead_s = 0.0   # time spent in the bookkeeping calls

    @contextmanager
    def op(self):
        t0 = time.perf_counter()
        self.n += 1
        group = f"perfbench-{self.n}"
        before = set(self.st.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        counts = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        self.overhead_s += time.perf_counter() - t0
        try:
            yield counts
        finally:
            t1 = time.perf_counter()
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
            ids = set(self.st.getJobIdsForGroup(group)) | (
                set(self.st.getJobIdsForGroup(None)) - before)
            if ids:
                ids = set(range(min(ids), max(ids) + 1))
            for j in ids:
                info = self.st.getJobInfo(j)
                if info is None:
                    continue
                counts["jobs"] += 1
                for s in info.stageIds:
                    si = self.st.getStageInfo(s)
                    if si is not None:
                        counts["tasks"] += si.numCompletedTasks
                        counts["failed_tasks"] += si.numFailedTasks
            self.overhead_s += time.perf_counter() - t1


class NullAccounting:
    """Untraced passes: no job groups, no status-tracker calls."""

    _EMPTY: dict = {}
    overhead_s = 0.0

    @contextmanager
    def op(self):
        yield self._EMPTY


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def tail(xs) -> tuple[int, float] | None:
    """(p, value) for the highest of p99/p95/p90/p75 with at least ten
    samples beyond it, or None when there are too few samples."""
    xs = sorted(xs)
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, float(statistics.quantiles(xs, n=100)[p - 1])
    return None


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the regular files under ``path`` (only those modified at or
    after ``since`` when given)."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total
