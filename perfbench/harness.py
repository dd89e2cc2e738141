"""Run scaffolding shared by the workloads: a private work directory inside
the checkout, captured stderr, Spark session set-up repeated and timed, a
process-tree RSS sampler, and clean shutdown of every process started."""

from __future__ import annotations

import ctypes
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGE = os.sysconf("SC_PAGE_SIZE")
# set-up is repeated this many times per run and setup_s is the median
SETUP_REPS = 3
# a timed window holds at least this many passes
MIN_PASSES = 3
# seconds between two RSS samples
RSS_INTERVAL_S = 0.1
# characters of captured stderr shown when a run fails
STDERR_TAIL = 4000
# seconds a run waits for its processes to exit before SIGTERM, then SIGKILL
REAP_GRACE_S = 10.0
REAP_SIGNAL_WAIT_S = 3.0
# Spark's event log, uncompressed so eventlog.py can read it
EVENT_LOG_CONF = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false"}
CODEGEN_FAILURE = "Failed to compile the generated Java code"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs: List[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def cpu_ticks() -> List[int]:
    """The host's aggregate CPU tick counters (``/proc/stat``); the eighth
    is steal, time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: List[int], after: List[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


class RssSampler:
    """Samples the RSS of this process and all its descendants every
    RSS_INTERVAL_S seconds while active; keeps the peak of the tree's sum
    and the peak of any single Python worker."""

    def __init__(self):
        self.tree_peak = 0
        self.worker_peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _sample(self) -> None:
        pids = [os.getpid()] + descendants(os.getpid())
        self.tree_peak = max(self.tree_peak, sum(_rss_bytes(p) for p in pids))
        for p in pids:
            if _is_python_worker(p):
                self.worker_peak = max(self.worker_peak, _rss_bytes(p))

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class Run:
    """One benchmark process: owns the work directory, the captured stderr,
    the Spark session and every child process."""

    def __init__(self, workload: str, trace: bool):
        self.workload = workload
        self.trace = trace
        self.cpus = host_cpus()
        self.work = os.path.join(ROOT, ".perfbench", f"{workload}-{os.getpid()}")
        self.spark = None
        self.app_id: Optional[str] = None
        self.layers: Dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []
        # wall seconds of each phase of the run, for the detail record
        self.phases: Dict[str, float] = {}
        self.setup_reps: List[float] = []
        self._t0 = time.perf_counter()
        self._stderr_saved: Optional[int] = None

    # -- environment -------------------------------------------------------
    def start(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        # orphaned grandchildren (Python workers whose JVM exited) are
        # re-parented to this process, so close() can wait for them
        try:
            ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
        except (OSError, AttributeError):
            pass
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
        )
        # the JVM and the Python workers inherit fd 2: their stderr is
        # where whole-stage-codegen compile failures are logged
        log = os.open(self.path("stderr.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        sys.stderr.flush()
        self._stderr_saved = os.dup(2)
        os.dup2(log, 2)
        os.close(log)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def codegen_failures(self) -> int:
        with open(self.path("stderr.log"), errors="replace") as fh:
            return fh.read().count(CODEGEN_FAILURE)

    def stderr_tail(self) -> str:
        try:
            with open(self.path("stderr.log"), errors="replace") as fh:
                return fh.read()[-STDERR_TAIL:]
        except OSError:
            return ""

    # -- accounting --------------------------------------------------------
    def phase(self, name: str) -> None:
        """Mark the end of phase ``name`` (wall time since the last mark)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t0
        self._t0 = now

    def check(self, attempted: int, failures: List[str]) -> None:
        self.attempted += attempted
        self.failed += len(failures)
        self.failures.extend(failures[:5])

    # -- session -----------------------------------------------------------
    def set_up(self, make_input: Callable[[object, str], None]) -> str:
        """Set up SETUP_REPS times: session start, package ship, input
        generation (``make_input(spark, dir)``), Python-worker warm-up.
        Returns the last rep's input directory; the session of the last rep
        stays open as ``self.spark``."""
        from tablestructurerec_spark.session import get_spark

        import __spark_entry__

        reps: Dict[str, List[float]] = {"start": [], "ship": [], "gen": [], "warm": [], "total": []}
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app=f"perfbench-{self.workload}", cpus=self.cpus)
            t1 = time.perf_counter()
            __spark_entry__._ship_package(self.spark)
            t2 = time.perf_counter()
            rep_dir = self.path(f"input-{rep}")
            make_input(self.spark, rep_dir)
            t3 = time.perf_counter()
            self._warm_workers()
            t4 = time.perf_counter()
            if rep:
                shutil.rmtree(self.path(f"input-{rep - 1}"), ignore_errors=True)
            for k, v in zip(reps, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t4 - t0)):
                reps[k].append(v)
        self.setup_reps = reps["total"]
        self.layers.update(
            {
                "session.jvm_start_s": reps["start"][0],
                "session.start_s": median(reps["start"]),
                "session.ship_s": median(reps["ship"]),
                "session.warm_s": median(reps["warm"]),
                "sources.gen_s": median(reps["gen"]),
            }
        )
        return rep_dir

    def start_tracing(self) -> None:
        """Restart the session, in the same JVM, with Spark's event log on;
        re-ship the package and re-warm the workers.  A traced run times
        its untraced passes before this, so both share one process."""
        from pyspark import SparkContext

        from tablestructurerec_spark.session import get_spark

        import __spark_entry__

        os.makedirs(self.path("eventlog"))
        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + self.path("eventlog")})
        # a new SparkContext reads its defaults from the JVM's system properties
        for k, v in conf.items():
            SparkContext._jvm.java.lang.System.setProperty(k, v)
        self.spark.stop()
        self.spark = get_spark(app=f"perfbench-{self.workload}", cpus=self.cpus)
        __spark_entry__._ship_package(self.spark)
        self._warm_workers()

    def _warm_workers(self) -> None:
        """One trivial mapInPandas task per core that imports the kernel,
        so no timed pass pays Python-worker start-up."""
        df = self.spark.range(self.cpus * 4, numPartitions=self.cpus)
        df.mapInPandas(_import_kernel, df.schema).write.format("noop").mode("overwrite").save()

    @contextmanager
    def job_group(self, name: str):
        """Tag the Spark jobs run inside the block (event-log attribution)."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    # -- shutdown ----------------------------------------------------------
    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM to exit; this also
        finalises the event log."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def close(self) -> None:
        """Stop Spark, wait for every process this run started to exit,
        restore stderr and remove the work directory."""
        tree = set(descendants(os.getpid()))
        self.stop_spark()
        _reap(tree | set(descendants(os.getpid())))
        if self._stderr_saved is not None:
            sys.stderr.flush()
            os.dup2(self._stderr_saved, 2)
            os.close(self._stderr_saved)
            self._stderr_saved = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


def _import_kernel(batches):
    import tablestructurerec_spark.core.pipeline  # noqa: F401

    yield from batches


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def _reap(pids: set) -> None:
    """Wait up to REAP_GRACE_S for ``pids`` to exit, then SIGTERM and finally
    SIGKILL the rest; reaps every exited child, re-parented orphans too."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
        deadline = time.monotonic() + (REAP_GRACE_S if sig is None else REAP_SIGNAL_WAIT_S)
        while time.monotonic() < deadline:
            while True:
                try:
                    pid, _ = os.waitpid(-1, os.WNOHANG)
                except ChildProcessError:
                    break
                if pid == 0:
                    break
            pids = {p for p in pids if _alive(p)}
            if not pids:
                return
            time.sleep(0.05)


def timed_passes(seconds: float, one_pass: Callable[[], None]) -> List[float]:
    """Run ``one_pass`` until ``seconds`` have elapsed and at least
    MIN_PASSES passes are done; returns each pass's wall seconds."""
    times: List[float] = []
    end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        one_pass()
        times.append(time.perf_counter() - t0)
        if time.perf_counter() >= end and len(times) >= MIN_PASSES:
            return times


def noop(df) -> None:
    """Execute a plan fully without collecting: the noop sink consumes every
    column, where count() would let Catalyst prune projections."""
    df.write.format("noop").mode("overwrite").save()
