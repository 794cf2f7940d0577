"""Shared plumbing for the workloads: where runs write, how the Spark
session is sized and stopped, the memory sampler, and the result record
with the end-to-end metrics every workload reports the same way."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# Driver heap for the Spark workloads, passed to the program through the
# environment variable its session factory reads. The inputs are a few
# thousand turns, so this is ample.
DRIVER_MEMORY = "1g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file a run writes inside the checkout, and put the
    checkout on the Python path of Spark's Python workers (they import
    ``transner_spark`` by name)."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


# prctl(2) option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. When the
    JVM exits, the Python workers it started outlive it for a moment;
    they then become children of this process, so that ``reap_children``
    can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _ppid(pid: str) -> int:
    """The parent of process ``pid``; raises OSError if it has ended."""
    with open(f"/proc/{pid}/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[1])


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            if _ppid(d) == me:
                kids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def reap_children(grace: float = 30.0) -> list[int]:
    """Wait until this process has no child left: with ``adopt_orphans``,
    until every process the run started, at any depth, has ended. A
    child still running after ``grace`` seconds is killed. Returns the
    pids that were waited for."""
    deadline = time.monotonic() + grace
    reaped = []
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return reaped
        if pid:
            reaped.append(pid)
            continue
        if time.monotonic() > deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_dir(workload: str, seed: int) -> str:
    d = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def start_spark(eventlog_dir: str):
    """``get_spark`` at ``local[nproc]`` with one shuffle partition per
    core. The extra settings move the warehouse directory into the
    checkout, silence the console progress bar and turn on Spark's
    event log."""
    from transner_spark.functions.session import get_spark

    cores = host_cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + eventlog_dir,
        "spark.eventLog.compress": "false",
    }
    os.makedirs(eventlog_dir, exist_ok=True)
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (closing its stdin is what ends pyspark's gateway process)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def proc_tree_rss_mib() -> float:
    """Resident memory (MiB) of this process and all its descendants:
    the Spark driver's Python process, the JVM and Spark's Python workers.

    A child that the JVM is starting (Hadoop's local file system runs
    ``chmod`` and friends as processes) shares the JVM's address space
    until it execs, and its ``statm`` then repeats the JVM's. Such a
    child, with the same size and resident pages as its parent, is not
    counted again."""
    procs: dict[int, tuple[int, tuple[int, int]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = _ppid(d)
            with open(f"/proc/{d}/statm") as f:
                size, resident = (int(x) for x in f.read().split()[:2])
        except (OSError, IndexError, ValueError):
            continue
        procs[int(d)] = (ppid, (size, resident))
    keep = {os.getpid()}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in procs.items():
            if pid not in keep and ppid in keep:
                keep.add(pid)
                changed = True
    pages = sum(
        mem[1]
        for pid, (ppid, mem) in procs.items()
        if pid in keep and (pid == os.getpid() or procs.get(ppid, (0, None))[1] != mem)
    )
    return pages * os.sysconf("SC_PAGESIZE") / (1024 * 1024)


class RssSampler:
    """Peak process-tree RSS, sampled every ``interval`` seconds on a
    background thread between ``__enter__`` and ``__exit__``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak = max(self.peak, proc_tree_rss_mib())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()


def hot_subject(edges) -> str:
    """The subject a round of reads looks up: the heaviest one, which
    the generator's hot-key rule makes the same entity in every seed."""
    return edges.sort_values(["weight", "subj_id"], ascending=False)["subj_id"].iloc[0]


def serve_reads(edges_df, subject: str) -> tuple[float, list]:
    """One round of reads on a served edge table: the whole table, then
    the lookup of one subject. ``edges_df()`` builds the DataFrame afresh
    for each read, as a client would. Returns the seconds and the results."""
    from pyspark.sql import functions as F

    from perfbench.inputs import EDGE_COLS

    t0 = time.perf_counter()
    served = []
    for s in (None, subject):
        edges = edges_df()
        if s is not None:
            edges = edges.where(F.col("subj_id") == s)
        served.append((s, edges.select(*EDGE_COLS).toPandas()))
    return time.perf_counter() - t0, served


def bad_reads(served: list, want) -> list[str]:
    """The reads of ``serve_reads`` that differ from the reference edges."""
    from perfbench.inputs import EDGE_COLS, multiset

    bad = []
    for s, got in served:
        ref = want if s is None else want[want["subj_id"] == s]
        if multiset(got, EDGE_COLS) != multiset(ref, EDGE_COLS):
            bad.append("whole table" if s is None else f"lookup {s}")
    return bad


@dataclass
class Outcome:
    """What one workload run measured. Each unit of work (one batch job,
    one Arrow batch, one stream round) is one attempt, which fails when
    it raises or its output differs from the reference."""

    setup_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    op_turns: list[int] = field(default_factory=list)
    op_triples: list[int] = field(default_factory=list)
    peak_rss_mib: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    tracers: list = field(default_factory=list)

    def attempt(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what or "output mismatch")

    def end_to_end(self) -> dict[str, float]:
        """Medians over the units of work; 0.0 for a sample that no unit
        of work produced (a run whose program raised every time)."""

        def median(values) -> float:
            values = list(values)
            return statistics.median(values) if values else 0.0

        return {
            "setup_s": self.setup_s,
            "op_s_p50": median(self.op_s),
            "read_s_p50": median(self.read_s),
            "turns_per_s": median(t / s for t, s in zip(self.op_turns, self.op_s)),
            "triples_per_s": median(x / s for x, s in zip(self.op_triples, self.op_s)),
            "peak_rss_mib": self.peak_rss_mib,
        }


class Window:
    """The measured window: a new unit of work starts while the window
    is open, and also until ``min_ops`` have run."""

    def __init__(self, seconds: float, min_ops: int = 1):
        self.t0 = time.perf_counter()
        self.seconds = seconds
        self.min_ops = min_ops

    def open(self, done: int) -> bool:
        return done < self.min_ops or time.perf_counter() - self.t0 < self.seconds
