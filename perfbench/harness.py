"""Process plumbing for the benchmark: environment, Spark set-up and
tear-down, and the peak-RSS sampler.

Everything the run writes stays under the work directory inside the
checkout: Spark's local dirs, the JVM's and Python's temp dirs, the
warehouse dir, and every input and output file.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
RSS_PERIOD_S = 0.2


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(n_cpus: int, work: str = WORK) -> None:
    """Point Spark, the JVM and Python at ``work`` and size the session.
    Must run before the first SparkContext starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
    # workers import the generator's and oracles' modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    # spark-submit first runs a launcher JVM that takes only these options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        # no hsperfdata file under /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _identity(it):
    yield from it


def start_session(tracer, n_cpus: int):
    """One set-up: start (or join) the engine's session, then run one
    Python-worker task per core so worker start-up is paid here.
    Returns (spark, session start seconds, worker warm-up seconds)."""
    from solana_snapshot_etl_tools_spark.session import get_spark

    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=n_cpus)
        t1 = time.perf_counter()
    tracer.bind(spark.sparkContext)
    with tracer.span("session.worker_warm"):
        spark.range(0, 4 * n_cpus, 1, n_cpus).mapInPandas(_identity, "id long").collect()
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def setup(tracer, n_cpus: int):
    """Set up ``SETUP_REPS`` times (the first launches the JVM, later ones
    restart the SparkContext in it), keeping the last session.  Returns
    (spark, medians of the set-up, session start and warm-up seconds)."""
    starts, warms, totals = [], [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            tracer.bind(None)
            spark.stop()
        t0 = time.perf_counter()
        spark, s, w = start_session(tracer, n_cpus)
        totals.append(time.perf_counter() - t0)
        starts.append(s)
        warms.append(w)
    return spark, dict(
        setup_s=statistics.median(totals),
        start_s=statistics.median(starts),
        warm_s=statistics.median(warms),
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, state letter) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), fields[0]


def process_tree(root: int) -> list[int]:
    """``root`` followed by all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def shutdown(spark) -> None:
    """Stop the session, close the py4j gateway, and wait for the JVM and
    every process under it (the Python worker daemon and workers) to
    exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    workers = process_tree(proc.pid)[1:] if proc is not None else []
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any((st := _stat(p)) is not None and st[1] != "Z" for p in workers):
        if time.monotonic() > deadline:
            raise RuntimeError("Python worker processes outlived the JVM")
        time.sleep(0.1)


class RssSampler:
    """Samples the summed RSS of the Spark JVM and the Python processes
    under it (worker daemon and workers) every ``RSS_PERIOD_S`` on a
    thread; ``peak_mb`` is the largest sum seen.  Other descendants are
    left out: a process the JVM is spawning shares the JVM's pages until
    it execs, and counting it would count the JVM twice."""

    def __init__(self, root_pid_fn) -> None:
        self._root = root_pid_fn
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0
        self.peak_procs = 0  # processes in the tree when the peak was seen
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _tree_rss(self, root: int) -> tuple[int, int]:
        total, n = 0, 0
        for pid in process_tree(root):
            try:
                if pid != root:
                    with open(f"/proc/{pid}/comm") as f:
                        if not f.read().startswith("python"):
                            continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
                n += 1
            except OSError:
                pass
        return total, n

    def _run(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            root = self._root()
            if root is not None:
                rss, n = self._tree_rss(root)
                if rss / 2**20 > self.peak_mb:
                    self.peak_mb, self.peak_procs = rss / 2**20, n
