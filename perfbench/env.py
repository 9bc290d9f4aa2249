"""Run environment for the benchmark: pinned cores, heap and local dirs,
the Spark session it drives, memory sampling and the calibration probe.

Engine code is not changed to pin anything: the session comes from the
engine's own ``session.get_spark``, which reads the core count and the
driver heap from its environment variables.
"""

from __future__ import annotations

import os
import threading
import time

DRIVER_MEM = "2g"  # fits a 15 GB box shared with other work


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


def pin(root: str, work: str) -> dict:
    """Set the variables the engine and Spark read; return what was set."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p),
    }
    os.environ.update(pinned)
    os.makedirs(pinned["SPARK_LOCAL_DIRS"], exist_ok=True)
    return pinned


def java_options(work: str) -> str:
    """Driver JVM flags: no perf-data file, and temporary files stay in
    the run's work directory. Heap sizing is left to the JVM, as in the
    program's own runs, so heap growth shows in ``peak_rss_mb``."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def start_session(app: str, extra_conf: dict):
    """A session from the engine's factory, with the benchmark's pins."""
    from anomaly_detection_spark.session import get_spark

    cores = nproc()
    return get_spark(app, cores=cores, shuffle_partitions=cores,
                     extra_conf=dict(extra_conf, **{
                         "spark.sql.warehouse.dir": os.path.join(
                             os.environ["SPARK_LOCAL_DIRS"], "warehouse"),
                     }))


def calibration_probe(spark) -> tuple[float, float]:
    """A fixed JVM-only query, run twice before the workload: the first
    run is the session's first job and pays the JVM's warm-up, the second
    is a load indicator. Both times are recorded under ``protocol``; they
    never rescale a metric."""
    times = []
    for _ in range(2):
        t = time.perf_counter()
        spark.range(0, 20_000_000, 1, nproc()).selectExpr(
            "sum(id % 7) AS s", "count(DISTINCT id % 1000) AS d").collect()
        times.append(time.perf_counter() - t)
    return times[0], times[1]


def _pss_kb(pid: int) -> tuple[str, int]:
    """(process name, proportional resident kB). Pages shared between
    forked processes (Python workers forked from their daemon, a JVM
    thread forking a shell command) are split among them, so the sum over
    processes counts each page once. A process that has just ended
    reads 0."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return name, int(line.split()[1])
    except OSError:
        pass
    return "?", 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc as the sum of
    their proportional set sizes."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_by_name: dict[str, int] = {}  # process name -> kB at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        kids = _children()
        todo, by_name = [os.getpid()], {}
        while todo:
            pid = todo.pop()
            name, kb = _pss_kb(pid)
            by_name[name] = by_name.get(name, 0) + kb
            todo.extend(kids.get(pid, ()))
        total = sum(by_name.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_name = total, by_name
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

