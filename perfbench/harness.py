"""Process, host and Spark-session plumbing for one benchmark run.

Everything a run writes goes under its work directory inside the
checkout: Spark's local dirs, the JVM's temp dir, Python's temp dir,
the event log and every store. ``stop_spark`` ends the JVM and its
Python workers and waits until they are gone.
"""

from __future__ import annotations

import os
import shutil
import signal
import threading
import time


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Cores the Spark session runs tasks on: half the machine's, so the
    driver's Python and JVM threads, the Python workers and the host's
    other tenants do not queue behind the task threads."""
    return max(1, cpu_count() // 2)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of the machine's memory, between 1 and 8 GiB: the JVM
    shares the host with the Python workers and the page cache, and the
    heap is left to grow rather than pre-touched."""
    return max(1024, min(8192, mem_total_mb() // 8))


def prepare_env(work: str) -> None:
    """Point every temp-file user at the work dir before Spark starts,
    and drop the engine's environment knobs so every run has the same
    configuration. Python's tempfile (the py-files zip, the gateway
    handshake) reads TMPDIR; the shuffle/spill dir reads VYNTR_LOCAL_DIR
    and SPARK_LOCAL_DIRS."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["VYNTR_LOCAL_DIR"] = os.path.join(work, "local")
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    for knob in ("VYNTR_EVENTLOG", "VYNTR_DRIVER_JAVA_OPTS",
                 "VYNTR_CRAWL_PROFILE", "VYNTR_ANALYSES_SHUFFLE",
                 "VYNTR_UDS", "VYNTR_EXTRACT_STDLIB", "SPARK_DRIVER_MEM"):
        os.environ.pop(knob, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, event_log: bool):
    from vyntr_spark.session import get_spark

    n = spark_cores()
    heap = driver_heap_mb()
    extra = {
        "spark.driver.memory": f"{heap}m",
        # a fixed-size heap: G1 then never resizes it, and the JVM's
        # resident size follows what the run touches, not GC heuristics
        "spark.driver.extraJavaOptions":
            f"-Xms{heap}m -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            " -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the page corpus is binary-heavy: at the default 128 MB split
        # size it would scan as fewer tasks than cores
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "1m",
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": d,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict[int, list[int]]:
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


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and its descendants. Summed as
    PSS, so pages the forked Python workers share count once."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


def tree_cpu_s() -> float:
    """CPU time (user + system) this process and its descendants have
    used, reaped children included. The difference of two readings is
    the tree's CPU time between them: a process that ends in between is
    reaped by its parent in the tree, whose children's time grows by
    its whole lifetime. Time the hypervisor stole from the VM is not
    charged to any process, so the figure does not grow with steal."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in rest[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started. The JVM exits when its stdin pipe closes; its Python
    workers are its children and go with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — any wait failure: kill
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap_descendants()


def reap_descendants(timeout: float = 30.0) -> None:
    """Wait until no process started by this one is left; past the
    timeout, kill what remains."""
    deadline = time.monotonic() + timeout
    while True:
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def dir_size_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / 2**20


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all cores from /proc/stat."""
    with open("/proc/stat") as f:
        p = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return p[0] + p[1] + p[2] + p[5] + p[6], p[7]


class HostMonitor:
    """Samples the process tree's RSS in a thread and the host's busy
    and steal cores from /proc/stat, between start() and stop(). One
    sample walks the page tables of the JVM's whole heap (~20 ms at
    0.75 GB resident, more at the run's ~3 GB), so it samples once a
    second: faster sampling took a measurable share of a core."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = 0.0
        self._c0 = (0, 0)
        self.busy_cores = 0.0
        self.steal_cores = 0.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def start(self) -> "HostMonitor":
        self._t0 = time.monotonic()
        self._c0 = _cpu_ticks()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        dt = max(time.monotonic() - self._t0, 1e-9)
        c1 = _cpu_ticks()
        hz = os.sysconf("SC_CLK_TCK")
        self.busy_cores = (c1[0] - self._c0[0]) / hz / dt
        self.steal_cores = (c1[1] - self._c0[1]) / hz / dt


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
