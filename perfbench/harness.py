"""Session sizing, process-tree memory sampling and shutdown."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

#: seconds between memory samples
SAMPLE_PERIOD = 0.2
#: prctl option that makes orphaned descendants re-parent to the caller
PR_SET_CHILD_SUBREAPER = 36


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_session(work: str, cores: int, event_log: str | None = None):
    """``local[cores]`` sized to the machine: driver heap a quarter of RAM
    (at most 2g), spill and temp files under ``work``, no console progress.
    ``event_log`` turns Spark's event log on, written there."""
    from go_fluentd_spark.session import build_spark

    heap_gb = max(1, min(2, int(mem_total_gb() // 4)))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xss16m -Djava.io.tmpdir={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log
    return build_spark("perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit.
    Also closes a gateway whose session never came up (``spark`` None)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            _close_gateway(gw)


def _close_gateway(gw) -> None:
    from pyspark import SparkContext

    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a stuck JVM must not outlive us
                proc.kill()
                proc.wait(timeout=30)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.  The JVM
    forks the Python worker daemon into a process group of its own; should
    the JVM exit first, the daemon and its workers re-parent to this
    process instead of to init, where :func:`stop_descendants` finds them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _reap() -> None:
    """Collect every ended child, without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    """Every process below ``root``, at any depth, zombies included."""
    kids, out = _children(), []
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def stop_descendants(grace: float = 10.0) -> None:
    """End every process this one started, directly or not: SIGTERM, then
    SIGKILL for whatever still runs after ``grace`` s, and wait until each
    has ended and is reaped.  Needs :func:`adopt_orphans` first, or an
    orphan would escape to init."""
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap()
        left = descendants(me)
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace + 10:
            raise RuntimeError(f"processes {left} did not end")
        sig = signal.SIGKILL if waited > grace else signal.SIGTERM
        for pid in left:
            if _running(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of every descendant of ``root`` (not
    ``root`` itself): the driver JVM and the Python workers it forks.  PSS,
    not RSS: the workers are forked from one daemon and share most pages,
    which a sum of RSS would count once per worker."""
    total = 0
    for pid in descendants(root):
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited while we looked
    return total


class MemSampler:
    """Samples :func:`tree_pss_bytes` of this process every
    ``SAMPLE_PERIOD`` s on a daemon thread; ``peak_mb`` is the largest sum
    seen."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(SAMPLE_PERIOD)

    def __enter__(self) -> "MemSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
