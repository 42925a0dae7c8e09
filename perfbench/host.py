"""Host settings, process-tree peak RSS, Spark task counts, clean shutdown."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def host_record(spark, nproc: int) -> dict:
    """The settings that shape cost; two records are comparable only when
    ``nproc`` and ``local_n`` match (see compare.py)."""
    import inspect

    import numpy
    import pyarrow
    import pyspark

    from data_quality_spark.pipeline import featurize_files

    defaults = {k: p.default for k, p in
                inspect.signature(featurize_files).parameters.items()}
    return {
        "nproc": nproc,
        "local_n": nproc,
        "master": spark.sparkContext.master,
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "arrow.maxRecordsPerBatch": spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"),
        "featurize_files.batch_rows": defaults["batch_rows"],
        "featurize_files.waves": defaults["waves"],
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(f"/proc/{d}/stat")[1])
        except OSError:
            continue
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


def _stat_fields(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name, which may
    hold spaces and parentheses; [0] is the state, [11:15] the CPU ticks."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.rfind(")") + 2:].split()


def cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    descendant — the driver, the JVM and the Python workers — including
    children they have already reaped.  Unlike wall time, it does not grow
    when other tenants of the host take the cores."""
    me = os.getpid()
    ticks = 0
    for pid in [me] + descendants(me):
        try:
            ticks += sum(int(x) for x in
                         _stat_fields(f"/proc/{pid}/stat")[11:15])
        except OSError:  # exited since the listing
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM, so input generation never counts in the
    driver's peak (writing 5 to clear_refs, Linux 4.0+)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _role(pid: int, me: int) -> str:
    if pid == me:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return "other"
    return "jvm" if argv0.endswith(b"java") else "python_workers"


class RssSampler:
    """Polls the peak RSS (VmHWM) of this process and all its descendants —
    the Spark JVM and the Python workers it forks — per role."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        for pid in [me] + descendants(me):
            # the role is read every time: spark-submit's shell execs java
            role, kb = _role(pid, me), _hwm_kb(pid)
            old_role, old = self.peak_kb.get(pid, (role, 0))
            if kb > old or role != old_role:
                self.peak_kb[pid] = (role, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        """Stop polling; return the largest peak RSS in MB per role."""
        self._stop.set()
        self._thread.join()
        self.sample()
        peaks: dict[str, float] = {}
        for role, kb in self.peak_kb.values():
            peaks[role] = max(peaks.get(role, 0.0), kb / 1024.0)
        return peaks


def task_counts(sc, group: str) -> tuple[int, int]:
    """(completed, failed) tasks over every job run under ``group``."""
    st = sc.statusTracker()
    done = failed = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage:
                done += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return done, failed


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until every process this
    run started has exited (killing stragglers after a grace period)."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    try:
        spark.stop()
    except Py4JError:  # the JVM is already gone
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Py4JError:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    me = os.getpid()
    deadline = time.time() + 30
    while descendants(me) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(me):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(me) and time.time() < deadline + 10:
        time.sleep(0.2)
