"""Spark session lifecycle for the benchmark: start one driver whose files
all land in a work directory, sample the memory of its processes, and stop
it so that no process outlives the run."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

# The driver heap is fixed and touched at JVM start (-Xms = -Xmx,
# AlwaysPreTouch): left to grow, G1 expanded it at a different batch in each
# run, which swung the peak memory by a third between runs, and its first-touch
# page faults landed inside timed batches.
DRIVER_MEM = "2g"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children_map(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """The process's proportional set size: its private pages plus its share
    of the pages it shares (forked Python workers share the daemon's
    preloaded modules). 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of this process's descendants (the driver JVM and its
    Python workers), sampled from /proc every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
        return self.peak / 2**20


def start_session(work: str, event_log: bool):
    """One SparkSession on local[nproc] with every file it writes under
    ``work``; with ``event_log`` Spark's JSON event log goes to
    ``work/eventlog``."""
    from dint_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} "
                                          f"-Xms{DRIVER_MEM} "
                                          "-XX:+AlwaysPreTouch"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file:" + log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu, extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit with the JVM; kill any that outlive it
    for grace in (30, 10):
        deadline = time.time() + grace
        left = descendants(os.getpid())
        while left and time.time() < deadline:
            time.sleep(0.2)
            left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
