"""Run plumbing shared by the workloads: the Spark session, percentiles,
memory and load readings, and a clean shutdown of the driver JVM."""

from __future__ import annotations

import bisect
import math
import os
import resource
import shlex
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(vcpus: int) -> int:
    """Spark task slots: half the vCPUs, so the driver JVM's own threads
    (scheduler, JIT, GC), the Python workers and the benchmark's client
    threads have cores of their own instead of queueing behind tasks."""
    return max(1, vcpus // 2)


def configure_env(work: str, cpus: int) -> None:
    """Point Spark at ``local[cpus]`` and keep every file it writes inside
    ``work``. The status store keeps every job and stage of the run, so
    the traced run can read them back at the end; both runs carry the
    same settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    # the serial collector sizes the heap from live data alone, not from
    # how long collections took, so peak RSS follows what the program
    # holds rather than how busy the host was
    java_opts = f"-XX:+UseSerialGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.streaming.numRecentProgressUpdates=10000",
        f"--conf {shlex.quote('spark.sql.warehouse.dir=' + os.path.join(work, 'warehouse'))}",
        f"--driver-java-options {shlex.quote(java_opts)}",
        "pyspark-shell",
    ])


def start_spark(name: str):
    from twitch_chat_analyser_spark.session import get_spark

    return get_spark(name)


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostClock:
    """Samples /proc/stat every ``period`` seconds in a daemon thread, so
    any interval of the run can be given the share of the time its
    vCPUs wanted to run that the hypervisor let them run."""

    def __init__(self, period: float = 0.1):
        self.samples = [(time.time(), cpu_ticks())]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period,), daemon=True)
        self._thread.start()

    def _loop(self, period: float) -> None:
        while not self._stop.wait(period):
            self.samples.append((time.time(), cpu_ticks()))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def unstolen(self, start: float, end: float) -> float:
        """``unstolen_share`` over the samples that bracket [start, end]."""
        snap = list(self.samples)
        times = [t for t, _ in snap]
        i = max(bisect.bisect_right(times, start) - 1, 0)
        j = min(bisect.bisect_left(times, end), len(snap) - 1)
        return unstolen_share(snap[i][1], snap[j][1])

    def corrected(self, start: float, end: float) -> float:
        """The interval's length in seconds of unstolen vCPU time."""
        return (end - start) * self.unstolen(start, end)


def unstolen_share(before: list[int], after: list[int]) -> float:
    """Share of the time the vCPUs wanted to run that they did run:
    busy / (busy + steal) between the two readings."""
    d = [a - b for a, b in zip(after, before)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] else 1.0


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a run with a high share ran on a contended host."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(sum(delta), 1)


def pct(values, q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return pct(values, 0.5)


def dir_bytes(path: str) -> int:
    """Data bytes under ``path`` (hidden and ``_`` metadata files excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if not f.startswith((".", "_")))
    return total
