"""Host calibration, process counters and summary statistics.

The calibrations touch no code of the program under test: a fixed pure-Python
loop and a fixed ``spark.range`` aggregate-and-sort job. Timing one next to
every measured pass tells how fast the host itself was at that moment, so a
run's timings can be normalised by it.
"""

from __future__ import annotations

import math
import os
import statistics
import time

#: calibration medians of quiet runs on the reference host (4-core x86-64
#: VM, Spark 4.1.2, JDK 17 with the benchmark's JVM flags, CPython 3.11).
#: Normalised seconds are raw seconds x reference / this run's median
#: calibration: seconds at the reference host's speed.
REF_PY_CALIB_S = 0.0043
REF_JVM_CALIB_S = 0.14

_PY_LOOP_N = 50_000


def py_calibration() -> float:
    """Seconds for a fixed pure-Python loop (interpreter speed): the median
    of three repetitions, so one preempted repetition does not count."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_PY_LOOP_N):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def release_blocks(spark) -> None:
    """Unpersist storage blocks left by operations that already finished
    (their localCheckpoint blocks otherwise stay until a JVM GC), then assert
    that nothing is left running or cached that a calibration would share
    the host with."""
    jsc = spark.sparkContext._jsc
    for jrdd in jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
    if spark.streams.active:
        raise RuntimeError("a streaming query is still active")
    if not jsc.getPersistentRDDs().isEmpty():
        raise RuntimeError("persisted RDDs remain")


#: partitions of the calibration job's input and shuffles, fixed so the job
#: does the same work whatever width the program configures
CALIB_PARTITIONS = 4

#: session settings the calibration job depends on, pinned while it runs:
#: the program's shuffle width and adaptive execution would otherwise move
#: the divisor along with the timings it normalises
_CALIB_CONF = {
    "spark.sql.shuffle.partitions": str(CALIB_PARTITIONS),
    "spark.sql.adaptive.enabled": "false",
}


def jvm_calibration(spark) -> float:
    """Seconds for a fixed hash-aggregate + sort job on ``spark.range`` (a
    sort within partitions: one job, no sampling job for range bounds),
    under the settings in ``_CALIB_CONF``; the session's own values are put
    back afterwards."""
    saved = {k: spark.conf.get(k, None) for k in _CALIB_CONF}
    for k, v in _CALIB_CONF.items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        rows = (
            spark.range(0, 100_000, 1, CALIB_PARTITIONS)
            .selectExpr("id % 997 AS k", "(id * 7919) % 1009 AS v")
            .groupBy("k").sum("v")
            .sortWithinPartitions("sum(v)", "k")
            .collect()
        )
        dt = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if len(rows) != 997:
        raise RuntimeError(f"calibration job returned {len(rows)} rows")
    return dt


class StealMeter:
    """Share of CPU time the hypervisor took (``steal`` in /proc/stat)
    since the last reading."""

    def __init__(self) -> None:
        self._last = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        try:
            with open("/proc/stat") as fh:
                f = [int(x) for x in fh.readline().split()[1:]]
        except OSError:
            return 0, 0
        return (f[7] if len(f) > 7 else 0), sum(f[:8])

    def read(self) -> float:
        steal, total = self._read()
        d_steal, d_total = steal - self._last[0], total - self._last[1]
        self._last = (steal, total)
        return d_steal / d_total if d_total > 0 else 0.0


class JvmCounters:
    """JIT compile time and GC time of the driver JVM, read through its
    management beans, and its CPU time, read from /proc."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def _cpu_s(self) -> float:
        try:
            with open(f"/proc/{self.pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            return 0.0
        # utime and stime: fields 14 and 15 of stat(5), after the comm field
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def read(self) -> dict[str, float]:
        return {
            "jit_ms": float(self._jit.getTotalCompilationTime()),
            "gc_ms": float(sum(g.getCollectionTime() for g in self._gcs)),
            "cpu_s": self._cpu_s(),
        }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Peak resident memory of this Python process plus the driver JVM, over
    the stretches of a run that count: set-up and the operations of each
    pass. ``pause()`` folds in the peak so far; ``resume()`` resets both
    processes' high-water marks (``/proc/<pid>/clear_refs``), so memory the
    benchmark's own checks and calibrations take in between does not count.
    Where the reset is refused, that memory counts and ``reset_ok`` is
    False."""

    def __init__(self) -> None:
        self.pids = [os.getpid()]
        self.peak_kb = 0
        self.reset_ok = True

    def pause(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_vm_hwm_kb(p) for p in self.pids))

    def resume(self) -> None:
        for pid in self.pids:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                self.reset_ok = False

    def mb(self) -> float:
        self.pause()
        return self.peak_kb / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]: always one of the samples.
    A pass holds operations of very different sizes, so the samples form
    clusters; interpolating between two clusters would make the result jump
    with the number of passes a run fits."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(len(xs) * q / 100.0) - 1)]


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
