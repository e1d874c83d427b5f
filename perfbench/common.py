"""Shared pieces of the benchmark: where it may write, percentiles, host
noise, the Spark session set-up it times, and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Everything the benchmark writes lives under this git-ignored directory
# of the checkout: the cached fixtures, per-run scratch and the traces.
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# Seconds a child left at the end of a run gets to end on its own before
# SIGTERM, and before SIGKILL (stop_children).
STOP_GRACE_S = 10.0
STOP_KILL_S = 30.0

# One cold set-up (it launches the JVM) and then SETUP_REPS - 1 session
# restarts in the same JVM.
SETUP_REPS = 5


def nearest_rank(values, q: float) -> float:
    """Nearest-rank percentile (q in (0, 1]) of ``values``."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    return vals[max(0, math.ceil(q * len(vals)) - 1)]


def tail_ok(n: int, q: float) -> bool:
    """A percentile is reported only when at least ten samples lie
    beyond it."""
    return n - math.ceil(q * n) >= 10


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class HostStat:
    """Steal and busy shares of the whole box between start() and
    stop(), from /proc/stat, so a noisy window can be told from a
    regression."""

    def __init__(self) -> None:
        self._t0 = self._snap()
        self.steal_pct = 0.0
        self.busy_pct = 0.0

    @staticmethod
    def _snap() -> list[int]:
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
        except OSError:
            return []
        return [int(x) for x in parts[1:]] if parts and parts[0] == "cpu" else []

    def stop(self) -> "HostStat":
        t1 = self._snap()
        if len(self._t0) >= 8 and len(t1) >= 8:
            d = [b - a for a, b in zip(self._t0, t1)]
            total = sum(d)
            if total > 0:
                self.steal_pct = 100.0 * d[7] / total
                self.busy_pct = 100.0 * (total - d[3] - d[4]) / total
        return self


def prepare_dirs(run_id: str) -> str:
    """Fresh per-run scratch dir; TMPDIR points inside it so nothing the
    run or its Spark session writes lands outside the checkout."""
    run_dir = os.path.join(WORK, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    return run_dir


class Session:
    """Times the set-up a user pays: session start, ``ship_package`` and a
    warm-up pass through the workload's own path. The set-up runs
    SETUP_REPS times. The first one also launches the JVM; it is noisy
    (a 10-15 s single sample) and is reported per layer as ``setup.cold_s``.
    ``setup_s`` is the median of the session restarts that follow. Old contexts stay referenced for the life of the run:
    ``ship_package`` keys shipped contexts by ``id()``, and a recycled id
    would skip shipping to the new context."""

    def __init__(self) -> None:
        self.spark = None
        self._old: list = []
        self.layers: dict[str, list[float]] = {
            "session.get_spark_s": [],
            "shipping.ship_package_s": [],
            "setup.warm_s": [],
        }
        self.setup_times: list[float] = []

    def start(self, warm):
        """Set up SETUP_REPS times, each ending with ``warm(spark, rep)``;
        returns the last session."""
        from kafka_avro_order_processor_eg_4131_spark.session import get_spark
        from kafka_avro_order_processor_eg_4131_spark.shipping import ship_package

        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self._old.append(self.spark.sparkContext)
                self.spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench")
            t1 = time.perf_counter()
            ship_package(spark)
            t2 = time.perf_counter()
            warm(spark, rep)
            t3 = time.perf_counter()
            self.spark = spark
            self.layers["session.get_spark_s"].append(t1 - t0)
            self.layers["shipping.ship_package_s"].append(t2 - t1)
            self.layers["setup.warm_s"].append(t3 - t2)
            self.setup_times.append(t3 - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def setup_s(self) -> float:
        return statistics.median(self.setup_times[1:])

    def layer_metrics(self) -> dict:
        """Medians over the session restarts, like ``setup_s``, and the
        cold set-up that launched the JVM."""
        out = {k: metric(statistics.median(v[1:]), "s") for k, v in self.layers.items()}
        out["session.get_spark_cold_s"] = metric(self.layers["session.get_spark_s"][0], "s")
        out["setup.cold_s"] = metric(self.setup_times[0], "s")
        return out

    def close(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


@dataclass
class Result:
    """What a workload reports. ``metrics`` are the end-to-end metrics,
    ``layers`` the per-layer ones (host and generator annotations are
    always there; the rest only when traced), ``notes`` go to stderr."""

    attempted: int
    failed: int
    problems: list[str]
    metrics: dict
    layers: dict
    notes: dict = field(default_factory=dict)

    def line(self, trace: bool) -> str:
        return json.dumps(
            {
                "correct": not self.problems,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": self.layers if trace else self.metrics,
            }
        )


def cleanup(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly
    or not (PR_SET_CHILD_SUBREAPER), so that one whose parent ends first,
    such as PySpark's Python-worker daemon once the JVM is gone, becomes
    this process's child and is stopped by ``stop_children``."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and ")": the fields after the
        # last ")" are state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def stop_children() -> list[int]:
    """Stop every child of this process and wait until each has ended:
    multiprocessing's resource tracker (it ignores SIGTERM and ends when
    its pipe closes), then whatever is left, and the orphans that re-parent
    here meanwhile. Children get STOP_GRACE_S to end on their own, then
    SIGTERM, and SIGKILL after STOP_KILL_S. Returns the pids it had to
    signal."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    signalled: list[int] = []
    t0 = time.monotonic()
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return signalled
        waited = time.monotonic() - t0
        if waited >= STOP_GRACE_S:
            sig = signal.SIGKILL if waited >= STOP_KILL_S else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    continue
                if pid not in signalled:
                    signalled.append(pid)
        time.sleep(0.05)
