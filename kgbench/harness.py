"""Spark session lifetime and process measurements for the benchmark.

A benchmark process launches its own driver JVM (``launch``), and may
tear it down completely (``shutdown``) and launch a fresh one, so every
set-up it times pays the JVM start, the session build and the plan
build again.  Memory is read from ``/proc``: the driver JVM and all its
descendants (the PySpark daemon and its Python workers).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from pyspark import SparkContext

from ddaugner_spark.session import get_spark

MASTER = "local[4]"
DRIVER_MEMORY = "2g"


@dataclass
class Session:
    spark: object
    jvm_start_s: float
    pid: int = field(init=False)

    def __post_init__(self):
        self.pid = SparkContext._gateway.proc.pid


def launch(tmp: str, event_log: str | None = None) -> Session:
    """A SparkSession on a fresh driver JVM whose scratch files all live
    under ``tmp``; with ``event_log`` Spark writes its uncompressed
    event log there (the UI stays off)."""
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(app_name="kgbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return Session(spark, time.perf_counter() - t0)


def shutdown(session: Session, timeout: float = 60.0) -> None:
    """Stop the session and its JVM and wait until the JVM has exited."""
    gateway = SparkContext._gateway
    session.spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children(pid: int) -> list:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return kids


def process_tree(pid: int) -> list:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def pss_mb(pids) -> float:
    """Resident memory of ``pids`` as proportional set size: a page
    shared by forked Python workers counts once across them, not once
    per worker as summed RSS would."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


class PeakRss:
    """Samples the resident memory (``pss_mb``) of a process tree every
    ``interval`` seconds on a background thread while the ``with``
    block runs.  One sample of the driver JVM costs ~5 ms of CPU and
    holds the GIL the job's py4j calls need, so it is taken 4 times a
    second, not 10."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, pss_mb(process_tree(self.pid)))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, pss_mb(process_tree(self.pid)))


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def release_all(spark) -> None:
    """Drop every cached table and persisted RDD, so the next job
    cannot reuse this one's cache."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
