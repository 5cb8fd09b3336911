"""The benchmark's own Spark session, scratch space and memory sampler.

Everything a run writes lives under one work directory inside the
checkout (Spark's local dirs, the JVM and Python temp dirs, the
warehouse, the stores), and the run removes it at exit.
"""

from __future__ import annotations

import os
import threading

# local[2] leaves the rest of a 4-core box to the JVM's own threads and
# the Python workers; the heap stays well under a 15 GB machine
SPARK_CONF = {
    "spark.master": "local[2]",
    "spark.driver.memory": "2g",
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # workers fork from a daemon that has the engine imported
    "spark.python.daemon.module": "perfbench.pydaemon",
}


def start_spark(work: str):
    """A fresh session whose scratch files all land under ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: temp files under the work dir, and
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")))
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("choetl_spark-perfbench")
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    spark = (
        b.config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants (the driver,
    its JVM and the JVM's Python workers); pages forked workers share
    count once per worker."""
    kids = _children()
    total, todo = 0, [pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory in a thread and keeps
    the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session and wait for its JVM (and, with it, the Python
    workers the JVM started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed, not leaked
            proc.kill()
            proc.wait()
