"""Host side of a run: the Spark session's life (one JVM at a time, all
scratch inside the checkout), the ``/proc`` memory sampler and the
fixed-cost CPU burn that controls for host noise."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

CORES = 4  # local[4]: the host has 4 CPUs
SHUFFLE_PARTITIONS = 8


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended while we read
        pass
    return 0


class MemorySampler:
    """Peak summed proportional set size (PSS) of this process and all
    its descendants: the driver JVM, the Python daemon and workers.

    PSS, not RSS: the workers are forks of the daemon and share most of
    their pages with it, and a process the JVM forks briefly shows the
    JVM's whole RSS; summed RSS counts those pages once per process."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(map(_pss_bytes, [me, *descendants(me)]))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def control_burn(spark, rows: int = 20_000_000) -> float:
    """Fixed-cost pure-CPU Spark job (the shape of bench.py's control):
    identical work every call, so its spread is the host's noise."""
    started = time.perf_counter()
    spark.range(rows).selectExpr(
        "sum(pmod(xxhash64(id), 1000000)) AS s").collect()
    return time.perf_counter() - started


def scratch_env(root: str) -> str:
    """Point every scratch directory of Spark, its JVM and its Python
    workers inside ``root/.perfbench``; returns that directory."""
    scratch = os.path.join(root, ".perfbench")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # for the short-lived JVM spark-submit starts to build the driver's
    # command line (the driver JVM's own options are in start_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    return scratch


def start_session(cores: int):
    from ocr_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": "1g",
            # Pinned so plans and AQE decisions match at every core count.
            "spark.default.parallelism": str(SHUFFLE_PARTITIONS),
            "spark.driver.extraJavaOptions":
                # the whole heap committed from the start, so the JVM's
                # footprint does not depend on when G1 chose to grow it
                f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark and its JVM, and wait until the JVM and the Python
    daemon and workers it forked have all ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
