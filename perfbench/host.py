"""Spark session lifetime, provenance and worker-RSS sampling.

The benchmark starts its own local session instead of
``kawa_spark.session.get_spark``: it keeps every file Spark, the JVM and
the Python workers write inside the run directory (``get_spark`` also
writes the package zip to /tmp), and it sizes driver memory from
``MemTotal`` (the repo default, 48g, can exceed the host). The repo's
default configuration is otherwise taken as is.
"""

from __future__ import annotations

import os
import subprocess
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of MemTotal, between 1 and 4 GiB: one local JVM per run
    on a host that other processes share."""
    return max(1024, min(4096, mem_total_kb() // 4 // 1024))


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host's CPUs, from /proc/stat: the
    steal share of an interval discloses time the hypervisor gave to
    other tenants."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def provenance() -> dict:
    """Commit (``-dirty`` when the tree differs), nproc, MemTotal. A
    checkout without git metadata reports the commit as unknown."""
    def git(*args: str) -> str:
        try:
            out = subprocess.run(
                ["git", *args], cwd=ROOT, capture_output=True, text=True,
                timeout=30,
            )
        except (OSError, subprocess.TimeoutExpired):
            return ""
        return out.stdout.strip() if out.returncode == 0 else ""

    commit = git("rev-parse", "--short=12", "HEAD") or "unknown"
    if commit != "unknown" and git("status", "--porcelain", "--untracked-files=no"):
        commit += "-dirty"
    return {
        "commit": commit,
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "driver_memory_mb": driver_memory_mb(),
    }


def start_session(cores: int, run_dir: str, event_log: bool = False):
    """Local session whose JVM, Python workers, shuffle files, temp files
    and (optionally) event log all live under ``run_dir``."""
    from pyspark.sql import SparkSession

    from kawa_spark.session import DEFAULT_CONF

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and through it by every Python worker
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    conf = dict(DEFAULT_CONF)
    conf.update(
        {
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # the same parallelism knobs get_spark derives from its
            # shuffle_partitions argument, at one partition per core
            "spark.sql.shuffle.partitions": str(cores),
            "spark.sql.files.minPartitionNum": str(cores),
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        }
    )
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> tuple[str, int]:
    try:
        with open(f"/proc/{pid}/status") as f:
            fields = dict(
                line.split(":", 1) for line in f if ":" in line
            )
    except OSError:
        return "", 0
    rss = fields.get("VmRSS", "0 kB").split()[0]
    return fields.get("Name", "").strip(), int(rss)


def python_worker_rss_kb(root_pid: int) -> int:
    """Summed RSS of the Python processes below ``root_pid`` (the Spark
    worker daemon and the workers it forked)."""
    kids = _children()
    total, stack = 0, list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        name, rss = _rss_kb(pid)
        if name.startswith("python"):
            total += rss
    return total


class RssSampler:
    """Background sampler of ``python_worker_rss_kb``; ``peak_mb`` holds
    the largest sum seen while running."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, python_worker_rss_kb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
