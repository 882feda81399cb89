"""SparkSession factory tuned for the ER workload.

AQE on (runtime coalesce + skew-join split), Arrow on (all our UDFs are
pandas/Arrow batched), Kryo, and a shuffle-partition default sized for
the sandbox (local[32]); on a real cluster pass shuffle_partitions ~
2-3x total cores and let AQE coalesce.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """Half the host's RAM, at most 48g. The JVM expands its heap toward
    the cap rather than collecting, so a cap above physical RAM ends in
    the kernel OOM killer: with a fixed 48g the test-suite JVM reached
    15.5 GB RSS and was killed on a 4-core / 15 GB host."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "48g"
    return f"{min(48 * 1024, total_kb // 2048)}m"


DEFAULT_CONF = {
    # local mode runs executor + driver in ONE JVM whose default heap is
    # 1g; with 32 concurrent tasks the unified memory manager then
    # evicts cached/persisted blocks mid-job and every downstream stage
    # recomputes its whole lineage (measured: a 2s scoring stage became
    # 45s at local[32]). Honored at JVM launch when PySpark starts the
    # gateway; on a real cluster spark-submit sets executor memory and
    # this default is irrelevant.
    "spark.driver.memory": os.environ.get(
        "KAWA_SPARK_DRIVER_MEM", _host_driver_memory()
    ),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # iterative CC truncates lineage via checkpoints; keep retained plans small
    "spark.ui.enabled": "false",
}


def get_spark(
    master: str | None = None,
    app_name: str = "kawa_spark",
    shuffle_partitions: int = 32,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Small single-file inputs otherwise scan as ONE partition and every
    # downstream narrow stage runs single-core; advisory minimum keeps
    # local benches parallel and is a no-op at scale (large inputs
    # already exceed it via maxPartitionBytes splitting).
    conf["spark.sql.files.minPartitionNum"] = str(shuffle_partitions)
    # AQE's coalescing floor is byte-based (1 MiB); our Python matcher
    # stage is CPU-bound at ~KB/row, so that floor serializes small-but-
    # expensive stages onto one core. Lowering the floor lets
    # parallelismFirst target defaultParallelism; at scale
    # totalSize/parallelism >> this value, so behavior is unchanged.
    conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = "64k"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def package_zip() -> str:
    """Zip this package for --py-files-style shipping to executors."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out = os.path.join("/tmp", "kawa_spark_pyfiles.zip")
    src_mtime = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(".py")
    )
    if not os.path.exists(out) or os.path.getmtime(out) < src_mtime:
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for dp, _, fs in os.walk(pkg_dir):
                for f in fs:
                    if f.endswith(".py"):
                        p = os.path.join(dp, f)
                        zf.write(p, os.path.relpath(p, root))
        os.replace(tmp, out)
    return out


def ship_package(spark: SparkSession) -> None:
    """Make kawa_spark importable on executor python workers regardless of
    driver cwd — the in-process equivalent of ``spark-submit --py-files``
    (the deployment path the north rule mandates)."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context
