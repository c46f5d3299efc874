"""SparkSession factory with the engine's tuned defaults.

Local-mode knobs chosen for the sandbox (single JVM, N threads); on a
real cluster the same confs apply per-executor — nothing here is
local-only semantics. AQE is on so skewed scheduling shuffles get
runtime-split (the north rule's hot-domain case), and Arrow is on for
every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap that fits the host: half its physical memory, capped
    at 16 GiB, in whole GiB (at least 1)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2 // 2**30))}g"


def default_cpus() -> int:
    """Parallelism that fits the host: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "twawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make this package importable by Python workers regardless of cwd
    # (the spark-submit --py-files analog for in-process sessions)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{pp}" if pp else pkg_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # the seen-filter merge (treeAggregate of per-bucket Bloom
        # shards, 256 MiB each at the 10^8-key tier) returns several
        # shard-sized partials to the driver in one stage — the 1g
        # default aborts that job once the partition count grows
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-parallelism floor (guide §6): the driver tables arrive as
        # ONE parquet file each (16 MB events, 126 MB lineitem...), so a
        # 128 MB-split scan yields 1-2 partitions and every map-side
        # pipeline above it (projections, md5 expansions, broadcast-join
        # probe sides, partial aggregates) runs on 1-2 cores no matter
        # the cluster width. Floor the split count at the session's
        # parallelism — scale-adaptive, not a local constant; at
        # warehouse scale inputs far exceed core count and this is a
        # no-op. openCostInBytes drops to 1 MB so the floor can split
        # medium single-file inputs (4 MB open-cost would clamp a 16 MB
        # file to 4 splits) while still flooring per-task work at ~1 MB
        # — smaller splits made sub-MB inputs pay 32 tasks of scheduling
        # overhead for trivial scans (measured at sf0.1).
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
