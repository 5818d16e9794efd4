"""Spark session for the benchmark: local[nproc], memory sized to the host,
every scratch file kept inside the checkout."""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_mb() -> int:
    """A sixth of physical memory, clamped to [1, 4] GiB: the benchmark's
    corpora are small and the host is shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(4096, max(1024, total // 6 >> 20)))


def start_spark(work: str):
    """Start the session. Executors are Python workers forked by the
    driver's JVM, so PYTHONPATH (engine + benchmark modules) and TMPDIR
    set here reach them."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in ("-XX:-UsePerfData", os.environ.get("SPARK_LAUNCHER_OPTS")) if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR (ensure_shipped zips into it)

    from pyspark.sql import SparkSession

    cpus = host_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pyfusedb-perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        # the corpora are a few small parquet files: without these the
        # scan would bin-pack into fewer splits than cores
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # as the repository's bench.py: fewer Python round trips in the
        # build's Arrow stages
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )
    from pyfusedb_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    return spark
