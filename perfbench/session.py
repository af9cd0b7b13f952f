"""The benchmark's SparkSession: sized to the host, kept inside the
checkout, and stopped together with its JVM."""

from __future__ import annotations

import os
import subprocess

# Keys printed with every result, so a reader sees the conf that ran.
REPORTED_CONF = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.default.parallelism",
    "spark.sql.adaptive.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.ui.enabled",
    "spark.ui.showConsoleProgress",
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start(root: str, work: str):
    """local[nproc] with a 2 GiB driver heap (the box is shared and the
    corpus is small) and one shuffle partition per core. Temporary and
    shuffle files go under ``work``; ``root`` is put on the Python
    workers' path so they import this checkout's library."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver) keeps its temp files in the
    # checkout and writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_conf(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {k: spark.conf.get(k, conf.get(k)) for k in REPORTED_CONF}


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit
    (it also stops the Python workers it started)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
