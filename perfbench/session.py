"""One ``local[nproc]`` SparkSession sized from the machine it runs on.

The session ships the ``lasdb_spark`` package to Python workers
(``las_to_df`` decodes tiles inside ``mapInPandas``, whose workers
otherwise fail with ``ModuleNotFoundError: lasdb_spark`` when they start
outside the checkout), and keeps every scratch file — Spark local dirs,
JVM temp files, the SQL warehouse — inside the benchmark's work
directory.
"""

from __future__ import annotations

import os


def machine_size() -> tuple[int, int]:
    """(usable CPUs, total memory in MiB)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return cpus, int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(total_mb: int) -> int:
    """An eighth of the machine, between 1 GiB and 2 GiB: a store is a
    few tens of MB and the machine is shared (a 1 GiB heap measured
    ~15 % slower and noisier queries than 2 GiB, from GC)."""
    return max(1024, min(2048, total_mb // 8))


def start_session(root: str, work: str):
    """Start the benchmark session; ``root`` is the
    checkout holding ``lasdb_spark``, ``work`` the scratch directory."""
    from pyspark.sql import SparkSession

    cpus, total_mb = machine_size()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # inherited by the JVM and by every Python worker it forks
    os.environ["TMPDIR"] = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    mem = heap_mb(total_mb)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("lasdb_perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: rows of the reference job; on a calm 4-CPU VM it takes about
#: ``REFERENCE_MS``
REFERENCE_ROWS = 200_000
REFERENCE_MS = 150.0


def reference_job(spark, i: int) -> None:
    """A fixed Spark SQL job that runs no ``lasdb_spark`` code: planning,
    code generation (``i`` changes a literal, so each call compiles new
    code, as each window query does), one task per core and a shuffle.
    Its time tracks the host's speed, not the program's."""
    cpus = machine_size()[0]
    rows = (
        spark.range(0, REFERENCE_ROWS, numPartitions=cpus)
        .selectExpr("id % 101 AS k", f"id * 0.5 + {i} AS v")
        .where(f"v > {i % 7}")
        .groupBy("k")
        .count()
        .collect()
    )
    if len(rows) != 101:
        raise AssertionError(f"reference job returned {len(rows)} groups, not 101")


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM behind it to exit (it
    takes its Python worker daemons down): ``spark.stop()`` alone
    leaves the JVM running until this process exits."""
    import subprocess

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
