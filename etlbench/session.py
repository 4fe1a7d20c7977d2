"""Spark session for the benchmark: the package's own session factory,
with every scratch location (Python temp files, Spark local dirs, JVM
temp dir, warehouse) moved under the run's work directory, and a clean
shutdown that waits for the JVM to exit."""

from __future__ import annotations

import os
import tempfile

DRIVER_MEMORY = "2g"
# Caps on the driver JVM's own thread pools (HotSpot sizes them from the
# core count): with them and half the cores as task slots, the task
# threads, JIT compiler threads, GC workers and Python workers together
# stay near the core count instead of oversubscribing it.
JVM_THREAD_OPTS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads: half the cores. A refresh is mostly driver
    planning, code generation and JIT compilation around many small
    jobs, so more task threads only compete with the JIT: on 4 cores
    (1000-model catalog, one run each) local[4] took ~17.8 s per 1%
    refresh and ~83 ms per lookup, local[2] ~14 s and ~59 ms."""
    return max(1, nproc() // 2)


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Must be in place before the JVM starts and before any temp file is
    # made: VersionedTripleStore stages its writes under gettempdir().
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM spark-submit runs before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())

    from mlentory_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        "etlbench",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed-size heap (-Xms = -Xmx): with an elastic heap the
            # process high-water mark follows G1's resizing decisions and
            # varied by ~20% between identical runs.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} {JVM_THREAD_OPTS}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # Keep every job and stage of a run for the traced-run
            # attribution (the defaults evict after 1000).
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.retainedTasks": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.ProcessHandle.current().pid()


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Seconds the driver JVM spent in garbage collection and in JIT
    compilation so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
