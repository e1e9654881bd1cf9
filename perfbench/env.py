"""The benchmark's pinned environment and its Spark session.

Nothing here is read from the caller's environment: parallelism comes
from the CPUs this process may run on, the heap is fixed, and every
directory Spark, the JVM or Python workers write to lies under the
benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
import time

#: driver (= executor, local mode) heap; the JVM's peak RSS stays well
#: inside a 15 GB machine at the benchmark's input sizes
DRIVER_HEAP = "3g"
WORK_DIRNAME = ".perfbench_work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def work_dir(root: str) -> str:
    return os.path.join(root, WORK_DIRNAME)


def pin(root: str) -> None:
    """Export the process environment the JVM and its Python workers
    inherit. Must run before the first SparkSession is created."""
    wd = work_dir(root)
    local = os.path.join(wd, "spark-local")
    tmp = os.path.join(wd, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import thecrowler_spark (pandas UDFs of the cuckoo
    # filter); outside pytest nothing else puts the checkout on their path
    os.environ["PYTHONPATH"] = root
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_AQE", "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(root: str, event_log_dir: str | None = None):
    """``local[nproc]`` session from the repository's session factory with
    every benchmark-relevant setting given explicitly. Returns
    ``(spark, seconds)``."""
    from pyspark.sql import SparkSession

    from thecrowler_spark.session import get_spark

    cores = nproc()
    tmp = os.path.join(work_dir(root), "tmp")
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        # the whole heap committed from the start, so peak RSS does not
        # depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir(root), "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=2 * cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it every Python worker it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
