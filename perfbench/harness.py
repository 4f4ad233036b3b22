"""Run set-up shared by the workloads: environment, Spark session, job
isolation, memory high-water marks and shutdown.

Everything a run writes goes under ``<checkout>/.perfbench_work``: the
fixture tables (kept between runs; they do not depend on the seed) and one
directory per run (Spark local and temp dirs, warehouse, stream inbox,
checkpoint and view store), deleted when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass

WORK_DIR = ".perfbench_work"
SCALE = 0.1


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Driver heap that fits the host: a quarter of RAM, 1 to 4 GiB (the
    engine's own default is 48g, sized for a much larger host)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Run:
    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    dir: str = ""
    data_dir: str = ""
    spark: object = None
    cpus: int = 0
    mem: str = ""
    get_session_s: float = 0.0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def prepare(run: Run) -> None:
    """Make the run's directories and environment; build the fixture."""
    from . import datagen

    work = os.path.join(run.root, WORK_DIR)
    run.dir = os.path.join(work, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    run.cpus = cpu_count()
    run.mem = driver_mem()
    tmp = run.path("tmp")
    os.environ.update({
        # every JVM of the run (spark-submit's launcher and the driver) keeps
        # its temp files in the run directory and writes no perf-data file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": run.path("local"),
        "SPARK_GRAFT_CPUS": str(run.cpus),
        "SPARK_GRAFT_DRIVER_MEM": run.mem,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
    })
    import tempfile

    tempfile.tempdir = tmp
    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:12]
    run.data_dir = datagen.materialize(
        os.path.join(work, f"data-sf{SCALE}-{version}"), SCALE
    )


def start_session(run: Run):
    """``get_session`` with the run's directories and a status store large
    enough to hold a traced span's stages."""
    from big_data_project_implementation_spark import get_session

    t0 = time.perf_counter()
    run.spark = get_session(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )
    run.get_session_s = time.perf_counter() - t0
    return run.spark


def reset(spark) -> None:
    """Drop cached tables and every persisted RDD (``localCheckpoint``s
    included) so jobs are measured independently, as bench.py does."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this (driver Python) process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (vm_hwm_kb(jvm_pid) + vm_hwm_kb(os.getpid())) / 1024.0


def stop(run: Run) -> None:
    """Stop Spark, wait for the JVM to exit, delete the run directory."""
    spark = run.spark
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
    if run.dir:
        shutil.rmtree(run.dir, ignore_errors=True)
