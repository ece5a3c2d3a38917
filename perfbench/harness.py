"""Process-level plumbing: where the benchmark writes, the Spark session it
builds, and the memory and leak counters it reads from outside the program.
"""

from __future__ import annotations

import os
import platform
import resource
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")  # every file the benchmark writes


def prepare_env() -> None:
    """Point every temp and scratch directory into the work dir (before
    Spark or ``tempfile`` is first used)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # 4 cores / 15 GB: a 3 GB pre-sized driver heap leaves room for the
    # Python workers (one per core) and the page cache.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def build_spark(event_log_dir: str | None = None):
    """``local[nproc]`` session through the program's own session factory."""
    from polipus_spark.session import build_session

    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return build_session(app_name="perfbench", cores=os.cpu_count(),
                         extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (vm_hwm_kb(jvm_pid(spark)) + own_kb) / 1024.0


def persisted_rdds(spark) -> int:
    """Datasets still registered in the JVM's persistent-RDD map."""
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_info(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "python": platform.python_version(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
