"""Environment pinning, engine start-up and shutdown, memory readings.

The environment is fixed here, not inherited: Spark gets one local
thread per CPU the process may use, a driver heap that fits a
small machine, and scratch directories inside the run's work directory.
"""

from __future__ import annotations

import os
import platform
import sys
import time

DRIVER_MEM = "4g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> None:
    """Must run before pyspark launches its JVM."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={work_dir}/warehouse "
            "pyspark-shell"),
    })
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_ADAPTIVE_MIN_BYTES", "OMP_NUM_THREADS"):
        os.environ.pop(var, None)


def start_session():
    from redisgraph_spark import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()            # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its JVM child."""
    from pyspark import SparkContext
    py = _vm_hwm_kb("self")
    proc = getattr(SparkContext._gateway, "proc", None)
    jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    log(f"peak rss: python {py / 1024:.0f} MB, jvm {jvm / 1024:.0f} MB")
    return (py + jvm) / 1024.0


def describe(spark) -> dict:
    """Machine and software versions, printed with every result."""
    import pyspark
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": cpus(),
        "mem_gb": round(mem_kb / 1024 ** 2, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": jvm.getProperty("java.version"),
        "driver_mem": DRIVER_MEM,
        "master": spark.sparkContext.master,
    }


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)
