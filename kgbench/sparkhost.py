"""Host sizing and Spark session lifetime for the benchmark.

Everything the benchmark writes (inputs, job outputs, Spark local dirs,
temp files, the event log) stays under ``WORK`` inside the checkout.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
SHUFFLE_PARTITIONS = 8


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def host_fingerprint() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "mem_total_mb": mem_kb // 1024}


def size_to_host(host: dict) -> None:
    """Size the session through the program's own knobs (session.py reads
    SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM) and keep every scratch
    file inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    # the session default (16g) can exceed the host. 2 GiB (less on a small
    # host) holds these inputs with room to spare
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, host['mem_total_mb'] // 4)}m"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def start_session(event_log_dir: str | None = None):
    from char_ner_spark.session import build_session

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"}
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session("kgbench", shuffle_partitions=SHUFFLE_PARTITIONS,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def python_peak_mb() -> float:
    """VmHWM of this process, in MB."""
    with open("/proc/self/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("VmHWM:")) / 1024


def jvm_live_mb(spark) -> float:
    """Memory the JVM's live data takes, in MB: heap in use right after a
    full collection, plus non-heap in use (metaspace, code cache).

    Neither the JVM's VmHWM nor its memory pools' peak usage is used. Both
    count garbage the collector has not yet reclaimed, so they follow its
    heap sizing and the moment it starts a marking cycle more than the
    program: on kg_tag_heavy the pools' summed peaks varied 650-935 MB
    between runs. Off-heap buffers are not counted.

    Python's collector runs first, so py4j handles of dead DataFrames
    release their JVM objects; the pause lets Spark's context cleaner drop
    the broadcasts and shuffles those objects pinned, and the second full
    collection frees them. With one collection, the live heap after a job
    read 84 or 140 MB depending on that timing."""
    import gc

    jvm = spark.sparkContext._jvm
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20
