"""Run environment: work directory, Spark session, provenance stamp and
process-level probes (JVM heap after GC, peak RSS).

Everything a run writes goes under ``perfbench/out/`` of the checkout,
including Spark's local and temp directories.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(BENCH_DIR, "out")

#: Driver heap of the benchmark's JVM: the machine is shared, so the
#: benchmark does not inherit the program's 32 GB default.
DRIVER_MEM = "4g"


def cores() -> int:
    """k of local[k]: the usable cores, at most 4."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


class WorkDir:
    """Per-run scratch directory under perfbench/out, removed by close()."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(OUT_DIR, f"work-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        # Python-side temp files of the program (package zip, checkpoint
        # dirs) land in the checkout too; tempfile reads TMPDIR once.
        os.environ["TMPDIR"] = self.tmp

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(k: int, work: WorkDir):
    """The program's own session factory at local[k], k shuffle partitions."""
    from squirtle_spark import session

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": work.sub("spark-local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp} -Dderby.system.home={work.tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    spark = session.get_spark(app_name="perfbench", cpus=k, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def digest_tree(*dirs: str) -> str:
    """sha256 over the relative paths and bytes of every file under dirs."""
    h = hashlib.sha256()
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            subdirs.sort()
            for f in sorted(files):
                if f.startswith((".", "_")):
                    continue  # Spark's .crc and _SUCCESS markers
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, d).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def host_load() -> list[float] | None:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def stamp(spark, *, workload: str, seed: int, k: int, load_at_start, extra: dict) -> dict:
    """Provenance of one record: two records with equal stamps (apart
    from load) ran on identical inputs and toolchains."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "workload": workload,
        "seed": seed,
        "k": k,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "host_load_at_start": load_at_start,
        "nproc": os.cpu_count(),
        **extra,
    }


def heap_retained_mb(spark) -> float:
    """JVM heap in use after a forced full GC, in MB."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    sysm = spark.sparkContext._jvm.java.lang.System
    # Spark's ContextCleaner frees blocks of collected RDDs and broadcasts
    # only after a GC has cleared their references, so collect repeatedly
    for _ in range(3):
        sysm.gc()
        time.sleep(0.3)
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM, in MB."""
    jpid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(int(jpid))


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; nothing to release
        pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
