"""Host facts, deployment-style settings, memory witnesses and the load control."""

from __future__ import annotations

import os
import platform
import shutil
import threading
import time

from spans import jvm_descendants


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def heap_for_host() -> str:
    """JVM heap sized from MemTotal: a quarter of RAM, 1-8 GiB.

    In local mode one JVM heap serves every task, and shuffle files,
    Python workers and the OS page cache share the rest of the box."""
    mb = meminfo_kb("MemTotal") // 1024 // 4
    return f"{max(1024, min(8192, mb // 256 * 256))}m"


def deployment_env(root: str, work: str) -> dict[str, str]:
    """Environment a deployment would export before spark-submit.

    Every path the JVM or the Python workers write lands under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap_for_host(),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        # the session's default JVM option plus a temp dir inside the work dir
        "SPARK_GRAFT_JAVA_OPTS": f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        # keeps HotSpot's /tmp/hsperfdata_* file out of /tmp, for every JVM
        # the launcher starts
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def shm_used_mb() -> float:
    if not os.path.isdir("/dev/shm"):
        return 0.0
    st = os.statvfs("/dev/shm")
    return (st.f_blocks - st.f_bfree) * st.f_frsize / 2**20


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers are
    split between them instead of counted once per worker as in VmRSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemoryWitness:
    """Samples Python-worker memory and /dev/shm use in a background thread.

    ``peak_rss_mb`` = the JVM's VmHWM (kernel-tracked peak) plus the highest
    sampled total PSS of the JVM's Python worker processes."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.shm_base_mb = shm_used_mb()
        self.shm_peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-witness", daemon=True)

    def _sample(self) -> None:
        pss_kb = sum(_pss_kb(p) for p in jvm_descendants(self.pid))
        self.workers_peak_mb = max(self.workers_peak_mb, pss_kb / 1024)
        self.shm_peak_mb = max(self.shm_peak_mb, shm_used_mb() - self.shm_base_mb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def jvm_hwm_mb(self) -> float:
        return _status_kb(self.pid, "VmHWM") / 1024

    def peak_rss_mb(self) -> float:
        return self.jvm_hwm_mb() + self.workers_peak_mb


def sha2_control_s(spark, rows: int = 2_000_000) -> float:
    """In-JVM map-only sha2 job (no shuffle, no Python): a load diagnostic.

    The same kind of work as bench.py's control at a twentieth of its size."""
    parts = spark.sparkContext.defaultParallelism * 4
    t0 = time.perf_counter()
    spark.range(0, rows, 1, parts).selectExpr(
        "sum(length(sha2(cast(id as string), 256))) as s"
    ).collect()
    return time.perf_counter() - t0


def host_facts(spark, env: dict[str, str]) -> dict:
    local_dir = env["SPARK_GRAFT_LOCAL_DIR"]
    os.makedirs(local_dir, exist_ok=True)
    fs = shutil.disk_usage(local_dir)
    jvm = spark.sparkContext._jvm
    return {
        "cpus_used": int(env["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "mem_total_mb": meminfo_kb("MemTotal") // 1024,
        "heap": env["SPARK_GRAFT_DRIVER_MEM"],
        "spark_local_dir": spark.conf.get("spark.local.dir", None),
        "spark_local_dir_fs_total_gb": round(fs.total / 2**30, 1),
        "spark_local_dir_fs_free_gb": round(fs.free / 2**30, 1),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "java_version": str(jvm.java.lang.System.getProperty("java.version")),
        "python_version": platform.python_version(),
    }
