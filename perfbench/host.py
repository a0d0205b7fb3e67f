"""Host fingerprint, peak memory and the captured driver log."""

from __future__ import annotations

import contextlib
import hashlib
import os
import platform
import subprocess
import sys


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def cpu_s(pid: int | str = "self") -> float:
    """User + system CPU seconds of a process, all threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds stolen from this machine by its hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def source_commit(root: str) -> str:
    """Git commit of the checkout, or a digest of the engine's sources
    when the checkout is not a git repository."""
    if os.path.isdir(os.path.join(root, ".git")):
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
    h = hashlib.sha256()
    pkg = os.path.join(root, "elective_waiting_times_pipeline_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-" + h.hexdigest()[:16]


def fingerprint(spark, root: str, seed: int) -> dict:
    """The host and build a result was measured on; ``compare.py``
    refuses to compare results whose fingerprints differ in anything
    but ``seed`` and ``commit``."""
    jvm = spark.sparkContext._jvm
    return {
        "cores": cpus(),
        "mem_total_mb": round(_meminfo_mb()),
        "machine": platform.machine(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory_conf": spark.sparkContext.getConf().get("spark.driver.memory", "unset"),
        "driver_heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "commit": source_commit(root),
        "seed": seed,
    }


class DriverLog:
    """Routes the JVM's stdout/stderr (inherited at launch) to a file,
    so the driver log can be searched after the run."""

    def __init__(self, path: str):
        self.path = path

    @contextlib.contextmanager
    def capture(self):
        sys.stdout.flush()
        sys.stderr.flush()
        saved = [os.dup(1), os.dup(2)]
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            os.dup2(fd, 1)
            os.dup2(fd, 2)
            yield
        finally:
            os.dup2(saved[0], 1)
            os.dup2(saved[1], 2)
            for f in (fd, *saved):
                os.close(f)

    def count(self, needle: str) -> int:
        with open(self.path, errors="replace") as f:
            return sum(needle in line for line in f)
