"""Host facts recorded with every result, and process bookkeeping."""

from __future__ import annotations

import os
import platform
import subprocess


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_memory_mb() -> int:
    """A quarter of the host's RAM, between 1 and 4 GiB: enough for the
    sf0.1 working set without crowding other tenants of a shared host."""
    return max(1024, min(4096, mem_total_mb() // 4 // 256 * 256))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int]) -> float:
    """Share of CPU time since ``before`` that the hypervisor gave to other
    guests (steal). Latencies of identical runs rise with it."""
    d = [b - a for a, b in zip(before, cpu_times())]
    return round(d[7] / sum(d), 4) if len(d) > 7 and sum(d) else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Python driver plus its JVM."""
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid(spark))) / 1024


def stop_spark(spark) -> None:
    """Stop the session, then shut the gateway JVM down and wait for it, so
    no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def block(root: str, cores: int, mem_mb: int, seed: int, load_before, cpu_before) -> dict:
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = "unknown"
    commit = "unknown"
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": nproc(),
        "cores_used": cores,
        "mem_total_mb": mem_total_mb(),
        "driver_memory_mb": mem_mb,
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "cpu_steal_share": steal_share(cpu_before),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "commit": commit,
        "seed": seed,
    }
