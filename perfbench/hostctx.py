"""Run context printed beside every result, for reading noisy runs.

None of this is a metric: CPU spins and load average say how busy the
host was, so two runs can be compared with that in view.
"""

from __future__ import annotations

import gc
import hashlib
import os
import resource
import subprocess
import threading
import time

SPIN_BYTES = 32 << 20
SPIN_ROUNDS = 2
MIN_GC_ROUNDS = 5
GC_ROUNDS = 10
CLEANER_WAIT_S = 0.3
SETTLED_BYTES = 1 << 20


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _hash_spin(buf: bytes) -> None:
    for _ in range(SPIN_ROUNDS):
        hashlib.sha256(buf).digest()


def cpu_spins(threads: int) -> dict[str, float]:
    """Wall seconds of a fixed hashing load on one thread, then on
    ``threads`` threads at once (hashlib drops the interpreter lock on
    large buffers, so the threads run on separate cores)."""
    buf = bytes(SPIN_BYTES)
    t0 = time.perf_counter()
    _hash_spin(buf)
    single = time.perf_counter() - t0
    workers = [threading.Thread(target=_hash_spin, args=(buf,)) for _ in range(threads)]
    t0 = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return {"single_core_s": single, "multi_core_s": time.perf_counter() - t0}


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def static_context(root: str, cores: int) -> dict:
    import pyspark

    return {"nproc": nproc(), "master": f"local[{cores}]", "clients": 1,
            "pyspark": pyspark.__version__, "git_commit": git_commit(root)}


def load_average() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _proc_status_bytes(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(f"{field}:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no {field} for pid {pid}")


def vm_hwm_bytes(pid: int) -> int:
    """High-water resident set of a process, from /proc/<pid>/status."""
    return _proc_status_bytes(pid, "VmHWM")


def rss_bytes() -> int:
    """Resident set of this process now."""
    return _proc_status_bytes("self", "VmRSS")


def jvm_retained_bytes(spark) -> dict:
    """Heap and non-heap bytes the driver JVM still uses after full
    garbage collections: what the session holds on to, garbage excluded.

    Each collection lets Spark's ContextCleaner free the blocks, shuffles
    and broadcasts of objects found unreachable, which the next collection
    reclaims. The cleaner can take a second or two to get through them, so
    collections go on, at least MIN_GC_ROUNDS of them, until three in a
    row agree."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(GC_ROUNDS):
        gc.collect()  # drops Python handles that keep JVM objects alive
        jvm.java.lang.System.gc()
        readings.append(mx.getHeapMemoryUsage().getUsed())
        if len(readings) >= MIN_GC_ROUNDS and \
                max(readings[-3:]) - min(readings[-3:]) < SETTLED_BYTES:
            break
        time.sleep(CLEANER_WAIT_S)
    return {"heap": readings[-1], "non_heap": mx.getNonHeapMemoryUsage().getUsed()}


def python_hwm_bytes() -> int:
    """High-water resident set of this process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
