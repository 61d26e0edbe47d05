"""Host shape and process-tree resource readings from /proc.

CPU and memory cover the benchmark's own Python process (the Spark
driver side, where dashboard rasterizing runs), the JVM it launched and
every process under the JVM (the Python workers).
"""

from __future__ import annotations

import ctypes
import os
import platform
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    tree = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(tree.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root: int) -> float:
    """User+system CPU of `root`'s tree, including reaped children (a
    dead worker's time moves into its parent's cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after the comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_mem_b(root: int, spark) -> dict[str, int]:
    """Peak memory of the program, in three parts that each follow it:

    - `python_b`: summed peak resident size (VmHWM) of `root`, the
      driver-side Python process, and of the Python workers under the JVM;
    - `jvm_nonheap_b`: the JVM's VmHWM minus its committed heap. The heap
      is fixed and pre-touched, so this is the peak of everything else the
      JVM holds resident: metaspace, code, thread stacks, direct buffers;
    - `jvm_heap_live_b`: heap in use after a full GC, taken now, i.e. what
      the program's ops left reachable.

    Other descendants are skipped: a child forked but not yet exec'd would
    report its parent's pages."""
    python_kb, jvm_kb = _status_kb(root, "VmHWM"), 0
    for pid in process_tree(root)[1:]:
        comm = _comm(pid)
        if comm == "java":
            jvm_kb += _status_kb(pid, "VmHWM")
        elif comm.startswith("python"):
            python_kb += _status_kb(pid, "VmHWM")
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    heap = mx.getHeapMemoryUsage()
    return {
        "python_b": python_kb * 1024,
        "jvm_nonheap_b": jvm_kb * 1024 - heap.getCommitted(),
        "jvm_heap_live_b": heap.getUsed(),
    }


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, after handing
    freed heap back to the kernel, so that the benchmark's own input
    generation does not set the Python-side peak."""
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def process_age_s() -> float:
    """Seconds since this process started, from its /proc start time."""
    f = _stat_fields(os.getpid())
    # fields after the comm: state=0 ... starttime=19, in ticks since boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(f[19]) / _CLK


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def cpu_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: a slow probe on an
    otherwise idle benchmark means the host was contended."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 4)


def _meminfo_kb(key: str) -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _cgroup_mem_limit_b() -> int | None:
    for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as fh:
                v = fh.read().strip()
            return None if v == "max" else int(v)
        except (OSError, ValueError):
            continue
    return None


def host_shape() -> dict:
    import pyarrow
    import pyspark

    mem_kb = _meminfo_kb("MemTotal")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "cgroup_mem_limit_b": _cgroup_mem_limit_b(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
    }
