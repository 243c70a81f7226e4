"""Host-derived launch settings and /proc accounting for the benchmark.

The benchmark starts the program on the host it finds, without editing a
program file: ``session.get_spark`` reads its heap size and CPU count
from the environment, and Spark's Python workers import the package only
if the repository root is on their ``PYTHONPATH``.  ``launch_env`` sets
all three from the host, and keeps every temporary file inside the
benchmark's work directory.

CPU time and resident memory come from ``/proc`` for the process tree
rooted at the benchmark process: the benchmark (which is also the Python
side of the Spark application), the Spark JVM and the Python workers it
forks.  Memory is that of the Spark process tree (the JVM and its
Python workers), with the JVM heap counted at its live set.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

# Share of the host's memory given to the Spark JVM heap.  The session
# pre-touches the whole heap, and inputs, outputs, Python workers and the
# page cache must fit beside it on a host without swap.
HEAP_FRACTION = 1 / 8
HEAP_FLOOR_MB = 1024
CLEANER_WAIT_S = 1.0

_CLK = os.sysconf("SC_CLK_TCK")


def memory_limit_bytes() -> int:
    """The smaller of physical memory and this process's cgroup limit."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def launch_env(repo_root: str, work: str) -> dict[str, str]:
    """Environment the session needs on this host; also applied to
    ``os.environ`` by the caller before pyspark starts the JVM."""
    heap_mb = max(HEAP_FLOOR_MB, int(memory_limit_bytes() * HEAP_FRACTION) >> 20)
    heap_mb -= heap_mb % 256
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": repo_root + (os.pathsep + py_path if py_path else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User+system CPU seconds of the tree, including exited children
    that a live member of the tree has reaped."""
    root = pid or os.getpid()
    total = 0
    for p in [root, *descendants(root)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def reset_peaks() -> None:
    """Start a new peak-memory window for the Spark process tree (the JVM
    and the Python workers it forks): reset each process's VmHWM
    (``clear_refs`` 5)."""
    jvm = _jvm_pid()
    for p in [jvm, *descendants(jvm)]:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_mem_mb(spark) -> dict[str, float]:
    """Memory of the Spark process tree, in parts: the JVM heap's live set
    now (in use right after a full collection), the JVM's peak resident
    memory outside its heap since ``reset_peaks``, and the Python
    workers' summed peak resident sets since then.  The heap is pinned and
    pre-touched, so the JVM's resident set holds all of it from the start,
    whatever the program keeps alive in it."""
    jvm_gw = spark.sparkContext._jvm
    # the first collection queues the unreachable broadcasts, shuffles and
    # checkpoints for Spark's ContextCleaner; the second one, after the
    # cleaner has dropped their blocks, leaves only what is still held
    jvm_gw.java.lang.System.gc()
    time.sleep(CLEANER_WAIT_S)
    jvm_gw.java.lang.System.gc()
    heap = jvm_gw.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    parts = {"heap_live": heap.getUsed() / 2**20, "jvm_native": 0.0, "workers": 0.0}
    jvm = _jvm_pid()
    for p in [jvm, *descendants(jvm)]:
        try:
            with open(f"/proc/{p}/status") as f:
                hwm = next((int(line.split()[1]) * 1024 for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        if p == jvm:
            parts["jvm_native"] = max(hwm - heap.getCommitted(), 0) / 2**20
        else:
            parts["workers"] += hwm / 2**20
    return parts


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM and wait until it and every process
    it forked (the Python worker daemon and workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    pids = descendants(proc.pid)
    gateway.shutdown()
    # the gateway JVM exits when its stdin reaches EOF
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    for p in pids:
        while _alive(p) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None
