"""Process-level readings for the Spark JVM and its Python workers, and an
orderly shutdown that waits until every one of them has exited."""

from __future__ import annotations

import os
import signal
import subprocess
import time

#: time Spark's ContextCleaner thread gets to drop blocks after a collection,
#: and the most collections made before reading the retained heap
CLEANER_WAIT_S = 0.3
GC_ROUNDS = 8


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB; 0 once it exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_process():
    """The ``Popen`` of the Spark driver JVM that pyspark launched."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def tree_hwm_mb(pid: int) -> float:
    """VmHWM of ``pid`` plus every live descendant (the Python workers)."""
    return vm_hwm_mb(pid) + sum(vm_hwm_mb(p) for p in descendants(pid))


def _full_gc_live_mb(jvm) -> float:
    """Force a full collection; return the heap it left live. Read from the
    collection's own record, so allocation after it does not count (the
    benchmark's JVM runs G1, whose full collector has this name)."""
    jvm.java.lang.System.gc()
    mf = jvm.java.lang.management.ManagementFactory
    heap = {p.getName() for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"}
    full = next(b for b in mf.getGarbageCollectorMXBeans() if b.getName() == "G1 Old Generation")
    after = full.getLastGcInfo().getMemoryUsageAfterGc()
    return sum(after[k].getUsed() for k in after if k in heap) / 2**20


def _heap_pools(jvm):
    mf = jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peaks(spark) -> None:
    """Start the heap pools' peak usage afresh (before the passes)."""
    for pool in _heap_pools(spark._jvm):
        pool.resetPeakUsage()


def heap_peaks_mb(spark) -> dict[str, float]:
    """Each heap pool's peak usage since ``reset_heap_peaks``, in MB."""
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in _heap_pools(spark._jvm)}


def heap_committed_mb(spark) -> float:
    """The heap the JVM has committed; with ``-Xms`` = ``-Xmx`` and
    ``AlwaysPreTouch`` all of it is resident from the start."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getCommitted() / 2**20


def heap_after_gc_mb(spark) -> float:
    """JVM heap live after forced full collections, plus block-manager
    bytes held on disk. Python is collected first, so JVM objects only its
    dead py4j proxies kept alive are released too. A collection frees the
    handles of broadcasts and RDDs, and Spark's ContextCleaner thread then
    drops their blocks; full collections repeat until the live heap settles."""
    import gc

    gc.collect()
    jvm = spark._jvm
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    live = None
    for _ in range(GC_ROUNDS):
        before, live = live, _full_gc_live_mb(jvm)
        if before is not None and abs(live - before) <= 0.01 * before:
            break
        time.sleep(CLEANER_WAIT_S)
    disk = sum(i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return live + disk / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF), and wait until
    the JVM and its Python workers have ended; kill stragglers."""
    from pyspark import SparkContext

    proc = jvm_process()
    workers = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
        deadline = time.monotonic() + timeout_s
        while any(_alive(p) for p in workers) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in workers:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None
