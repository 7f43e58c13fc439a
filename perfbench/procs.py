"""Process-tree accounting from /proc: CPU seconds, peak resident
memory, and an orderly stop of everything the benchmark started (the
Spark JVM and the Python workers it forks)."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds() -> float:
    """utime+stime of the tree, plus what its reaped children used."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(busy+idle, steal) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def live_mb(spark) -> float:
    """Memory the Spark driver keeps after the loop: the JVM's heap and
    non-heap in use after a full collection, plus this process's
    resident set."""
    jvm = spark._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + rss_mb(os.getpid())


def peak_rss_mb() -> float:
    """Sum of each live tree process's resident high-water mark."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then end the JVM and every descendant process
    and wait until each has exited."""
    from pyspark import SparkContext

    started = [p for p in tree() if p != os.getpid()]
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                proc.kill()
                proc.wait(timeout=timeout)
        deadline = time.monotonic() + timeout
        live = [p for p in started if _alive(p)]
        while live and time.monotonic() < deadline:
            time.sleep(0.1)
            live = [p for p in live if _alive(p)]
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        # reap zombies that are our own children
        for pid in started:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
