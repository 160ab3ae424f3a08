"""Process bookkeeping: PSS of the whole engine (this Python process,
the JVM it launched and the JVM's Python workers) and a clean shutdown
that waits for every one of them to end."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def pss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # the process ended between listing and reading
            continue
    return total_kb / 1024.0


#: the JVM's JIT compiler threads, by name as /proc gives it (15 chars)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_threads() -> list[str]:
    """The /proc task dirs of the JIT compiler threads in the processes
    this one started (the JVM's; it runs with a fixed set of them)."""
    out = []
    for pid in descendants():
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                task = f"/proc/{pid}/task/{tid}"
                with open(f"{task}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        out.append(task)
        except OSError:  # the process or thread ended while listing
            continue
    return out


def cpu_ns(pids, jit=()) -> dict:
    """CPU time each process has used so far, all its threads summed, in
    ns, and minus that of each ``jit`` thread. Steal time is not counted:
    the kernel charges a task only for the time its CPU really ran it."""
    out: dict = {}
    for pid in pids:
        try:
            # Linux's CPU-time clock of process ``pid`` (CPUCLOCK_SCHED)
            out[pid] = time.clock_gettime_ns(((~pid) << 3) | 2)
        except OSError:  # the process ended between listing and reading
            continue
    for task in jit:
        try:
            # the thread's run time in ns, the first field (another
            # process's thread has no clock this process may read)
            with open(f"{task}/schedstat") as f:
                out[task] = -int(f.read().split()[0])
        except OSError:
            continue
    return out


def cpu_before(jit=()) -> dict:
    """CPU ns so far of this process and every process it started, the
    ``jit`` threads' left out. This process is read last, so the scan of
    /proc is not counted."""
    snap = cpu_ns(descendants(), jit)
    snap[os.getpid()] = time.process_time_ns()
    return snap


def cpu_after(jit=()) -> dict:
    """As cpu_before, this process read first."""
    own = time.process_time_ns()
    snap = cpu_ns(descendants(), jit)
    snap[os.getpid()] = own
    return snap


def cpu_ms(before: dict, after: dict) -> float:
    """CPU ms the processes used between the two snapshots; a process
    started in between counts in full, one that ended is not counted."""
    return sum(v - before.get(p, 0) for p, v in after.items()) / 1e6


def engine_pss_mb() -> float:
    return pss_mb([os.getpid(), *descendants()])


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_engine(spark, timeout: float = 20.0) -> None:
    """Stop the SparkSession and its JVM, then wait until every process
    this one started has ended (stragglers get SIGKILL)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants()
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        alive = [p for p in kids if _running(p)]
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if _running(p)]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for p in alive:  # children of this process can be reaped
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass
