"""Process-tree accounting from /proc: CPU seconds of the driver, its
JVM child and the Python workers under it, peak RSS, and a clean stop
that waits for every process the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the live tree, plus what reaped children left in
    their parents' cutime/cstime."""
    ticks = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_probe_ms(reps: int = 7) -> float:
    """Median milliseconds of a fixed single-threaded Python loop: a
    gauge of how fast the host runs this process at the moment, printed
    beside the timings so host drift shows in the report."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2] * 1000.0


def steal_s() -> float:
    """CPU seconds the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def other_jvms() -> int:
    """Java processes alive that this run did not start."""
    mine = set(descendants(os.getpid()))
    n = 0
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) not in mine:
            try:
                with open(f"/proc/{name}/comm", encoding="ascii") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                continue
    return n


def jvm_pid(spark) -> int:
    """The driver JVM: the gateway process, or the java process under it
    if the launcher script did not exec."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm", encoding="ascii") as fh:
                if fh.read().strip() == "java":
                    return p
        except OSError:
            continue
    return pid


def stop_all(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut the gateway JVM down and wait until every
    process below this one has ended, killing stragglers."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in descendants(me) if p != me]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                gateway.proc.wait(timeout=timeout_s / 2)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + timeout_s / 2
        while time.time() < deadline and any(_alive(p) for p in started):
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
