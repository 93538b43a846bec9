"""Host sizing, host facts, process-tree CPU time and clean shutdown.

Only deployment settings are made here: the core count, the driver heap
and where Spark and Python put scratch files. Engine knobs (shuffle
partitions, Arrow batch size, allocator tuning) keep their defaults, so a
later change to a default shows up in the numbers.
"""

from __future__ import annotations

import os
import platform


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb() -> int:
    """Driver heap for local mode: 40% of physical RAM, at least 1 GB.
    Executors share this JVM, and the Python workers need the rest."""
    return max(1, int(ram_bytes() * 0.4) >> 30)


def configure(work_dir: str) -> None:
    """Environment for a local[nproc] session whose scratch files stay
    inside ``work_dir``. Must run before the first pyspark import."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gb()}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM writes it to the system temp directory
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def facts(spark) -> dict:
    load1, load5, load15 = os.getloadavg()
    return {
        "cores": cores(),
        "ram_gb": round(ram_bytes() / 2**30, 1),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg": [load1, load5, load15],
        "spark": spark.version,
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


_TICK = os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine since boot, from
    /proc/stat: steal is time a virtual CPU waited for the hypervisor,
    which other tenants' load shows up as."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def steal_frac(since: tuple[int, int]) -> float:
    steal, total = host_cpu()
    return (steal - since[0]) / max(1, total - since[1])


def _children() -> dict[int, list[int]]:
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


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants: the driver
    Python, the JVM and the Python workers. Each live process counts its
    own time plus that of its reaped children, so workers that already
    exited are included too."""
    kids = _children()
    total = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] are utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it.
    The Python workers are children of the JVM and end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
