"""Spark session, host context, process CPU time and memory for the
benchmark.

The session uses the settings of the repository's ``bench.py``
``make_spark`` (ParallelGC, AQE with coalescing, Arrow,
``hugeMethodLimit=8000``, no UI) on ``local[<nproc / 2>]``, with a 3 GB
driver heap, a fixed number of JIT compiler threads (see
``process_cpu_s``), and the scratch and warehouse directories inside
the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Executor threads: half the cores. The driver thread, Python, and
    the JVM's JIT compiler and GC threads are busy alongside the tasks;
    with a slot per core a run keeps more threads runnable than there
    are cores, and its timings follow the host's other load."""
    return max(1, nproc() // 2)


def make_spark(work: str, driver_mem: str = "3g"):
    from pyspark.sql import SparkSession

    cpus = task_slots()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits
    when it closes) and wait until the JVM process has ended; its
    Python workers exit with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> dict:
    """Aggregate user and steal ticks from /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return {"user": int(f[1]), "steal": int(f[8]) if len(f) > 8 else 0}


def tick_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


def _children(pid: int) -> list[int]:
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            kids = [int(x) for x in fh.read().split()]
    except OSError:
        return out
    for k in kids:
        out.append(k)
        out.extend(_children(k))
    return out


def _vm_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_processes() -> list[int]:
    """The driver JVM and the Python workers it forked: every
    descendant of this process."""
    return _children(os.getpid())


def _stat_ticks(path: str, n: int) -> int:
    """Sum of utime, stime (and with n=4 cutime, cstime) of a
    /proc/.../stat file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:11 + n])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of a process (none for a
    process that is not a JVM)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if "CompilerThre" in fh.read():
                    ticks += _stat_ticks(f"/proc/{pid}/task/{tid}/stat", 2)
        except OSError:
            pass
    return ticks


def process_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the driver JVM, its Python workers, and children already
    reaped; less the JVM's JIT compiler threads.

    Time the hypervisor steals from the vCPUs is not charged to a
    process, so unlike wall time this does not grow when other tenants
    take the host's cores. JIT compilation is left out because while
    the JVM warms up it uses as much CPU as the program itself, and
    varies from run to run; the compiler threads are fixed in number
    (``make_spark``), so none exits and takes its ticks into the
    process total."""
    ticks = 0
    for pid in [os.getpid(), *spark_processes()]:
        try:
            ticks += _stat_ticks(f"/proc/{pid}/stat", 4) - _jit_ticks(pid)
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall seconds (``wall``) and process CPU seconds (``cpu``) of a
    block."""

    def __enter__(self):
        self._t0, self._c0 = time.monotonic(), process_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.monotonic() - self._t0
        self.cpu = process_cpu_s() - self._c0
        return False


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of the JVM and its Python
    workers, in MB."""
    return sum(_vm_kb(p, "VmHWM") for p in spark_processes()) / 1024.0


def versions(spark) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "python": platform.python_version(),
        "spark": spark.version,
        "java": (java.stderr.splitlines() or ["?"])[0],
        "platform": platform.platform(),
    }


def session_confs(spark) -> dict:
    keys = (
        "spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.codegen.hugeMethodLimit", "spark.sql.ansi.enabled",
    )
    return {k: spark.conf.get(k, None) for k in keys}


def host_context() -> dict:
    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "argv": sys.argv[1:]}
