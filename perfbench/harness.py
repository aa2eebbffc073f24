"""Host stamp, Spark session lifecycle and process-tree accounting.

Everything the benchmark writes lives under the work directory it is given
(spark.local.dir, the warehouse, the event log, temp files, the captured
driver log), so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import os
import platform
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
SPARK_CONF_BASE = {
    "spark.ui.showConsoleProgress": "false",
    # same split size as bench.py, so a replay batch splits the same way
    "spark.sql.files.maxPartitionBytes": "8m",
}


def driver_mem_gb(mem_total_kb: int) -> int:
    """An eighth of the host's memory, 2-4 GB: the inputs are small, and the
    driver heap must leave room for the Python workers and for other
    tenants of a shared host."""
    return max(2, min(4, mem_total_kb // (8 * 1024 * 1024)))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_stamp() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "load1_start": load1(),
    }


def configure_env(work: str) -> None:
    """Point every temp/scratch location at ``work`` before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # collected timestamps render in UTC, the session time zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_gb(mem_total_kb())}g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    conf = dict(SPARK_CONF_BASE)
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # the whole heap is committed and touched at launch, so the JVM's peak
    # RSS does not depend on when the collector chose to grow the heap;
    # no perf-data file, which the JVM would put in /tmp
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work} "
        f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    from csv_cruncher_spark.session import get_spark

    n = os.cpu_count() or 1
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )


def timed_setups(start, warm_up, cycles: int = 3):
    """Set up ``cycles`` times: get the session from the program's factory
    and run the workload's warm-up on it. The first cycle also launches the
    JVM and pays the JIT's and the code generator's first pass; later cycles
    find the session running, so the median (what ``setup_s`` reports) is
    the factory plus a warm-up on a warm process. Returns (session,
    [seconds per cycle])."""
    times = []
    for i in range(cycles):
        t0 = time.perf_counter()
        spark = start()
        warm_up(spark, i)
        times.append(time.perf_counter() - t0)
    return spark, times


def stop_session(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- /proc --


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcTree:
    """The driver's process tree: this Python process, the JVM it launched,
    and the JVM's Python worker daemon with its forked workers."""

    def __init__(self):
        self.jvm: int | None = None
        self.daemon: int | None = None

    def _find(self) -> None:
        if self.jvm is None or _stat(self.jvm) is None:
            self.jvm = None
            todo = _children(os.getpid())
            while todo and self.jvm is None:
                p = todo.pop()
                if _comm(p) == "java":
                    self.jvm = p
                else:
                    todo.extend(_children(p))
        if self.jvm is not None and (self.daemon is None or _stat(self.daemon) is None):
            self.daemon = next(
                (c for c in _children(self.jvm) if _comm(c).startswith("python")),
                None,
            )

    def jvm_cpu_s(self) -> float:
        self._find()
        st = _stat(self.jvm) if self.jvm else None
        return (int(st[11]) + int(st[12])) / CLK_TCK if st else 0.0

    def pyworker_cpu_s(self) -> float:
        """Daemon CPU plus its reaped workers (cutime/cstime) plus the CPU
        of workers still alive."""
        self._find()
        if self.daemon is None:
            return 0.0
        st = _stat(self.daemon)
        if st is None:
            return 0.0
        ticks = sum(int(x) for x in st[11:15])
        for c in _children(self.daemon):
            cs = _stat(c)
            if cs:
                ticks += int(cs[11]) + int(cs[12])
        return ticks / CLK_TCK

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM in MB of the driver, the JVM, and the daemon with its live
        workers; ``total`` is their sum."""
        self._find()
        workers = [self.daemon] + _children(self.daemon) if self.daemon else []
        out = {
            "driver": _hwm_mb([os.getpid()]),
            "jvm": _hwm_mb([self.jvm] if self.jvm else []),
            "pyworkers": _hwm_mb(workers),
        }
        out["total"] = sum(out.values())
        return out


def _hwm_mb(pids: list[int]) -> float:
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile of a non-empty sample."""
    v = sorted(values)
    i = min(len(v) - 1, max(0, int(round(q * (len(v) - 1)))))
    return v[i]
