"""Spark session lifecycle and process-level probes (CPU, RSS, steal,
JVM heap).  Everything reads ``/proc``; nothing here pins cores."""

from __future__ import annotations

import gc
import os
import shlex
import subprocess
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def slots() -> int:
    """Task slots: the cores this process may run on."""
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------- /proc

def _stat_fields(pid: int):
    with open("/proc/%d/stat" % pid) as fh:
        raw = fh.read()
    # comm may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids=None) -> float:
    """CPU seconds (user+sys, including reaped children) of the
    process tree: driver, JVM and Python workers."""
    total = 0
    for pid in process_tree() if pids is None else pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open("/proc/%d/comm" % pid) as fh:
            return fh.read().strip()
    except OSError:
        return ""


def python_pids() -> list:
    """The driver plus every Python process below it (the PySpark
    daemon and its workers)."""
    me = os.getpid()
    return [p for p in process_tree()
            if p == me or _comm(p).startswith("python")]


def java_pids() -> list:
    return [p for p in process_tree() if _comm(p) == "java"]


def _status_kb(pid: int, key: str) -> int:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids) -> float:
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def reset_peak_rss(pids) -> None:
    """Reset each process's peak RSS to its current RSS (proc(5),
    ``clear_refs`` value 5), so a peak read later covers only the
    section that follows."""
    for p in pids:
        try:
            with open("/proc/%d/clear_refs" % p, "w") as fh:
                fh.write("5")
        except OSError:
            pass


def cpu_times() -> tuple:
    """(steal, total) jiffies, host-wide, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple, after: tuple) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


# ----------------------------------------------------------- session

class SparkRunner:
    """Owns the JVM gateway and the SparkSession for one benchmark
    process.  :meth:`start` opens a session (launching the JVM the
    first time), :meth:`close` stops the session and waits for the
    JVM to exit, so no process outlives the benchmark."""

    def __init__(self, work_dir: str, n_slots: int,
                 event_log_dir: str | None = None):
        self.work_dir = work_dir
        self.n_slots = n_slots
        self.event_log_dir = event_log_dir
        self.spark = None

    def _submit_args(self) -> str:
        tmp = os.path.join(self.work_dir, "tmp")
        local = os.path.join(self.work_dir, "spark-local")
        warehouse = os.path.join(self.work_dir, "warehouse")
        for d in (tmp, local, warehouse):
            os.makedirs(d, exist_ok=True)
        conf = {
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": warehouse,
            "spark.ui.showConsoleProgress": "false",
            # bounded status-store history, so the live heap after a
            # full GC does not grow with the number of operations run
            "spark.ui.retainedJobs": "100",
            "spark.ui.retainedStages": "100",
            "spark.sql.ui.retainedExecutions": "20",
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
        args = []
        for k, v in conf.items():
            args += ["--conf", "%s=%s" % (k, v)]
        return shlex.join(args + ["pyspark-shell"])

    def start(self):
        from ferenda_spark.session import get_spark
        os.environ["PYSPARK_SUBMIT_ARGS"] = self._submit_args()
        tmp = os.path.join(self.work_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        # spark-submit's own launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        self.spark = get_spark(app="perfbench",
                               master="local[%d]" % self.n_slots)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def heap_live_mb(self) -> list:
        """JVM heap in use after each forced full GC, until two in a row
        agree within 1 % (at least three, at most eight)."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        # Python proxies pin their JVM objects until collected
        gc.collect()
        # the context cleaner frees shuffle and broadcast blocks of
        # collected references asynchronously: collect, let it run,
        # collect again
        out = []
        while len(out) < 3 or (len(out) < 8
                               and abs(out[-1] - out[-2]) > 0.01 * out[-1]):
            jvm.java.lang.System.gc()
            out.append((rt.totalMemory() - rt.freeMemory()) / 1048576.0)
            time.sleep(0.4)
        return out

    def release_cached(self) -> None:
        """Drop every cached and checkpointed block, so the state of
        one operation is not carried into the next."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
