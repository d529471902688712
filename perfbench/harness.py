"""Session set-up, spans, timing statistics and process accounting."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager


def session(work: str, traced: bool):
    """The engine's session through ``get_spark``, sized for a small
    shared host: cores = nproc, a fixed 3 GiB driver heap with a fixed
    512 MiB young generation (without them the JVM sizes its heap per
    run and peak RSS varied by ~25 %), no progress bar, every scratch
    path inside ``work``, and the event log only when traced."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Both JVMs spark-submit starts (launcher and driver) keep their
    # temp files in the checkout and write no hsperfdata to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp} -Xms3g -Xmn512m",
        "spark.eventLog.enabled": str(traced).lower(),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    from ccog_spark.session import get_spark

    return get_spark(app_name="ccog_perfbench", extra_conf=conf)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """VmHWM of this driver process plus the JVM it launched."""
    return vm_hwm_mb() + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and every descendant: the driver Python process, the
    JVM, the PySpark daemon and its workers. Reaped children count in
    their parent's cutime/cstime, so the total carries across worker
    exits. A vCPU's steal time is charged to no process, so unlike wall
    time this does not grow when the host takes the CPU away."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2:].split()  # comm may hold spaces
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stats[int(name)] = (ppid, ticks / _TICK)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0.0))[1]
        todo += children.get(pid, [])
    return total


class Clock:
    """Wall and process-tree CPU time of one op: ``wall_s``, ``cpu_s``."""

    def __enter__(self):
        self._t0, self._c0 = time.perf_counter(), tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall_s = self.elapsed()
        self.cpu_s = tree_cpu_s() - self._c0

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # the JVM ignored stdin EOF
        proc.kill()
        proc.wait(timeout=30)


def tail(samples: list[float], beyond: int = 10):
    """The highest percentile with at least ``beyond`` samples above
    it: (value, percentile, n), or None when n <= ``beyond``."""
    n = len(samples)
    if n <= beyond:
        return None
    xs = sorted(samples)
    i = n - 1 - beyond
    return xs[i], 100.0 * i / (n - 1), n


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def timings(passes: list, writes: list, reads: list) -> dict:
    """Medians of the timed passes' and ops' ``Clock``s: process-tree
    CPU seconds (the end-to-end metrics) and wall seconds (``wall.*``,
    reported per layer)."""
    out = {}
    for cpu, wall, clocks in (("pass_cpu_s", "wall.pass_s", passes),
                              ("write_cpu_p50_s", "wall.write_p50_s", writes),
                              ("read_cpu_p50_s", "wall.read_p50_s", reads)):
        out[cpu] = median([c.cpu_s for c in clocks])
        out[wall] = median([c.wall_s for c in clocks])
    return out


class Tracer:
    """Times the benchmark's calls into the program. When enabled, each
    span also runs under its own Spark job group (so the event log can
    attribute jobs to it) and is kept in ``spans`` until the run ends."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str):
        rec = {
            "name": name, "op": op, "group": f"{op}|{name}",
            "parent": self._stack[-1]["group"] if self._stack else None,
        }
        if self.enabled:
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    parent = self._stack[-1]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
