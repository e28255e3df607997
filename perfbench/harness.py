"""Measurement plumbing: the Spark session, /proc readings, spans and the
pass timing loop.  Everything here observes the program from outside."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
from contextlib import contextmanager

MASTER = "local[2]"
APP_NAME = "perf-scrapy-processors"   # must not start with "bench"
HEAP = "1g"                           # -Xms = -Xmx, so peak RSS is not GC sizing
WARMUP_MIN = 3          # warm-up passes discarded after the cold pass, at least
WARMUP_MAX_S = 15.0     # ... and at most this long
PLATEAU = 0.90          # warm-up ends once a pass is no faster than 90% of the last
MIN_TIMED = 3
# Host speed on the shared benchmark host drifts by +-25% over minutes (CPU
# contention from other tenants, no steal).  Timings are reported scaled to
# a reference host speed: seconds x PROBE_REF_S / (median host_probe_s() of
# the run, one probe before each pass).
PROBE_REF_S = 0.065
CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc
def _proc_table() -> dict:
    """pid -> (comm, ppid, cpu ticks incl. reaped children, VmHWM kB)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/status") as f:
                status = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        hwm = 0
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                hwm = int(line.split()[1])
        out[int(name)] = (comm, int(rest[1]), ticks, hwm)
    return out


def _descendants(table: dict, root: int) -> list:
    kids: dict = {}
    for pid, (_, ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcView:
    """CPU time and peak RSS of the session's JVM and of the Python worker
    tree under it."""

    def __init__(self):
        table = _proc_table()
        javas = [p for p in _descendants(table, os.getpid()) if table[p][0] == "java"]
        if not javas:
            raise RuntimeError("no JVM found under this process")
        self.jvm = javas[0]

    def sample(self) -> dict:
        table = _proc_table()
        workers = [p for p in _descendants(table, self.jvm)
                   if table[p][0].startswith("python")]
        jvm = table.get(self.jvm, ("", 0, 0, 0))
        return {
            "jvm_cpu_s": jvm[2] / CLK_TCK,
            "py_cpu_s": sum(table[p][2] for p in workers) / CLK_TCK,
            "jvm_hwm_mb": jvm[3] / 1024,
            "py_hwm_mb": sum(table[p][3] for p in workers) / 1024,
            "py_workers": len(workers),
        }


def cpu_stat() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list, after: list) -> float:
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_probe_s() -> float:
    """Host speed right now: wall time of a fixed single-threaded loop
    (about 65 ms on an idle 2 GHz core)."""
    t = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t


def since_process_start() -> float:
    """Seconds since the kernel created this process."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK


# ---------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as JSON at
    exit.  While disabled, ``span`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict:
        """name -> self time of each of its spans (duration minus the part
        covered by child spans)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_time_s": {k: sum(v) for k, v in self.self_times().items()}},
                      f, indent=1)


# ---------------------------------------------------------------- session
def start_session():
    from scrapy_processors_spark.session import get_spark

    spark = get_spark(master=MASTER, app_name=APP_NAME, extra_conf={
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


SESSION_KEYS = (
    "spark.master", "spark.app.name", "spark.driver.memory",
    "spark.driver.extraJavaOptions", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled", "spark.sql.session.timeZone",
)


def session_settings(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {k: spark.conf.get(k, None) or conf.get(k) for k in SESSION_KEYS}


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until every process started
    under this one has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    end = time.monotonic() + timeout
    while True:
        left = _descendants(_proc_table(), os.getpid())
        if not left:
            return
        if time.monotonic() > end:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + timeout
        time.sleep(0.2)


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ----------------------------------------------------------------- timing
def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def probed(fn, probes: list) -> float:
    """Wall seconds of fn, after appending a host probe to ``probes``."""
    probes.append(host_probe_s())
    return timed(fn)


def warm_up(run_pass, probes: list) -> list:
    """Warm-up passes after the cold one, discarded: at least WARMUP_MIN,
    then until a pass is no faster than PLATEAU x the one before it (the JIT
    ramp is over), or WARMUP_MAX_S has gone by."""
    times = []
    while True:
        times.append(probed(run_pass, probes))
        if len(times) >= WARMUP_MIN and times[-1] >= PLATEAU * times[-2]:
            return times
        if sum(times) >= WARMUP_MAX_S:
            return times


def timed_window(run_pass, seconds: float, probes: list) -> list:
    """Back-to-back passes for ``seconds`` (at least MIN_TIMED of them)."""
    times = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(times) < MIN_TIMED:
        times.append(probed(run_pass, probes))
    return times
