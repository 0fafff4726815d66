"""A cold engine for every sample, plus process-tree CPU and memory probes.

``Engine.fresh()`` stops the SparkContext, drops every module of the engine
package from ``sys.modules`` and starts both again inside the running JVM.
Nothing an earlier sample left behind is then reachable: module-level
frame and artifact caches die with their modules, and ``localCheckpoint``
blocks, cached tables and Python workers die with their SparkContext. No engine cache is
named, so this holds for whatever caches the engine has or drops.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import time
from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

PKG = "go_batch_processor_spark"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: readable with the stdlib alone."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class KeySample:
    key: str
    group: str
    start: float  # epoch seconds, comparable with event-log times
    build_end: float
    end: float
    rows: int
    cpu_s: float
    py_cpu_s: float
    df: object  # the key's final DataFrame, for its untimed plan phases

    @property
    def build_s(self) -> float:
        return self.build_end - self.start

    @property
    def write_s(self) -> float:
        return self.end - self.build_end

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Engine:
    """The engine package and a SparkSession on ``local[cores]``."""

    def __init__(self, cores: int, work_dir: str):
        self.cores = cores
        self.work_dir = work_dir
        self.spark = None
        self.registry = None

    def fresh(self, extra_conf: dict[str, str] | None = None) -> dict[str, float]:
        """Replace the SparkContext and the engine modules; return the
        seconds spent in each step."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        gc.collect()
        session = importlib.import_module(PKG + ".session")
        t1 = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            **(extra_conf or {}),
        }
        self.spark = session.get_spark(
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        t2 = time.perf_counter()
        self.registry = importlib.import_module(PKG + ".registry")
        self.registry._ensure_loaded()
        t3 = time.perf_counter()
        return {"reset_s": t1 - t0, "get_spark_s": t2 - t1, "load_s": t3 - t2}

    def run_key(self, key: str, data_dir: str, group: str) -> KeySample:
        """Build ``key`` through the registry and write it to the noop sink,
        with every Spark job of the call tagged by job group ``group``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, key)
        cpu0, py0 = tree_cpu_s(), time.process_time()
        start = time.time()
        df = self.registry.REGISTRY[key].fn(self.spark, data_dir)
        build_end = time.time()
        rows = int(write_noop(df)["rows"])
        end = time.time()
        cpu1, py1 = tree_cpu_s(), time.process_time()
        return KeySample(
            key, group, start, build_end, end, rows, cpu1 - cpu0, py1 - py0, df
        )

    def stop(self) -> None:
        """Stop the SparkContext, then the JVM, and wait until the JVM and
        every other process this one started have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.05)


def write_noop(df, *aggs) -> dict:
    """Materialise every column of ``df`` through the noop sink; return its
    row count and any extra aggregates ``aggs``, observed in the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get


def plan_phases_s(df) -> float:
    """Analysis + optimization + planning seconds of ``df``'s own query
    execution (planning it now if the sink ran on a copy of the plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return data[data.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (the JVM and its Python workers)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = int(st[1])
    found, frontier = [], {root}
    while frontier:
        nxt = {p for p, pp in parent.items() if pp in frontier}
        found.extend(nxt)
        frontier = nxt
    return found


def tree_cpu_s() -> float:
    """CPU seconds of this process plus every live descendant, including
    the CPU of descendants' exited children (cutime/cstime)."""
    total = sum(os.times()[:2])
    for pid in descendants(os.getpid()):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15]) / _TICK
    return total


def _rss_pids() -> list[int]:
    """This Python process and its JVM."""
    return [os.getpid()] + [p for p in descendants(os.getpid()) if _comm(p) == "java"]


def reset_peak_rss() -> None:
    """Restart the peak RSS (VmHWM) of this process and its JVM from their
    current RSS, so that the peak covers only what runs after the call."""
    gc.collect()
    for pid in _rss_pids():
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python process plus its JVM, in MB."""
    total_kb = 0
    for pid in _rss_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""
