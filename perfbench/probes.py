"""Measurement helpers that read the program from outside.

- host facts and the session sizing taken from them;
- a sampler for the peak resident memory of this process and its children;
- readers for Spark's two status stores (per-stage task metrics and the
  SQL metrics of the python-UDF operators), which stay readable with the
  web UI disabled;
- the order-independent output digest used by the correctness checks;
- the median/quartile summary of a list of samples.
"""

from __future__ import annotations

import os
import platform
import re
import statistics
import threading
import time


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """Driver heap for this host: a quarter of physical memory, at most 4g,
    unless ESGKG_DRIVER_MEM is set."""
    return os.environ.get(
        "ESGKG_DRIVER_MEM", f"{max(1, min(4, mem_total_mb() // 4096))}g"
    )


def host_facts() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": host_cores(),
        "mem_total_mb": mem_total_mb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_mb(root: int) -> dict[str, float]:
    """RSS in MiB of `root` and its descendants, summed by command name.
    Only java and python processes count: a child the JVM has forked but
    not yet exec'd carries a JVM thread name and shares the JVM's pages."""
    out: dict[str, float] = {}
    todo, seen = [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        name = _comm(pid)
        if name == "java" or name.startswith("python"):
            out[name] = out.get(name, 0.0) + _rss_kb(pid) / 1024.0
        todo.extend(_children(pid))
    return out


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def reap(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; SIGKILL what is left at `timeout`."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


class PeakRss:
    """Samples the RSS of this process tree (driver JVM and python workers
    included) every `interval` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            by_name = tree_rss_mb(me)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.at_peak = total, by_name
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_STAGE_FIELDS = (
    "executorRunTime", "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "numTasks",
)


def job_high_water(spark) -> int:
    """Highest job id the scheduler has launched so far (-1 before any).
    Job ids are sequential, so the difference of two readings counts the
    jobs launched in between."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids, default=-1)


def stage_rows(spark) -> dict[tuple[int, int], dict]:
    """Task-metric totals per completed (stage id, attempt)."""
    sc = spark.sparkContext
    arr = sc._gateway.new_array(sc._jvm.double, 0)
    seq = sc._jsc.sc().statusStore().stageList(None, False, False, arr, None)
    out = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        out[(s.stageId(), s.attemptId())] = {
            f: getattr(s, f)() for f in _STAGE_FIELDS
        }
    return out


# the suffixes of Spark's formatted SQL metrics (durations print as
# "ms", "s", "m" and "h")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}


def _metric_value(text: str) -> float:
    """Total of one formatted SQL metric: "12.4 s (...)", "9.5 MiB (...)",
    "1,234" or "total (...)\\n12.4 s (...)"."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# Per task, "time to run" spans the python runner's start to the worker's
# last result. "time to start" and "time to initialize" are left out: a
# reused worker takes its start timestamp when it begins waiting for its
# next task, so they count the idle time between tasks (README.md).
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def sql_execution_ids(spark) -> set[int]:
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    return {seq.apply(i).executionId() for i in range(seq.size())}


def udf_totals(spark, exec_ids) -> tuple[dict[str, float], set[str]]:
    """Python-UDF metrics summed over the plan nodes that ran python, for
    the given SQL executions, and the names of those that some node
    reported. `rows_from_python` is the output row count of those nodes."""
    store = spark._jsparkSession.sharedState().statusStore()
    tot = {k: 0.0 for k in _PY_METRICS.values()}
    tot["rows_from_python"] = 0.0
    seen: set[str] = set()
    for eid in sorted(exec_ids):
        vals = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            ms = nodes.apply(i).metrics()
            named = {ms.apply(j).name(): ms.apply(j).accumulatorId()
                     for j in range(ms.size())}
            if not any(n in _PY_METRICS for n in named):
                continue
            for name, acc in named.items():
                key = _PY_METRICS.get(name)
                if key is None and name == "number of output rows":
                    key = "rows_from_python"
                v = vals.get(acc)
                if key is not None and v.isDefined():
                    tot[key] += _metric_value(v.get())
                    seen.add(key)
    return tot, seen


class StoreDelta:
    """Jobs, stages and SQL executions launched between `__enter__` and
    `__exit__`, with the wall time in between."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self) -> "StoreDelta":
        self._jobs = job_high_water(self.spark)
        self._stages = set(stage_rows(self.spark))
        self._execs = sql_execution_ids(self.spark)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.jobs = job_high_water(self.spark) - self._jobs
        rows = stage_rows(self.spark)
        new = [v for k, v in rows.items() if k not in self._stages]
        self.stages = len(new)
        self.stage_totals = {f: sum(r[f] for r in new) for f in _STAGE_FIELDS}
        self.exec_ids = sql_execution_ids(self.spark) - self._execs

    def stage_metrics(self) -> dict[str, float]:
        t = self.stage_totals
        return {
            "wall_s": self.wall_s,
            "executor_run_s": t["executorRunTime"] / 1000.0,
            "gc_s": t["jvmGcTime"] / 1000.0,
            "shuffle_read_bytes": t["shuffleReadBytes"],
            "shuffle_write_bytes": t["shuffleWriteBytes"],
            "spill_bytes": t["memoryBytesSpilled"] + t["diskBytesSpilled"],
            "tasks": t["numTasks"],
        }


# --------------------------------------------------------------------------
# outputs
# --------------------------------------------------------------------------

def digest(df, places: int | None = None) -> tuple[int, int]:
    """(count, sum of xxhash64 over each row's JSON with sorted columns):
    equal for equal row multisets, whatever the partitioning or order.
    With `places`, floating-point columns are rounded first."""
    from pyspark.sql import functions as F

    floats = {f.name for f in df.schema.fields
              if f.dataType.typeName() in ("double", "float")}
    cols = [F.round(c, places).alias(c) if places is not None and c in floats
            else F.col(c) for c in sorted(df.columns)]
    row = F.to_json(F.struct(*cols))
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(row).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


# --------------------------------------------------------------------------
# summaries
# --------------------------------------------------------------------------

def summary(xs: list[float]) -> dict:
    """Median, quartiles and every sample."""
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "p25": q[0], "p50": statistics.median(xs),
            "p75": q[2], "samples": xs}
