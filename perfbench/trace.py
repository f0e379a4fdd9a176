"""Spans and counters for the benchmark's traced run (``--trace 1``).

Three sources, none of them a new dependency:

* ``ModuleSpans`` wraps the public functions and methods of a list of
  ``koalas_spark`` modules before the query registry loads, and counts
  calls and inclusive time per module (nested calls within one module
  are timed once, by their outermost span).
* ``SparkTrace`` reads Spark's own listener data after each sample: the
  live ``AppStatusStore`` (jobs and stages by job group) and the SQL
  status store (per-operator SQL metrics of every execution the sample
  started). Both stores are filled by listeners Spark always runs, so
  the untraced run pays for them too.
* ``RssSampler`` polls the resident memory of the driver JVM and every
  process under it (the Python workers).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import re
import sys
import threading
import time

TRACED_MODULES = (
    "koalas_spark.operators.graph",
    "koalas_spark.operators.clustering",
    "koalas_spark.operators.similarity",
    "koalas_spark.operators.dedup",
    "koalas_spark.operators.multimodal",
    "koalas_spark.operators.layout",
    "koalas_spark.frame",
    "koalas_spark.sources.io",
    "koalas_spark.sources.pyshardsink",
    "koalas_spark.sources.snapshots",
)


def module_label(module: str) -> str:
    return module.removeprefix("koalas_spark.")


class ModuleSpans:
    """Per-module call counts and outermost-call seconds."""

    def __init__(self):
        self.calls = dict.fromkeys(TRACED_MODULES, 0)
        self.seconds = dict.fromkeys(TRACED_MODULES, 0.0)
        self._open = dict.fromkeys(TRACED_MODULES, False)
        replaced = {}
        for name in TRACED_MODULES:
            mod = importlib.import_module(name)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != name:
                    continue
                if inspect.isfunction(obj):
                    replaced[obj] = self._wrap(name, obj)
                    setattr(mod, attr, replaced[obj])
                elif inspect.isclass(obj):
                    self._wrap_class(name, obj)
        # re-exports such as ``from koalas_spark import read_parquet``
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("koalas_spark"):
                for attr, obj in list(vars(mod).items()):
                    if inspect.isfunction(obj) and obj in replaced:
                        setattr(mod, attr, replaced[obj])

    def _wrap_class(self, module: str, cls: type) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if isinstance(raw, (classmethod, staticmethod)):
                setattr(cls, attr, type(raw)(self._wrap(module, raw.__func__)))
            elif inspect.isfunction(raw):
                setattr(cls, attr, self._wrap(module, raw))

    def _wrap(self, module: str, fn):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            self.calls[module] += 1
            if self._open[module]:
                return fn(*args, **kwargs)
            self._open[module] = True
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[module] += time.perf_counter() - t0
                self._open[module] = False

        return span

    def snapshot(self) -> dict[str, float]:
        out = {}
        for m in self.calls:
            out[f"{module_label(m)}.s"] = self.seconds[m]
            out[f"{module_label(m)}.calls"] = self.calls[m]
        return out


_UNITS = {
    "B": 1,
    "KiB": 2**10,
    "MiB": 2**20,
    "GiB": 2**30,
    "TiB": 2**40,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_TOTAL = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or a count.

    Spark formats task-summed metrics as ``"total (min, med, max ...)\\n
    <total> (<min>, ...)"`` and plain sums as ``"1,234"``."""
    line = text.split("\n")[-1]
    m = _TOTAL.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
JOIN_COUNTS = {
    "SortMergeJoin": "op.smj_count",
    "ShuffledHashJoin": "op.shj_count",
    "BroadcastHashJoin": "op.bhj_count",
}
OP_METRICS = (
    "op.agg_time_s",
    "op.sort_time_s",
    "op.shj_build_time_s",
    "op.broadcast_time_s",
    "op.broadcast_mb",
    "op.smj_count",
    "op.shj_count",
    "op.bhj_count",
    "op.generate_rows",
    "python.to_worker_mb",
    "python.from_worker_mb",
    "python.time_s",
)
MB = 1e6


class SparkTrace:
    """Job-group tagging and listener-data readout for one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._exec_offset = int(self._sql.executionsCount())
        self._sample = 0

    def _java(self, seq):
        return self._conv.asJava(seq)

    def start_sample(self) -> None:
        """Skip the SQL executions of untraced samples run since the
        last traced one."""
        self._sample += 1
        self._bus.waitUntilEmpty()
        self._exec_offset = int(self._sql.executionsCount())

    def phase(self, name: str) -> str:
        gid = f"perfbench-{self._sample}-{name}"
        self._sc.setJobGroup(gid, gid)
        return gid

    def clear_phase(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def stage_metrics(self, gid: str) -> dict[str, float]:
        """Job, stage and task totals of every job in one job group."""
        self._bus.waitUntilEmpty()
        jobs = self._sc.statusTracker().getJobIdsForGroup(gid)
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(int(s) for s in self._java(self._store.job(j).stageIds()))
        out = dict.fromkeys(
            (
                "stages", "tasks", "failed_tasks", "task_s", "task_cpu_s", "gc_s",
                "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "peak_exec_mem_mb",
            ),
            0.0,
        )
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["input_mb"] += st.inputBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], st.peakExecutionMemory() / MB)
        return out

    def operator_metrics(self) -> dict[str, float]:
        """SQL metrics summed by operator type over the executions
        started since the previous call."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(OP_METRICS, 0.0)
        execs = list(self._java(self._sql.executionsList(self._exec_offset, 1 << 20)))
        self._exec_offset += len(execs)
        for ex in execs:
            eid = ex.executionId()
            values = {}
            for entry in self._java(self._sql.executionMetrics(eid)).entrySet():
                values[int(entry.getKey())] = str(entry.getValue())
            for node in self._java(self._sql.planGraph(eid).allNodes()):
                name = str(node.name())
                if name in JOIN_COUNTS:
                    out[JOIN_COUNTS[name]] += 1
                wanted = (
                    name in AGG_NODES
                    or name in ("Sort", "ShuffledHashJoin", "BroadcastExchange", "Generate")
                    or "Python" in name
                    or "Pandas" in name
                    or "Arrow" in name
                )
                if not wanted:
                    continue
                for m in self._java(node.metrics()):
                    text = values.get(int(m.accumulatorId()))
                    if text is None:
                        continue
                    key = _op_key(name, str(m.name()))
                    if key:
                        v = metric_value(text)
                        out[key] += v / MB if key.endswith("_mb") else v
        return out


def _op_key(node: str, metric: str) -> str | None:
    if node in AGG_NODES and metric == "time in aggregation build":
        return "op.agg_time_s"
    if node == "Sort" and metric == "sort time":
        return "op.sort_time_s"
    if node == "ShuffledHashJoin" and metric == "time to build hash map":
        return "op.shj_build_time_s"
    if node == "BroadcastExchange":
        if metric == "data size":
            return "op.broadcast_mb"
        if metric.startswith("time to"):
            return "op.broadcast_time_s"
    if node == "Generate" and metric == "number of output rows":
        return "op.generate_rows"
    if metric == "data sent to Python workers":
        return "python.to_worker_mb"
    if metric == "data returned from Python workers":
        return "python.from_worker_mb"
    if metric == "time to run Python workers":
        return "python.time_s"
    return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process under ``root``, not ``root`` itself."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _run_s(task_dir: str) -> float:
    """Seconds a thread has run, from its ``schedstat`` (nanoseconds,
    where ``stat``'s user and system times count whole clock ticks)."""
    with open(f"{task_dir}/schedstat") as f:
        return int(f.read().split()[0]) / 1e9


# JVM housekeeping threads: the JIT compilers and code-cache sweeper,
# whose warm-up work keeps falling pass after pass, and the collector's
# threads, whose work lands in whichever sample is running when the heap
# fills, not in the one that filled it
HOUSEKEEPING = ("C1 Compiler", "C2 Compiler", "Sweeper thread", "GC Thread", "G1 ", "VM Thread")


def tree_cpu_s(root: int) -> dict[str, float]:
    """CPU seconds of every thread of ``root`` and of every live process
    under it, keyed ``"pid/tid"``. ``root``'s housekeeping threads
    (``HOUSEKEEPING``) are left out. Threads that have ended are left out
    too: a Python worker's whole life would land at once in the sample
    that reaps it. A guest kernel with paravirt steal accounting leaves
    out the time the host gave to other guests."""
    out = {}
    for pid in [root] + descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            d = f"/proc/{pid}/task/{tid}"
            try:
                if pid == root:
                    with open(f"{d}/comm") as f:
                        if f.read().startswith(HOUSEKEEPING):
                            continue
                out[f"{pid}/{tid}"] = _run_s(d)
            except (OSError, IndexError, ValueError):
                pass
    return out


def rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` together, in MB."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / MB


class RssSampler:
    """Background poll, every 0.1 s, of the resident memory of ``root``
    and the processes under it; ``peak`` is the max seen since the last
    ``reset``. The process tree is re-read only every 20 polls: scanning
    ``/proc`` takes the GIL from the driver thread."""

    INTERVAL_S = 0.1
    RESCAN = 20

    def __init__(self, root: int):
        self.root = root
        self.peak = 0.0
        self._pids = [root]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            if n % self.RESCAN == 0:
                self._pids = [self.root] + descendants(self.root)
            n += 1
            self.peak = max(self.peak, rss_mb(self._pids))

    def reset(self) -> None:
        self._pids = [self.root] + descendants(self.root)
        self.peak = rss_mb(self._pids)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak
