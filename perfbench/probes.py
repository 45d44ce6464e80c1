"""Measurement helpers: they read the Spark driver's status stores and /proc.

- ``group_stages``: per-stage metrics of every Spark job run under one job
  group, read through the status store (works with ``spark.ui.enabled=false``).
- ``last_sql_plan``: the executed plan graph of the newest SQL execution,
  with each node's SQL metrics, from the SQL status store.
- ``RssSampler``: peak resident memory (PSS) of this process tree.
- ``host_regime``: load average and CPU steal, for blaming the host.
- ``Tracer``: in-memory spans, one Spark job group per span.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from contextlib import contextmanager

PY_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")


# -- status store -------------------------------------------------------------

_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputRecords", "shuffleReadBytes", "shuffleReadRecords",
    "shuffleWriteBytes", "shuffleWriteRecords",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def group_stages(spark, group: str) -> dict:
    """{"jobs": n, "completed": {stage_id: metrics}} for one job group.
    Under AQE an action runs one job per query stage, and later jobs list
    the earlier stages again as SKIPPED; only completed stages count."""
    sc = spark.sparkContext
    # the status store is fed asynchronously: let the last events land
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    completed = {}
    jids = sc.statusTracker().getJobIdsForGroup(group)
    for jid in jids:
        for sid in _seq(store.job(jid).stageIds()):
            if sid in completed:
                continue
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "COMPLETE":
                completed[sid] = {f: int(getattr(sd, f)()) for f in _STAGE_FIELDS}
    return {"jobs": len(jids), "completed": completed}


def stage_totals(stages: dict) -> dict:
    done = stages["completed"].values()
    tot = {f: sum(s[f] for s in done) for f in _STAGE_FIELDS}
    tot["stages"] = len(stages["completed"])
    tot["jobs"] = stages["jobs"]
    # run time the task threads did not spend on JVM CPU: waiting on Python
    # workers (and I/O). executorRunTime is in ms, executorCpuTime in ns.
    tot["py_gap_ms"] = tot["executorRunTime"] - tot["executorCpuTime"] / 1e6
    return tot


# -- SQL plan graph -------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_number(text: str) -> float:
    """'12,345' | '90.7 KiB' | 'total (min, med, max ...)\\n90.7 KiB (...)'."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B|ms|s)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return v * _SIZE.get(unit, 1)


def sql_execution_ids(spark) -> list[int]:
    """Ids of the session's SQL executions, oldest first."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return sorted(execs.apply(i).executionId() for i in range(execs.size()))


def last_sql_plan(spark, eid: int | None = None) -> dict:
    """Nodes of SQL execution ``eid`` (default: the newest):
    {id: {name, desc, children, metrics}}. Byte metrics are exact where the
    accumulator is still registered, else parsed from the status store's
    rendered string (3-4 digits)."""
    jvm = spark.sparkContext._jvm
    sql = spark._jsparkSession.sharedState().statusStore()
    if eid is None:
        eid = sql_execution_ids(spark)[-1]
    graph = sql.planGraph(eid)
    values = sql.executionMetrics(eid)
    acc_ctx = jvm.org.apache.spark.util.AccumulatorContext
    nodes = {}
    for nd in _seq(graph.allNodes()):
        metrics = {}
        for pm in _seq(nd.metrics()):
            acc = acc_ctx.get(pm.accumulatorId())
            if acc.isDefined():
                metrics[pm.name()] = float(acc.get().value())
            else:
                v = values.get(pm.accumulatorId())
                metrics[pm.name()] = _metric_number(v.get()) if v.isDefined() else 0.0
        nodes[nd.id()] = {"name": nd.name(), "desc": nd.desc(), "children": [], "metrics": metrics}
    for e in _seq(graph.edges()):
        if e.toId() in nodes:
            nodes[e.toId()]["children"].append(e.fromId())
    return {"execution_id": eid, "nodes": nodes}


def python_nodes(plan: dict) -> int:
    return sum(1 for n in plan["nodes"].values() if PY_NODE.search(n["name"]))


def planned_python_nodes(df) -> int:
    """Python-eval operators in a DataFrame's physical plan, without running it."""
    text = df._jdf.queryExecution().sparkPlan().toString()
    return sum(
        1 for line in text.splitlines()
        if PY_NODE.search(re.sub(r"^[\s:+\-*()\d]*", "", line).split(" ", 1)[0])
    )


# -- process tree: CPU and memory ------------------------------------------------

def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of a process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def _cpu_ticks(stat_path: str, children: bool) -> int:
    with open(stat_path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11:15 if children else 13])


def cpu_breakdown(root: int) -> dict[str, float]:
    """CPU seconds of a process tree by kind: JVM JIT compiler threads,
    JVM GC threads, other JVM threads, Python workers, driver Python. Only
    live JVM threads are seen, so the kinds sum to less than ``tree_cpu_s``."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {"jit": 0, "gc": 0, "jvm": 0, "workers": 0, "driver": 0}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if comm == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                        t = fh.read()
                    kind = "jit" if "Compiler" in t else "gc" if ("GC" in t or t.startswith("G1")) else "jvm"
                    out[kind] += _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", False)
            elif pid == root:
                out["driver"] += _cpu_ticks(f"/proc/{pid}/stat", False)
            else:
                out["workers"] += _cpu_ticks(f"/proc/{pid}/stat", True)
        except (OSError, IndexError, ValueError):
            pass
    return {k: v / tick for k, v in out.items()}


def tree_pss(root: int) -> dict[int, int]:
    """Proportional resident bytes per process of a process tree: a page
    shared by n processes (forked Python workers, the JVM's spawn helper)
    counts 1/n to each, so the sum is the tree's real footprint."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak proportional resident memory of the driver, the JVM and the
    Python workers, sampled every ``period`` seconds while running."""

    def __init__(self, period: float = 0.5):
        self.period, self.peak = period, 0
        self.at_peak: dict[str, int] = {}  # process name -> resident bytes
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        per_pid = tree_pss(os.getpid())
        total = sum(per_pid.values())
        if total > self.peak:
            self.peak, self.at_peak = total, {}
            for pid, b in per_pid.items():
                name = _comm(pid)
                self.at_peak[name] = self.at_peak.get(name, 0) + b

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()


# -- host regime -----------------------------------------------------------------

def host_regime() -> dict:
    with open("/proc/loadavg") as fh:
        load1, load5, load15 = (float(x) for x in fh.read().split()[:3])
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"t": time.time(), "load1": load1, "load5": load5, "load15": load15,
            "cpu_total": sum(cpu[:8]), "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def steal_frac(before: dict, after: dict) -> float:
    total = after["cpu_total"] - before["cpu_total"]
    return (after["cpu_steal"] - before["cpu_steal"]) / total if total else 0.0


# -- spans -----------------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written out once at the end. Each span runs
    its Spark work under its own job group, so its stage metrics can be
    read back from the status store afterwards. ``overhead_s`` is the time
    the tracer itself spent: job-group switches and status-store reads."""

    def __init__(self, spark, run_id: str):
        self.spark, self.run_id = spark, run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sid = uuid.uuid4().hex[:12]
        rec = {"name": name, "span_id": sid, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self._stack.append(sid)
        sc.setJobGroup(sid, name, False)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], "", False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def stages(self, rec: dict) -> dict:
        """Stage totals for a span's own job group (children excluded)."""
        if "stages" not in rec:
            t0 = time.perf_counter()
            rec["stages"] = stage_totals(group_stages(self.spark, rec["span_id"]))
            self.overhead_s += time.perf_counter() - t0
        return rec["stages"]

    def plan(self) -> dict:
        """``last_sql_plan``, counted as tracing overhead."""
        t0 = time.perf_counter()
        out = last_sql_plan(self.spark)
        self.overhead_s += time.perf_counter() - t0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=str)
