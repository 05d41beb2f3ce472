"""Outside-in counters: /proc, Spark's status tracker and its status stores.

Nothing here reaches into the library; every number comes from the
operating system or from Spark's own bookkeeping after an action.
"""

from __future__ import annotations

import os
import re
import statistics

from bench import _cpu_seconds_tree  # noqa: F401  (re-exported for the harness)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read().decode("ascii", "replace")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants() -> list[int]:
    """Live descendants of this process."""
    kids = _children()
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM (peak resident set) of this process's descendants: the
    JVM and its Python workers."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---- Spark status tracker (jobs, stages, tasks per job group) ----

def job_group_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks that ran under ``group`` (skipped stages are
    not counted as run stages). Also returns the stage ids for the store
    readers below."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: list[int] = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.extend(info.stageIds)
    tasks, ran = 0, []
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            tasks += info.numTasks
            ran.append(s)
    return {"jobs": len(jobs), "stages": len(ran), "tasks": tasks, "stage_ids": ran}


# ---- AppStatusStore (raw per-stage task metrics) ----

def stage_metrics(sc, stage_ids: list[int]) -> dict:
    """Shuffle and spill bytes summed over ``stage_ids``, plus the task skew
    (max / median task duration) of the stage with the most executor run
    time."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList()
    no_q = gw.new_array(gw.jvm.double, 0)
    out = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0}
    heaviest, heaviest_run = None, -1
    for s in stage_ids:
        attempts = store.stageData(s, False, empty, False, no_q)
        for i in range(attempts.size()):
            d = attempts.apply(i)
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            if d.executorRunTime() > heaviest_run:
                heaviest, heaviest_run = (s, d.attemptId()), d.executorRunTime()
    out["task_skew"] = 1.0
    if heaviest is not None:
        tasks = store.taskList(heaviest[0], heaviest[1], 100_000)
        durs = []
        for i in range(tasks.size()):
            dur = tasks.apply(i).duration()
            if dur.isDefined():
                durs.append(float(dur.get()))
        if durs and statistics.median(durs) > 0:
            out["task_skew"] = max(durs) / statistics.median(durs)
    return out


# ---- SQL status store (per-node SQL metrics, UI disabled) ----

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

#: ArrowEvalPython SQL metric name → per-layer metric
PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric as a number in seconds, bytes or a plain count.
    Timing and size metrics read ``total (min, med, max ...)\\n<total> (...)``
    (or just ``<total>`` for a single task); sums read ``12,345``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def sql_executions(spark) -> int:
    """Number of SQL executions the store holds (a watermark for
    :func:`sql_node_metrics`)."""
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def sql_node_metrics(spark, since: int) -> list[dict]:
    """Per-node metrics of every SQL execution after the first ``since``:
    ``[{"execution", "node", "metrics": {name: value}}]``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    rows = []
    for i in range(since, execs.size()):
        ex_id = execs.apply(i).executionId()
        values = {}
        it = store.executionMetrics(ex_id).iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = kv._2()
        nodes = store.planGraph(ex_id).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            ms = node.metrics()
            metrics = {}
            for q in range(ms.size()):
                metric = ms.apply(q)
                raw = values.get(metric.accumulatorId())
                # "average" metrics print only (min, med, max): no total
                if raw is not None and metric.metricType() != "average":
                    metrics[metric.name()] = parse_metric(raw)
            rows.append({"execution": ex_id, "node": node.name(), "metrics": metrics})
    return rows


def python_boundary(rows: list[dict]) -> dict[str, float]:
    """Python-worker start/init/run seconds and bytes sent/returned, summed
    over every node (the Python-evaluating ones) in ``rows``."""
    out = {name: 0.0 for name in PYTHON_METRICS.values()}
    for row in rows:
        for sql_name, name in PYTHON_METRICS.items():
            out[name] += row["metrics"].get(sql_name, 0.0)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
