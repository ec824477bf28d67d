"""Counts taken from outside the program: the process tree, the JVM,
Spark's status tracker and Spark's event log.

Nothing here imports the program.  Job, stage and task counts come
from ``SparkContext.statusTracker()`` by job group; SQL metrics
(Python worker time, Arrow bytes, join output rows), task times,
shuffle bytes and spill come from the event log of a traced run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")

# MapInPandas SQL metric display names (PythonSQLMetrics); a traced
# extraction group that lacks one of these fails the run
PYTHON_METRICS = {
    "boot_s": "time to start Python workers",
    "init_s": "time to initialize Python workers",
    "total_s": "time to run Python workers",
    "sent_mb": "data sent to Python workers",
    "recv_mb": "data returned from Python workers",
}
# the pair self-join of every dedup query keeps rows with id_a < id_b
_PAIR_COND = re.compile(r"\(id_a#\d+L? < id_b#\d+L?\)")
_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


def _proc_table() -> Dict[int, tuple]:
    """pid → (ppid, cpu ticks incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1]=ppid; utime, stime, cutime, cstime = fields[11:15]
        out[int(name)] = (int(fields[1]),
                          sum(int(x) for x in fields[11:15]))
    return out


def descendants(root: int, table: Dict[int, tuple] | None = None) -> List[int]:
    table = _proc_table() if table is None else table
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    found, stack = [], [root]
    while stack:
        for child in kids.get(stack.pop(), ()):
            found.append(child)
            stack.append(child)
    return found


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of ``root`` and all its live
    descendants, plus whatever they reaped."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    pids = [root] + descendants(root, table)
    return sum(table[p][1] for p in pids if p in table) / _TICK


def tree_rss_peak_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak RSS."""
    root = os.getpid() if root is None else root
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def group_counts(sc, group: str) -> Dict[str, int]:
    """Jobs, stages and tasks Spark ran for one job group."""
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages, tasks = set(), 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            raise RuntimeError(f"status tracker lost job {jid} of {group}")
        stages.update(info.stageIds)
    ran = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks > 0:
            ran += 1
            tasks += st.numCompletedTasks
    # stages that ran a task: skipped stages (shuffle output reused)
    # never do, and the event log never reports them complete
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


class EventLog:
    """Per-job-group rollup of one Spark event log file."""

    def __init__(self, path: str):
        self.group_of_stage: Dict[int, str] = {}
        self.group_of_exec: Dict[int, str] = {}
        self.jobs: Dict[str, int] = defaultdict(int)
        # (group, stage) → task durations in seconds
        self.task_s: Dict[tuple, List[float]] = defaultdict(list)
        self.accum: Dict[str, Dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.accum_by_id: Dict[int, float] = defaultdict(float)
        self.shuffle_bytes: Dict[str, int] = defaultdict(int)
        self.spill_bytes: Dict[str, int] = defaultdict(int)
        self.pair_join_ids: Dict[str, set] = defaultdict(set)
        # job id → [group, submit ms, end ms, stage ids]
        self.job_times: Dict[int, list] = {}
        # stage id → [submit ms, end ms]
        self.stage_times: Dict[int, list] = {}
        self.metric_type: Dict[str, str] = {}  # display name → SQL type
        self.plan_metrics: Dict[str, set] = defaultdict(set)
        self._plans: Dict[int, list] = defaultdict(list)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))
        for exec_id, plans in self._plans.items():
            group = self.group_of_exec.get(exec_id)
            if group is not None:
                for plan in plans:
                    self._scan_plan(plan, group)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                return
            self.jobs[group] += 1
            self.job_times[ev["Job ID"]] = [group, ev.get("Submission Time"),
                                            None, ev["Stage IDs"]]
            for sid in ev["Stage IDs"]:
                self.group_of_stage[sid] = group
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                self.group_of_exec.setdefault(int(exec_id), group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.job_times:
                self.job_times[ev["Job ID"]][2] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            self.stage_times[info["Stage ID"]] = [
                info.get("Submission Time"), info.get("Completion Time")]
        elif kind == "SparkListenerTaskEnd":
            group = self.group_of_stage.get(ev["Stage ID"])
            if group is None:
                return
            info = ev["Task Info"]
            self.task_s[(group, ev["Stage ID"])].append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0)
            for acc in info.get("Accumulables", ()):
                upd = acc.get("Update")
                if isinstance(upd, (int, float)) or (
                        isinstance(upd, str) and upd.lstrip("-").isdigit()):
                    self.accum[group][acc.get("Name", "")] += float(upd)
                    self.accum_by_id[acc["ID"]] += float(upd)
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.shuffle_bytes[group] += int(sw.get("Shuffle Bytes Written", 0))
            self.spill_bytes[group] += int(m.get("Disk Bytes Spilled", 0))
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self._plans[int(ev["executionId"])].append(ev["sparkPlanInfo"])

    def _scan_plan(self, node: dict, group: str) -> None:
        for metric in node.get("metrics", ()):
            self.metric_type[metric["name"]] = metric["metricType"]
            self.plan_metrics[group].add(metric["name"])
        if node.get("nodeName", "") in _JOINS and _PAIR_COND.search(
                node.get("simpleString", "")):
            for metric in node.get("metrics", ()):
                if metric["name"] == "number of output rows":
                    self.pair_join_ids[group].add(metric["accumulatorId"])
        for child in node.get("children", ()):
            self._scan_plan(child, group)

    def add_spans(self, tracer, op_span: int, group: str) -> None:
        """Child spans of an operator span: each Spark job of its group,
        and under each job the stages that ran, with task counts."""
        for job_id, (g, submit, end, stage_ids) in sorted(
                self.job_times.items()):
            if g != group or submit is None or end is None:
                continue
            jspan = tracer.add_epoch("spark.job", op_span, submit, end,
                                     job_id=job_id)
            for sid in stage_ids:
                durs = self.task_s.get((group, sid))
                times = self.stage_times.get(sid)
                if not durs or not times or None in times:
                    continue
                tracer.add_epoch("spark.stage", jspan, times[0], times[1],
                                 stage_id=sid, tasks=len(durs),
                                 task_s=round(sum(durs), 3),
                                 max_task_s=max(durs))

    # ── per-group views ──────────────────────────────────────────────
    def counts(self, group: str) -> Dict[str, int]:
        ran = [v for (g, _), v in self.task_s.items() if g == group]
        return {"jobs": self.jobs[group], "stages": len(ran),
                "tasks": sum(len(v) for v in ran)}

    def python_metrics(self, group: str) -> Dict[str, float]:
        # a metric the plan declares but no task updated is 0 (Spark
        # drops zero updates); one the plan lacks is an error
        acc = self.accum[group]
        missing = [n for n in PYTHON_METRICS.values()
                   if n not in self.plan_metrics[group]]
        if missing:
            raise KeyError(f"event log group {group}: the executed plans "
                           f"have no SQL metric {missing}")
        scale = {"timing": 1e3, "nsTiming": 1e9, "size": 1e6}
        return {key: acc.get(name, 0.0) / scale[self.metric_type[name]]
                for key, name in PYTHON_METRICS.items()}

    def task_skew(self, group: str) -> float:
        """The largest max ÷ median task time over the group's stages."""
        best = 0.0
        for (g, _), durs in self.task_s.items():
            if g != group or len(durs) < 2:
                continue
            med = statistics.median(durs)
            if med > 0 and max(durs) / med > best:
                best = max(durs) / med
        return best

    def pair_candidates(self, group: str) -> int:
        ids = self.pair_join_ids.get(group)
        if not ids:
            raise KeyError(f"event log group {group}: no pair self-join "
                           "with an id_a < id_b condition")
        return int(sum(self.accum_by_id[i] for i in ids))
