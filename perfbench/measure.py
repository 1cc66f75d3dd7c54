"""Process-tree CPU time, host context, and Spark event-log task metrics."""
from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime + stime + cutime + cstime in seconds)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (ppid, ticks / _TICK)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(children.get(pid, ()))
    return pids


def descendants() -> list[int]:
    """Live (or not yet reaped) descendants of this process."""
    return _tree(_proc_stats(), os.getpid())[1:]


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant, each with its
    reaped children (cutime/cstime). A worker that exits and is reaped
    inside the tree moves into its parent's cutime, so the sum never
    drops; summing over the whole machine instead does."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid()) if p in stats)


def steal_s() -> float:
    """Machine-wide steal time so far (the 8th field of /proc/stat's cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def host_context(k: int, steal_before: float) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "local_k": k,
        "loadavg_1m": os.getloadavg()[0],
        "steal_s": round(steal_s() - steal_before, 2),
    }


# ---------------------------------------------------------- event log ---

class EventLog:
    """Task metrics from one application's plain-JSON Spark event log.

    Jobs are matched to the benchmark step that ran them through the
    ``perfbench.step`` local property. SQL-metric accumulators are mapped to
    their plan node through the plan infos of SQL execution start and AQE
    update events, so a stage can be told apart by the operators its tasks
    ran (a kernel stage updates the ``MapInPandas`` node's metrics).
    """

    def __init__(self, path: str):
        self.step_of_stage: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.node_of_acc: dict[int, tuple[str, str]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    step = (ev.get("Properties") or {}).get("perfbench.step")
                    if step:
                        for sid in ev["Stage IDs"]:
                            self.step_of_stage[sid] = step
                elif kind == "SparkListenerTaskEnd":
                    self.tasks[ev["Stage ID"]].append(ev)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    self._map_plan(ev["sparkPlanInfo"])

    def _map_plan(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            self.node_of_acc[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for child in node.get("children", ()):
            self._map_plan(child)

    def stages(self, step: str) -> list[int]:
        return sorted(s for s, name in self.step_of_stage.items() if name == step)

    def _ok_tasks(self, stage: int) -> list[dict]:
        return [t for t in self.tasks.get(stage, ()) if not t["Task Info"]["Failed"]]

    def node_updates(self, stage: int, node: str, metric: str) -> int:
        """Sum over a stage's tasks of one plan node's SQL metric."""
        total = 0
        for t in self._ok_tasks(stage):
            for acc in t["Task Info"].get("Accumulables", ()):
                if self.node_of_acc.get(acc["ID"]) == (node, metric):
                    total += int(acc["Update"])
        return total

    def runs_node(self, stage: int, node: str) -> bool:
        for t in self._ok_tasks(stage):
            for acc in t["Task Info"].get("Accumulables", ()):
                if self.node_of_acc.get(acc["ID"], ("",))[0] == node:
                    return True
        return False

    def stage_metrics(self, stages: list[int]) -> dict:
        """Totals over the given stages' successful tasks."""
        tasks = [t for s in stages for t in self._ok_tasks(s)]
        out = {
            "tasks": len(tasks),
            "input_tasks": 0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "scheduler_delay_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "task_skew": 0.0,
        }
        durations = []
        for t in tasks:
            info, m = t["Task Info"], t.get("Task Metrics") or {}
            duration = info["Finish Time"] - info["Launch Time"]
            durations.append(duration)
            if m.get("Input Metrics", {}).get("Bytes Read", 0) > 0:
                out["input_tasks"] += 1
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            # Spark UI's definition of scheduler delay
            busy = (
                m.get("Executor Run Time", 0)
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            out["scheduler_delay_s"] += max(0, duration - busy) / 1e3
            out["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        if durations and statistics.median(durations) > 0:
            out["task_skew"] = max(durations) / statistics.median(durations)
        return out
