"""Reader for Spark's uncompressed JSON event log.

Turns the file-based event log of one application into job group -> jobs
-> stages -> operators, with the per-stage task metrics the benchmark's
layer table reports. It reads only the public event log files.

Units: Spark reports run and GC time in ms, CPU time in ns and SQL
``timing`` metrics in ms; everything returned here is in seconds or bytes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

SQL = "org.apache.spark.sql.execution.ui."
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _new_stage() -> dict:
    return {"group": None, "tasks": 0, "task_s": [], "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            "py_run_s": 0.0, "py_sent": 0, "py_recv": 0}


class EventLog:
    """Parsed event log of one Spark application."""

    def __init__(self, log_dir: str, app_id: str):
        paths = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")))
        paths += sorted(p for p in glob.glob(os.path.join(log_dir, f"{app_id}*"))
                        if os.path.isfile(p))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(_new_stage)
        self.executions: dict[int, dict] = {}
        self.accum: dict[int, float] = defaultdict(float)
        for p in paths:
            with open(p) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0, "end": None,
                "execution": int(exec_id) if exec_id is not None else None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stages[e["Stage Info"]["Stage ID"]]["group"] = props.get(
                "spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind == SQL + "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = {
                "initial": e["sparkPlanInfo"], "final": e["sparkPlanInfo"]}
        elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex["final"] = e["sparkPlanInfo"]

    def _task(self, e: dict) -> None:
        st = self.stages[e["Stage ID"]]
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        st["tasks"] += 1
        st["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
        st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            upd = acc.get("Update")
            if upd is None:
                continue
            try:
                val = float(upd)
            except (TypeError, ValueError):
                continue
            self.accum[acc["ID"]] += val
            name = acc.get("Name")
            if name == PY_RUN:
                st["py_run_s"] += val / 1000.0
            elif name == PY_SENT:
                st["py_sent"] += val
            elif name == PY_RECV:
                st["py_recv"] += val

    # -- per job group ---------------------------------------------------------

    def group_stats(self, groups: set[str]) -> dict:
        """Spark totals of the jobs and stages that ran under ``groups``."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        stages = [s for s in self.stages.values() if s["group"] in groups and s["tasks"]]
        out = {
            "jobs": len(jobs), "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "executor_run_s": sum(s["run_s"] for s in stages),
            "executor_cpu_s": sum(s["cpu_s"] for s in stages),
            "jvm_gc_s": sum(s["gc_s"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "python_worker_s": sum(s["py_run_s"] for s in stages),
            "arrow_bytes_to_python": sum(s["py_sent"] for s in stages),
            "arrow_bytes_from_python": sum(s["py_recv"] for s in stages),
            "task_skew": 0.0,
        }
        if stages:
            big = max(stages, key=lambda s: sum(s["task_s"]))
            med = statistics.median(big["task_s"])
            out["task_skew"] = max(big["task_s"]) / med if med > 0 else 1.0
        return out

    def job_intervals(self, groups: set[str]) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if j["group"] in groups and j["end"] is not None]

    def executions_of(self, groups: set[str]) -> list[dict]:
        """SQL executions whose jobs ran under ``groups``."""
        ids = {j["execution"] for j in self.jobs.values()
               if j["group"] in groups and j["execution"] is not None}
        return [self.executions[i] for i in sorted(ids) if i in self.executions]


# -- plan helpers ----------------------------------------------------------------

def walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from walk(c)


def count_exchanges(plan: dict) -> int:
    """Static shuffle and broadcast Exchange nodes of a (pre-AQE) plan."""
    return sum(1 for n in walk(plan) if n["nodeName"] in ("Exchange", "BroadcastExchange"))


_PASS_THROUGH = ("Filter", "Project", "InputAdapter", "WholeStageCodegen")


def pair_expansion_rows(log: EventLog, plans: list[dict]) -> float:
    """Rows emitted by the pair-expanding ``Generate`` nodes of ``plans``.

    The bucket-pair operators group bucket members with a collect
    aggregate and expand pairs map-side with a generator, so candidate
    pairs are the output rows of a ``Generate`` whose input is an
    aggregate, looking through filters, projections and codegen wrappers.
    Each accumulator is counted once, however often its node is shown.
    """
    accs: set[int] = set()
    for plan in plans:
        for n in walk(plan):
            if n["nodeName"] != "Generate":
                continue
            child = n["children"][0] if n.get("children") else None
            while child is not None and child["nodeName"].startswith(_PASS_THROUGH):
                child = child["children"][0] if child.get("children") else None
            if child is None or "Aggregate" not in child["nodeName"]:
                continue
            accs.update(m["accumulatorId"] for m in n.get("metrics", [])
                        if m["name"] == "number of output rows")
    return sum(log.accum.get(a, 0.0) for a in accs)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
