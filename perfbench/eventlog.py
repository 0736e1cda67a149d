"""Spark event-log parser: per-call Spark metrics for the traced run.

The traced run wraps each public call in a job group and records its
wall-clock window. A stage belongs to a call when it ran under the
call's job group, or, carrying none (jobs submitted from a pool thread
inside the call), when it was submitted inside the call's window; one
call runs at a time, so the window is unambiguous. Stages are attributed
where they ran, so a stage that a later job skips is counted once.

For every call this gives the task totals (run, CPU and GC time,
shuffle write, fetch wait, spill), the task-time skew of its heaviest
stage, the SQL metrics of its Python plan nodes (rows and bytes across
the Python-UDF boundary, the rows also split by node kind) and the join
strategies in its final plans.
"""

from __future__ import annotations

import json
import statistics

PY_MARKERS = ("Python", "Pandas", "InArrow")
MB = float(1 << 20)


def is_python_node(name: str) -> bool:
    return any(m in name for m in PY_MARKERS)


class EventLog:
    def __init__(self, path: str):
        self.stages: dict[int, dict] = {}     # stage id -> submit props
        self.tasks: dict[int, list] = {}      # stage id -> task end events
        self.stage_acc: dict[int, dict] = {}  # stage id -> {name: value}
        self.plans: dict[int, list] = {}      # execution id -> plan infos
        self.failed_tasks = 0
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))
        # accumulator id -> (node name, metric name), for metrics of
        # Python nodes
        self.py_acc: dict[int, tuple[str, str]] = {}
        for infos in self.plans.values():
            for info in infos:
                for node in _walk(info):
                    if is_python_node(node["nodeName"]):
                        for m in node["metrics"]:
                            self.py_acc[m["accumulatorId"]] = (
                                node["nodeName"], m["name"])

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stages[e["Stage Info"]["Stage ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": props.get("spark.sql.execution.id"),
                "t": e["Stage Info"].get("Submission Time", 0)}
        elif kind == "SparkListenerTaskEnd":
            self.tasks.setdefault(e["Stage ID"], []).append(e)
            if e["Task End Reason"]["Reason"] != "Success":
                self.failed_tasks += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            acc = self.stage_acc.setdefault(info["Stage ID"], {})
            for a in info.get("Accumulables", []):
                name = a.get("Name", "")
                if name.startswith("internal.metrics."):
                    acc[name] = acc.get(name, 0) + int(a["Value"])
        elif kind.endswith("SQLExecutionStart") \
                or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plans.setdefault(e["executionId"], []).append(
                e["sparkPlanInfo"])

    # -- attribution --------------------------------------------------------
    def call_stages(self, group: str, t0_ms: float, t1_ms: float
                    ) -> list[int]:
        return sorted(
            s for s, p in self.stages.items() if s in self.tasks
            and (p["group"] == group
                 or (p["group"] is None and t0_ms <= p["t"] <= t1_ms)))

    def call_metrics(self, group: str, t0_ms: float, t1_ms: float) -> dict:
        stages = self.call_stages(group, t0_ms, t1_ms)
        m = {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0, "spill_mb": 0.0,
             "task_skew": 1.0}
        py = {"rows": 0, "sent_mb": 0.0, "received_mb": 0.0,
              "stage_run_s": 0.0, "rows_by_node": {}}
        stage_run_ms = 0
        heaviest = (0, [])
        for s in stages:
            runs = []
            has_py = False
            for t in self.tasks[s]:
                tm = t.get("Task Metrics") or {}
                run = tm.get("Executor Run Time", 0)
                runs.append(run)
                m["executor_run_s"] += run / 1e3
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}) \
                    .get("Shuffle Bytes Written", 0) / MB
                m["fetch_wait_s"] += tm.get("Shuffle Read Metrics", {}) \
                    .get("Fetch Wait Time", 0) / 1e3
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                for a in t["Task Info"].get("Accumulables", []):
                    node, name = self.py_acc.get(a["ID"], (None, None))
                    if node is None:
                        continue
                    has_py = True
                    v = int(a.get("Update", 0))
                    if name == "number of output rows":
                        py["rows"] += v
                        py["rows_by_node"][node] = \
                            py["rows_by_node"].get(node, 0) + v
                    elif name == "data sent to Python workers":
                        py["sent_mb"] += v / MB
                    elif name == "data returned from Python workers":
                        py["received_mb"] += v / MB
            if has_py:
                py["stage_run_s"] += sum(runs) / 1e3
            stage_run_ms += self.stage_acc.get(s, {}).get(
                "internal.metrics.executorRunTime", 0)
            if sum(runs) > heaviest[0]:
                heaviest = (sum(runs), runs)
        if len(heaviest[1]) > 1 and statistics.median(heaviest[1]) > 0:
            m["task_skew"] = max(heaviest[1]) / statistics.median(heaviest[1])
        task_ms = m["executor_run_s"] * 1e3
        reconcile = (abs(task_ms - stage_run_ms) / stage_run_ms
                     if stage_run_ms else 0.0)
        return {"spark": m, "python": py, "reconcile_err": reconcile,
                "n_stages": len(stages),
                "joins": self.join_strategies(stages)}

    def join_strategies(self, stages: list[int]) -> dict:
        """Joins on the cover's ``_cell`` key in the final plans of the
        stages' SQL executions: {execution id: 'broadcast'|'shuffled'}."""
        out = {}
        for ex in {self.stages[s]["exec"] for s in stages}:
            if ex is None or int(ex) not in self.plans:
                continue
            final = self.plans[int(ex)][-1]
            for node in _walk(final):
                s = node.get("simpleString", "")
                if "_cell" in s.split("]")[0]:
                    if node["nodeName"].startswith("BroadcastHashJoin"):
                        out[int(ex)] = "broadcast"
                    elif node["nodeName"] in ("ShuffledHashJoin",
                                              "SortMergeJoin"):
                        out.setdefault(int(ex), "shuffled")
        return out


def _walk(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _walk(c)
