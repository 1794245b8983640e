"""Fold a Spark event log into a per-layer ledger.  Standard library only.

The log is the uncompressed, non-rolling JSON-lines file Spark writes
when ``spark.eventLog.enabled`` is on.  Three event kinds are read:

- ``SparkListenerJobStart``: which stages belong to which job, and the
  job description (``SparkContext.setJobDescription``), so one log can
  be split by the phase that ran it.
- ``SparkListenerTaskEnd``: executor run / CPU / GC time, shuffle bytes
  written, spill, and the per-task update of every SQL metric.  Summing
  the task updates (not the stage's running accumulator value) keeps
  two executions of one plan from counting each other.
- ``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``: the plan tree,
  which names the node that owns each SQL-metric accumulator, so "time
  to run Python workers" of the ``MapInArrow`` featurize stage stays
  apart from that of a pandas UDF elsewhere in the same job.

Killed, failed and speculative-loser tasks are counted but contribute
no metrics.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

#: ledger busy time may exceed the measured wall by this share plus
#: RECONCILE_SLACK_S (event timestamps are milliseconds from the driver
#: JVM clock; the wall is taken by another process)
RECONCILE_TOL = 0.05
RECONCILE_SLACK_S = 0.25


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def _plan_nodes(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = info["nodeName"].strip()
    for child in info.get("children", []):
        _plan_nodes(child, out)


def _union_s(spans: Iterable[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


@dataclass
class Ledger:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    busy_s: float = 0.0
    #: (node name, metric name) -> sum of task updates
    node_metrics: dict = field(default_factory=lambda: defaultdict(float))
    #: (node name, metric name) -> stages in which the metric was updated
    node_stages: dict = field(default_factory=lambda: defaultdict(set))

    def metric(self, name: str, node: Optional[str] = None) -> float:
        """Sum of SQL metric ``name``, over nodes named ``node`` (all
        nodes when ``node`` is None)."""
        return sum(v for (n, m), v in self.node_metrics.items()
                   if m == name and (node is None or n == node))

    def stages_with(self, name: str, node: Optional[str] = None) -> int:
        """Stages in which SQL metric ``name`` of ``node`` was updated."""
        hit: set = set()
        for (n, m), ids in self.node_stages.items():
            if m == name and (node is None or n == node):
                hit |= ids
        return len(hit)

    def reconcile(self, wall_s: float, nproc: int) -> dict:
        """Executor time must fit inside the wall: stage spans no longer
        than the wall, task time no more than ``nproc`` slots for the
        span, each within RECONCILE_TOL (+ RECONCILE_SLACK_S)."""
        span_ok = self.busy_s <= wall_s * (1 + RECONCILE_TOL) + \
            RECONCILE_SLACK_S
        slot_ok = self.run_s <= nproc * self.busy_s * (1 + RECONCILE_TOL) \
            + RECONCILE_SLACK_S
        return {"ok": span_ok and slot_ok, "wall_s": wall_s,
                "busy_s": self.busy_s, "run_s": self.run_s,
                "slot_util": (self.run_s / (nproc * self.busy_s)
                              if self.busy_s else 0.0),
                "tolerance": RECONCILE_TOL, "slack_s": RECONCILE_SLACK_S}


def fold(events: list[dict],
         select: Optional[Callable[[str], bool]] = None) -> Ledger:
    """Ledger over the jobs whose description passes ``select`` (every
    job when ``select`` is None)."""
    acc_node: dict = {}
    stage_ok: set = set()
    jobs = 0
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or \
                kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_nodes(e["sparkPlanInfo"], acc_node)
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            if select is None or select(desc or ""):
                jobs += 1
                stage_ok.update(e["Stage IDs"])

    led = Ledger(jobs=jobs)
    spans: dict = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_ok and "Submission Time" in info:
                spans[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    info["Submission Time"], info["Completion Time"])
        if kind != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_ok:
            continue
        led.tasks += 1
        info = e["Task Info"]
        if info.get("Failed") or info.get("Killed") or \
                e.get("Task End Reason", {}).get("Reason") != "Success":
            led.failed_tasks += 1
            continue
        tm = e.get("Task Metrics") or {}
        led.run_s += tm.get("Executor Run Time", 0) / 1e3
        led.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        led.gc_s += tm.get("JVM GC Time", 0) / 1e3
        led.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}) \
            .get("Shuffle Bytes Written", 0)
        led.spill_bytes += tm.get("Memory Bytes Spilled", 0)
        stage = (e["Stage ID"], e["Stage Attempt ID"])
        for a in info.get("Accumulables", []):
            node = acc_node.get(a["ID"])
            if node is None:
                continue
            key = (node, a["Name"])
            led.node_metrics[key] += _num(a.get("Update"))
            led.node_stages[key].add(stage)
    led.stages = len(spans)
    led.busy_s = _union_s(spans.values())
    return led


def sql_executions(events: list[dict]) -> list[dict]:
    """Finished SQL executions: id, start/end epoch ms, plan text."""
    out: dict = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            out[e["executionId"]] = {
                "id": e["executionId"], "start": e["time"], "end": None,
                "plan": e.get("physicalPlanDescription", "")}
        elif kind.endswith("SQLExecutionEnd") and e["executionId"] in out:
            out[e["executionId"]]["end"] = e["time"]
    return [x for x in out.values() if x["end"] is not None]


def describe(prefix: str) -> Callable[[str], bool]:
    """Selector for jobs whose description starts with ``prefix``."""
    return lambda desc: desc.startswith(prefix)
