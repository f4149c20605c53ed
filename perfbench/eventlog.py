"""Per-layer Spark counters from an uncompressed, non-rolling event log.

Every job, stage and task is attributed to a run by the time its job was
submitted, and to the job group the tracer set around the layer call
(``perfbench:<layer>`` or, for transformers, ``perfbench:<layer>:<spec_id>/
<function>``). Jobs with any other group, such as the streaming engine's
own, count under ``other``.

The ``python.*`` counters are the SQL metrics of the plan nodes that run
Python code in Arrow/pickle workers (ArrowEvalPython, MapInPandas,
FlatMapGroupsInPandas and the like).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, Iterable, Sequence, Tuple

from perfbench.trace import GROUP_PREFIX

SPARK_COUNTERS = (
    "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
PYTHON_COUNTERS = ("rows", "bytes_sent", "bytes_received")

_PYTHON_METRICS = {
    "number of output rows": "rows",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
_FILES_WRITTEN = "number of written files"


def is_python_node(node_name: str) -> bool:
    return "Python" in node_name or "InPandas" in node_name or "InArrow" in node_name


@dataclass
class Counters:
    jobs: int = 0
    values: Dict[str, float] = field(default_factory=lambda: defaultdict(float))


def _group(props: dict) -> str:
    g = (props or {}).get("spark.jobGroup.id") or ""
    return g[len(GROUP_PREFIX):] if g.startswith(GROUP_PREFIX) else "other"


def _plan_metrics(plan: dict, out: Dict[int, Tuple[str, str]]) -> None:
    """accumulator id -> (node name, metric name), over the whole plan tree."""
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def read_events(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def counters(
    events: Iterable[dict], runs: Sequence[Tuple[int, float, float]]
) -> Dict[int, Dict[str, Counters]]:
    """``{run: {group: Counters}}`` for runs given as (id, start_ms, end_ms)."""

    def run_of(ts_ms: float):
        for rid, a, b in runs:
            if a <= ts_ms <= b:
                return rid
        return None

    out: Dict[int, Dict[str, Counters]] = defaultdict(lambda: defaultdict(Counters))
    stage_owner: Dict[int, Tuple[int, str]] = {}
    exec_owner: Dict[int, Tuple[int, str]] = {}
    accums: Dict[int, Tuple[str, str]] = {}

    def add(owner, key, value):
        if owner is not None and owner[0] is not None:
            out[owner[0]][owner[1]].values[key] += value

    events = list(events)
    # A task may update a metric whose plan node is announced only by a
    # later execution: jobs that build a cached relation run before the
    # query that reads it is logged. So learn every plan first.
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev.get("sparkPlanInfo", {}), accums)

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            owner = (run_of(ev.get("Submission Time", 0)), _group(props))
            if owner[0] is not None:
                out[owner[0]][owner[1]].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = owner
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_owner.setdefault(int(eid), owner)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            owner = exec_owner.get(ev.get("executionId"))
            for acc_id, value in ev.get("accumUpdates", []):
                if accums.get(acc_id, ("", ""))[1] == _FILES_WRITTEN:
                    add(owner, "files_written", value)
        elif kind == "SparkListenerTaskEnd":
            owner = stage_owner.get(ev.get("Stage ID"))
            if owner is None:
                continue
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            add(owner, "tasks", 1)
            add(owner, "executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
            add(owner, "executor_run_s", m.get("Executor Run Time", 0) / 1e3)
            add(owner, "gc_s", m.get("JVM GC Time", 0) / 1e3)
            add(owner, "shuffle_read_bytes",
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            add(owner, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
            add(owner, "spill_bytes",
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
            add(owner, "input_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
            om = m.get("Output Metrics") or {}
            add(owner, "bytes_written", om.get("Bytes Written", 0))
            add(owner, "records_written", om.get("Records Written", 0))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                node, name = accums.get(acc.get("ID"), ("", ""))
                if is_python_node(node) and name in _PYTHON_METRICS:
                    add(owner, "python_" + _PYTHON_METRICS[name], float(acc.get("Update", 0)))
    return out
