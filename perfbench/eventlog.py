"""Per-pass JVM and Arrow-boundary figures from a Spark event log.

The traced run labels each pass by setting the local property
``perfbench.span`` before its action, so every job of a pass carries the
pass's id. Tasks map to passes through their stage's job. The SQL metrics
of the ``ArrowEvalPython`` node come from the plan in
``SparkListenerSQLExecutionStart`` (and its adaptive updates), whose
accumulator ids the task-end events update.
"""

from __future__ import annotations

import json

SPAN_PROPERTY = "perfbench.span"
PYTHON_NODE = "ArrowEvalPython"
# SQL metric display name -> key in the per-pass summary
PYTHON_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "number of output rows": "rows_from_python",
    "time to start Python workers": "boot_ns",
    "time to initialize Python workers": "init_ns",
    "time to run Python workers": "python_ns",
}
# timing metrics arrive in ms or ns depending on their metricType
_TO_NS = {"timing": 1_000_000, "nsTiming": 1}


def read_events(path: str) -> list:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def summarize(events: list) -> dict:
    """span label -> {tasks: [task dicts], arrow: {key: value}}."""
    stage_span, exec_span = {}, {}
    accum: dict = {}          # accumulator id -> (execution id, key, scale)
    passes: dict = {}
    for event in events:
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            label = props.get(SPAN_PROPERTY)
            if label is None:
                continue
            for stage in event["Stage IDs"]:
                stage_span[stage] = label
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_span[int(exec_id)] = label
        elif kind.endswith("SQLExecutionStart") or \
                kind.endswith("SQLAdaptiveExecutionUpdate"):
            exec_id = event["executionId"]
            for node in _walk(event["sparkPlanInfo"]):
                if node["nodeName"] != PYTHON_NODE:
                    continue
                for metric in node["metrics"]:
                    key = PYTHON_METRICS.get(metric["name"])
                    if key is not None:
                        scale = _TO_NS.get(metric["metricType"], 1)
                        accum[metric["accumulatorId"]] = (exec_id, key, scale)
        elif kind == "SparkListenerTaskEnd":
            label = stage_span.get(event["Stage ID"])
            if label is None:
                continue
            entry = passes.setdefault(label, {"tasks": [], "arrow": {}})
            metrics = event.get("Task Metrics") or {}
            shuffle_read = metrics.get("Shuffle Read Metrics", {})
            entry["tasks"].append({
                "run_ms": metrics.get("Executor Run Time", 0),
                "gc_ms": metrics.get("JVM GC Time", 0),
                "peak_exec_mem": metrics.get("Peak Execution Memory", 0),
                "shuffle_bytes": (
                    shuffle_read.get("Remote Bytes Read", 0)
                    + shuffle_read.get("Local Bytes Read", 0)
                    + metrics.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0)),
                "spill_bytes": (metrics.get("Memory Bytes Spilled", 0)
                                + metrics.get("Disk Bytes Spilled", 0)),
                "stage": event["Stage ID"],
            })
            for update in event["Task Info"].get("Accumulables", ()):
                hit = accum.get(update.get("ID"))
                if hit is None or exec_span.get(hit[0]) != label:
                    continue
                _, key, scale = hit
                arrow = entry["arrow"]
                arrow[key] = arrow.get(key, 0) + int(update["Update"]) * scale
    return passes
