"""Stdlib-only reader for an uncompressed, non-rolling Spark event log.

``worker.py`` tags every job with a job group: ``b:<query>`` while the
query function builds its plan (eager jobs it launches land here),
``s:<query>`` while the sink executes the final plan, ``warmup`` and
``check`` around the timed region. Jobs a streaming query starts carry
the query's run id as their group. ``summarize`` folds the log into the
per-layer counts ``run.py`` reports.

Stage metrics come from ``SparkListenerStageCompleted`` accumulables.
SQL operator metrics (Python UDF rows and bytes, in-memory cache scans,
file bytes scanned) are found by walking the ``sparkPlanInfo`` trees of
``SparkListenerSQLExecutionStart`` and ``SparkListenerSQLAdaptiveExecutionUpdate``
for the accumulator ids of the operators of interest, then reading their
final values from stage accumulables and driver accumulator updates. An
accumulator belongs to the SQL execution that first declares it; the
execution takes the phase of its jobs (``spark.sql.execution.id`` in the
job properties), and the ``warmup`` and ``check`` phases are left out.
"""

from __future__ import annotations

import json
from pathlib import Path

#: Operators that run Python code in Python workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
)


def read_events(path: Path):
    """Yield the JSON events of one log file, one per line."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _phase(group: str | None) -> str:
    if not group:
        return "other"
    if group.startswith("b:"):
        return "build"
    if group.startswith("s:"):
        return "exec"
    if group in ("warmup", "check"):
        return group
    return "stream"


def summarize(events) -> dict:
    """Fold an event stream into per-phase job, stage and task counts and
    the operator metrics named in the module docstring."""
    stage_phase: dict[int, str] = {}
    exec_phase: dict[int, str] = {}
    jobs = {"build": 0, "exec": 0}
    stages: list[tuple[str, dict]] = []
    accum_meta: dict[int, tuple[str, str, int]] = {}
    accum_val: dict[int, float] = {}

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            phase = _phase(props.get("spark.jobGroup.id"))
            if phase in jobs:
                jobs[phase] += 1
            for sid in e.get("Stage IDs", ()):
                stage_phase[sid] = phase
            if "spark.sql.execution.id" in props:
                exec_phase.setdefault(int(props["spark.sql.execution.id"]), phase)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Failure Reason" in info:
                continue
            acc = {}
            for a in info.get("Accumulables", ()):
                try:
                    v = float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
                acc[a.get("Name")] = v
                accum_val[a["ID"]] = max(accum_val.get(a["ID"], v), v)
            acc["tasks"] = info.get("Number of Tasks", 0)
            stages.append((stage_phase.get(info["Stage ID"], "other"), acc))
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            eid = e.get("executionId")
            for node in _walk(e.get("sparkPlanInfo") or {}):
                for m in node.get("metrics", ()):
                    accum_meta.setdefault(
                        m["accumulatorId"], (node.get("nodeName", ""), m["name"], eid)
                    )
        elif kind.endswith("DriverAccumUpdates"):
            for aid, v in e.get("accumUpdates", ()):
                accum_val[aid] = max(accum_val.get(aid, v), float(v))

    def stage_sum(phase: str, *names: str) -> float:
        return sum(acc.get(n, 0.0) for p, acc in stages if p == phase for n in names)

    def counted(eid) -> bool:
        return exec_phase.get(eid) not in ("warmup", "check")

    def op_accums(match, metric: str):
        return [
            accum_val.get(aid, 0.0)
            for aid, (node, name, eid) in accum_meta.items()
            if name == metric and match(node) and counted(eid)
        ]

    def op_sum(match, metric: str) -> float:
        return sum(op_accums(match, metric))

    def is_python(node: str) -> bool:
        return node.startswith(PYTHON_NODES)

    def is_cache_scan(node: str) -> bool:
        return node.startswith("InMemoryTableScan")

    return {
        "build_jobs": jobs["build"],
        "exec_jobs": jobs["exec"],
        "exec_stages": sum(1 for p, _ in stages if p == "exec"),
        "exec_tasks": int(sum(acc["tasks"] for p, acc in stages if p == "exec")),
        "shuffle_read_bytes": stage_sum(
            "exec",
            "internal.metrics.shuffle.read.localBytesRead",
            "internal.metrics.shuffle.read.remoteBytesRead",
        ),
        "shuffle_write_bytes": stage_sum("exec", "internal.metrics.shuffle.write.bytesWritten"),
        "spill_bytes": stage_sum("exec", "internal.metrics.diskBytesSpilled"),
        "executor_cpu_s": stage_sum("exec", "internal.metrics.executorCpuTime") / 1e9,
        "jvm_gc_s": stage_sum("exec", "internal.metrics.jvmGCTime") / 1e3,
        "stream_bytes_written": stage_sum("stream", "internal.metrics.output.bytesWritten"),
        "python_rows": op_sum(is_python, "number of output rows"),
        "python_bytes": op_sum(is_python, "data sent to Python workers")
        + op_sum(is_python, "data returned from Python workers"),
        "cache_scans": sum(
            1 for v in op_accums(is_cache_scan, "number of output rows") if v > 0
        ),
        "file_bytes_read": op_sum(lambda n: n.startswith("Scan "), "size of files read"),
    }
