"""Cut a Spark event log (uncompressed, non-rolling JSON lines) per job
group, and read the SQL metrics of each group's query plans.

Only public listener events are used:

- ``SparkListenerJobStart``: job -> job group (``spark.jobGroup.id``),
  job -> stages, job -> SQL execution (``spark.sql.execution.id``);
- ``SparkListenerStageCompleted``: stage wall interval, task count,
  executor run time, executor CPU time, shuffle bytes written, and every
  accumulable the stage updated (SQL metrics included);
- ``SparkListenerSQLExecutionStart`` / ``SparkListenerSQLAdaptiveExecutionUpdate``:
  the physical plan with each node's metric accumulator ids;
- ``SparkListenerDriverAccumUpdates``: SQL metrics set on the driver.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PY_TIME_METRIC = "time to run Python workers"
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
# nodes that pass rows through unchanged in number between a refine
# filter and the candidate join beneath it
_PASS_THROUGH = ("Project", "ArrowEvalPython", "BatchEvalPython", "WholeStageCodegen",
                 "InputAdapter", "ColumnarToRow")


@dataclass
class StageStat:
    submit_ms: float
    complete_ms: float
    tasks: int
    run_ms: float
    cpu_ms: float
    shuffle_write: int
    python_ms: float


@dataclass
class GroupStat:
    jobs: int = 0
    stages: list = field(default_factory=list)
    executions: set = field(default_factory=set)


@dataclass
class EventLog:
    groups: dict  # job group id -> GroupStat
    plans: dict  # SQL execution id -> last physical plan (sparkPlanInfo)
    accum: dict  # accumulator id -> summed value


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def parse(path: str) -> EventLog:
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStat] = {}
    plans: dict[int, dict] = {}
    accum: dict[int, float] = {}
    metric_type: dict[int, str] = {}
    stage_accums: list[tuple[int, list]] = []
    stage_info: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                gs = groups.setdefault(g, GroupStat())
                gs.jobs += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    gs.executions.add(int(ex))
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stage_info[si["Stage ID"]] = si
                stage_accums.append((si["Stage ID"], si.get("Accumulables", [])))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                plan = e["sparkPlanInfo"]
                plans[int(e["executionId"])] = plan
                for node in _walk(plan):
                    for m in node.get("metrics", []):
                        metric_type[int(m["accumulatorId"])] = m.get("metricType", "")
            elif kind.endswith("DriverAccumUpdates"):
                for aid, val in e.get("accumUpdates", []):
                    accum[int(aid)] = accum.get(int(aid), 0.0) + _num(val)

    for sid, accs in stage_accums:
        for a in accs:
            accum[int(a["ID"])] = accum.get(int(a["ID"]), 0.0) + _num(a.get("Value"))

    def _acc(accs, name):
        return sum(_num(a.get("Value")) for a in accs if a.get("Name") == name)

    for sid, si in stage_info.items():
        g = stage_group.get(sid)
        if g is None or "Submission Time" not in si:
            continue
        accs = si.get("Accumulables", [])
        py = 0.0
        for a in accs:
            if a.get("Name") == PY_TIME_METRIC:
                scale = 1e-6 if metric_type.get(int(a["ID"])) == "nsTiming" else 1.0
                py += _num(a.get("Value")) * scale
        groups[g].stages.append(
            StageStat(
                submit_ms=float(si["Submission Time"]),
                complete_ms=float(si.get("Completion Time", si["Submission Time"])),
                tasks=int(si.get("Number of Tasks", 0)),
                run_ms=_acc(accs, "internal.metrics.executorRunTime"),
                cpu_ms=_acc(accs, "internal.metrics.executorCpuTime") / 1e6,
                shuffle_write=int(_acc(accs, "internal.metrics.shuffle.write.bytesWritten")),
                python_ms=py,
            )
        )
    return EventLog(groups, plans, accum)


def _rows_metric(node) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return int(m["accumulatorId"])
    return None


def _join_beneath(node):
    """The join directly beneath ``node``, reached through row-preserving
    nodes only, or None."""
    for c in node.get("children", []):
        if c["nodeName"].startswith(_JOIN_NODES):
            return c
        if c["nodeName"].startswith(_PASS_THROUGH):
            found = _join_beneath(c)
            if found is not None:
                return found
    return None


def refine_counts(log: EventLog, executions) -> tuple[float, float]:
    """(refined rows, candidate pairs) summed over ``executions``: for
    every Filter directly above a join, the filter's output rows and the
    join's output rows. A spatial join is a candidate equi-join on cell
    ids followed by the exact geometric refine. The optimizer folds a
    refine that is a plain expression (the haversine test of
    ``distance_join``) into the join's condition, where no SQL metric
    counts the candidates, so only refines that stay a Filter (the
    point-in-polygon UDF) are counted."""
    refined = candidates = 0.0
    for ex in executions:
        plan = log.plans.get(ex)
        if plan is None:
            continue
        for node in _walk(plan):
            if node["nodeName"] != "Filter":
                continue
            join = _join_beneath(node)
            if join is None:
                continue
            fa, ja = _rows_metric(node), _rows_metric(join)
            if fa is None or ja is None:
                continue
            refined += log.accum.get(fa, 0.0)
            candidates += log.accum.get(ja, 0.0)
    return refined, candidates


def span_stats(gs: GroupStat | None, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Event-log quantities of one span (wall interval [t0_ms, t1_ms])."""
    if gs is None:
        gs = GroupStat()
    ivs = sorted(
        (max(s.submit_ms, t0_ms), min(s.complete_ms, t1_ms))
        for s in gs.stages
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return {
        "jobs": gs.jobs,
        "task_fill": max((s.tasks for s in gs.stages), default=0) / cores,
        "wait_ms": sum(max(s.run_ms - s.cpu_ms, 0.0) for s in gs.stages),
        "python_ms": sum(s.python_ms for s in gs.stages),
        "shuffle_bytes": sum(s.shuffle_write for s in gs.stages),
        "driver_gap_ms": max(t1_ms - t0_ms - covered, 0.0),
    }
