"""Spark event-log reader: per-layer counters for the traced run.

Reads an uncompressed ``file://`` event log: Spark 4's rolling
``eventlog_v2_<app>/events_<n>_<app>`` directories, or a single plain
file. The benchmark tags every public call it makes with the
``perfbench.span`` local property; Spark copies local properties into each
job's properties, micro-batch jobs of a streaming query included, so a
job's span says which call caused it.

Attribution is per stage, by physical operator: a stage that writes files
goes to the span's ``write_layer``; a stage that only scans files (no
shuffle in or out) goes to its ``scan_layer``; every other stage goes to
the span's ``layer``, the module whose call built the plan. A job counts
for the layer of its last stage.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass

SPAN_KEY = "perfbench.span"
_MB = 1024 * 1024


@dataclass(frozen=True)
class Span:
    """One call the benchmark made: the layer that built its plan, and the
    layers its file scans and file writes belong to."""

    layer: str
    scan_layer: str = "sources"
    write_layer: str = "sinks"


def _log_files(log_dir: str) -> list[str]:
    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolling:
        # events_<n>_<app>: replay in n order
        return sorted(
            rolling,
            key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)),
        )
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith((".inprogress", ".crc"))
    )


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in _log_files(log_dir):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    if not events:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return events


def _new_stage() -> dict:
    return {
        "tasks": 0, "cpu_ns": 0, "gc_ms": 0, "spill": 0, "shuffle_write": 0,
        "shuffle_read": 0, "input": 0, "scopes": set(), "submit": None, "complete": None,
    }


class EventLog:
    """Jobs, stages, SQL operator metrics and streaming progress of one
    application."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(_new_stage)
        self.accum: dict[int, int] = defaultdict(int)
        # accumulator id -> (SQL execution id, operator name, metric name)
        self.accum_info: dict[int, tuple[str, str, str]] = {}
        self.progress: list[dict] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "span": props.get(SPAN_KEY),
                    "execution": props.get("spark.sql.execution.id"),
                    "query": props.get("sql.streaming.queryId"),
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                st = self.stages[info["Stage ID"]]
                st["submit"] = info.get("Submission Time")
                for rdd in info.get("RDD Info", ()):
                    if rdd.get("Scope"):
                        st["scopes"].add(json.loads(rdd["Scope"])["name"])
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]]["complete"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                self._task(e)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                self._plan(str(e["executionId"]), e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    self.accum[acc_id] += int(value)
            elif kind.endswith("QueryProgressEvent"):
                self.progress.append(e["progress"])

    def _plan(self, execution: str, node: dict) -> None:
        for m in node.get("metrics", ()):
            self.accum_info[m["accumulatorId"]] = (execution, node["nodeName"], m["name"])
        for child in node.get("children", ()):
            self._plan(execution, child)

    def _task(self, e: dict) -> None:
        st = self.stages[e["Stage ID"]]
        st["tasks"] += 1
        m = e.get("Task Metrics")
        if m:
            st["cpu_ns"] += m["Executor CPU Time"]
            st["gc_ms"] += m["JVM GC Time"]
            st["spill"] += m["Disk Bytes Spilled"]
            st["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            st["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            st["input"] += m["Input Metrics"]["Bytes Read"]
        for acc in e["Task Info"].get("Accumulables", ()):
            if acc.get("Metadata") == "sql":
                try:
                    self.accum[acc["ID"]] += int(acc["Update"])
                except (KeyError, ValueError):
                    pass

    def stage_layer(self, stage_id: int, span: Span) -> str:
        st = self.stages[stage_id]
        scopes = st["scopes"]
        if any(s == "WriteFiles" or s.startswith("Execute InsertInto") for s in scopes):
            return span.write_layer
        shuffles = st["shuffle_write"] or st["shuffle_read"] or any(
            s in ("Exchange", "AQEShuffleRead") for s in scopes
        )
        if any(s.startswith("Scan ") for s in scopes) and not shuffles:
            return span.scan_layer
        return span.layer

    def sql_metric(self, executions: set[str], node_prefixes: tuple[str, ...], metric: str) -> list[int]:
        """Values of ``metric`` on operators named ``node_prefixes*`` in the
        given SQL executions, one value per operator instance."""
        return [
            self.accum[acc]
            for acc, (ex, node, name) in self.accum_info.items()
            if ex in executions and name == metric and node.startswith(node_prefixes)
        ]


def attribute(log: EventLog, spans: dict[str, Span], cores: int) -> dict:
    """Per-layer counters over every job whose span is in ``spans``.

    Returns ``{"layers": {layer: {...}}, "executions": {span: {SQL
    execution ids}}, "input_bytes": {span: bytes scanned}, "span_jobs":
    {span: jobs}}``; stages that never ran (skipped) count for nothing."""
    layers: dict[str, dict] = defaultdict(
        lambda: {"wall_s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    executions: dict[str, set[str]] = defaultdict(set)
    input_bytes: dict[str, int] = defaultdict(int)
    span_jobs: dict[str, int] = defaultdict(int)
    seen: set[int] = set()
    for job_id, job in sorted(log.jobs.items()):
        span = spans.get(job["span"])
        if span is None:
            continue
        if job["execution"] is not None:
            executions[job["span"]].add(str(job["execution"]))
        ran = [s for s in job["stages"] if log.stages[s]["submit"] is not None]
        if ran:
            layers[log.stage_layer(max(ran), span)]["jobs"] += 1
            span_jobs[job["span"]] += 1
        for s in ran:
            if s in seen:
                continue
            seen.add(s)
            st = log.stages[s]
            agg = layers[log.stage_layer(s, span)]
            if st["complete"] is not None:
                agg["wall_s"] += (st["complete"] - st["submit"]) / 1000
            agg["tasks"] += st["tasks"]
            agg["cpu_s"] += st["cpu_ns"] / 1e9
            agg["gc_s"] += st["gc_ms"] / 1000
            agg["shuffle_mb"] += st["shuffle_write"] / _MB
            agg["spill_mb"] += st["spill"] / _MB
            input_bytes[job["span"]] += st["input"]
    for agg in layers.values():
        agg["cpu_util"] = agg["cpu_s"] / (agg["wall_s"] * cores) if agg["wall_s"] else 0.0
    return {
        "layers": dict(layers),
        "executions": dict(executions),
        "input_bytes": dict(input_bytes),
        "span_jobs": dict(span_jobs),
    }
