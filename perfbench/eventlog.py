"""Stage, task and SQL-metric counters read from a Spark event log.

The benchmark turns the event log on through ``spark_session(extra_conf=
...)`` and tags the jobs it wants to count with the local property
``perfbench.phase``; ``summarize`` reads back only the jobs of one phase.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

PHASE_PROP = "perfbench.phase"


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _plan_nodes(child)


def read_events(log_dir: Path) -> list[dict]:
    events = []
    for f in sorted(log_dir.rglob("events_*")):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def summarize(events: list[dict], phase: str, wall_s: float, cores: int,
              scan_path: str) -> dict:
    """Counters of the jobs tagged ``phase``.

    ``scan_path``: count the output rows of parquet scans whose location
    contains this path (the pages table), for scan amplification."""
    stages: set[int] = set()
    exec_ids: set[str] = set()
    jobs = 0
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get(PHASE_PROP) != phase:
                continue
            jobs += 1
            stages.update(e["Stage IDs"])
            if (xid := props.get("spark.sql.execution.id")) is not None:
                exec_ids.add(str(xid))

    # SQL metric accumulator ids of the plan nodes we count
    acc_to_python: set[int] = set()
    acc_from_python: set[int] = set()
    acc_scan_rows: set[int] = set()
    for e in events:
        if not e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            continue
        if str(e["executionId"]) not in exec_ids:
            continue
        for node in _plan_nodes(e["sparkPlanInfo"]):
            metrics = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
            if node["nodeName"] == "MapInPandas":
                acc_to_python.add(metrics["data sent to Python workers"])
                acc_from_python.add(metrics["data returned from Python workers"])
            elif (
                node["nodeName"].startswith("Scan parquet")
                and scan_path in node["simpleString"]
            ):
                acc_scan_rows.add(metrics["number of output rows"])

    task_ms_by_stage: dict[int, list[int]] = {}
    out = dict.fromkeys(
        ("gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
         "bytes_to_python", "bytes_from_python", "scan_rows"),
        0,
    )
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        task_ms_by_stage.setdefault(e["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", []):
            upd = acc.get("Update")
            if upd is None:
                continue
            if acc["ID"] in acc_to_python:
                out["bytes_to_python"] += int(upd)
            elif acc["ID"] in acc_from_python:
                out["bytes_from_python"] += int(upd)
            elif acc["ID"] in acc_scan_rows:
                out["scan_rows"] += int(upd)

    all_ms = [t for ts in task_ms_by_stage.values() for t in ts]
    task_s = sum(all_ms) / 1000.0
    # the fused stage is the one that holds most of the task time
    heaviest = max(task_ms_by_stage.values(), key=sum, default=[])
    med = statistics.median(heaviest) if heaviest else 0
    out.update(
        jobs=jobs,
        tasks=len(all_ms),
        task_s=task_s,
        slot_util=task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        task_skew=max(heaviest) / med if med else 0.0,
    )
    return out
