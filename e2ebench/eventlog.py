"""Per-op layer metrics from Spark's event log (stdlib only).

The traced run sets ``spark.eventLog.enabled`` and gives each measured op
its own job group, ``op-<k>``. Jobs carry the group in their properties;
a job started from a thread that does not carry the group is given to the
op whose wall interval holds its submission time.
"""

from __future__ import annotations

import json

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
)

SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.empty_task_ratio": "ratio",
    "spark.driver_gap_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
}

_MB = 1024 * 1024


def _events(path: str):
    with open(path) as f:
        for line in f:
            head = line[:120]
            if any(w in head for w in _WANTED):
                yield json.loads(line)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def op_metrics(path: str, ops: list[dict]) -> list[dict]:
    """One dict of ``SPARK_METRICS`` (plus ``jobs_in:<span>`` counts) per op.

    ``ops`` holds, per measured op, ``t0``/``t1`` (epoch seconds) and
    ``spans``: ``{name: [t0, t1]}`` for the calls timed around it.
    """
    def op_at(ms: float) -> int | None:
        s = ms / 1000.0
        for k, op in enumerate(ops):
            if op["t0"] <= s <= op["t1"]:
                return k
        return None

    jobs: dict[int, dict] = {}
    stage_op: dict[int, int] = {}
    per_op = [
        {"jobs": [], "stages": 0, "tasks": 0, "empty": 0, "cpu_ns": 0, "gc_ms": 0,
         "sw": 0, "sr": 0, "fetch_ms": 0, "spill": 0}
        for _ in ops
    ]
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            k = int(group[3:]) if group.startswith("op-") else op_at(ev["Submission Time"])
            jobs[ev["Job ID"]] = {"op": k, "t0": ev["Submission Time"] / 1000.0, "t1": None}
            if k is not None:
                for sid in ev["Stage IDs"]:
                    stage_op.setdefault(sid, k)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["t1"] = ev["Completion Time"] / 1000.0
                if job["op"] is not None:
                    per_op[job["op"]]["jobs"].append((job["t0"], job["t1"]))
        elif kind == "SparkListenerStageCompleted":
            k = stage_op.get(ev["Stage Info"]["Stage ID"])
            if k is not None:
                per_op[k]["stages"] += 1
        else:  # SparkListenerTaskEnd
            k = stage_op.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if k is None or not m:
                continue
            acc = per_op[k]
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            read = m["Input Metrics"]["Records Read"] + sr["Total Records Read"]
            wrote = m["Output Metrics"]["Records Written"] + sw["Shuffle Records Written"]
            acc["tasks"] += 1
            acc["empty"] += read == 0 and wrote == 0
            acc["cpu_ns"] += m["Executor CPU Time"]
            acc["gc_ms"] += m["JVM GC Time"]
            acc["sw"] += sw["Shuffle Bytes Written"]
            acc["sr"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            acc["fetch_ms"] += sr["Fetch Wait Time"]
            acc["spill"] += m["Disk Bytes Spilled"]

    out = []
    for op, acc in zip(ops, per_op):
        wall = op["t1"] - op["t0"]
        clipped = [(max(a, op["t0"]), min(b, op["t1"])) for a, b in acc["jobs"]]
        row = {
            "spark.jobs": len(acc["jobs"]),
            "spark.stages": acc["stages"],
            "spark.tasks": acc["tasks"],
            "spark.empty_task_ratio": acc["empty"] / acc["tasks"] if acc["tasks"] else 0.0,
            "spark.driver_gap_s": wall - _union_s(clipped),
            "spark.task_cpu_s": acc["cpu_ns"] / 1e9,
            "spark.gc_s": acc["gc_ms"] / 1000.0,
            "spark.shuffle_write_mb": acc["sw"] / _MB,
            "spark.shuffle_read_mb": acc["sr"] / _MB,
            "spark.fetch_wait_s": acc["fetch_ms"] / 1000.0,
            "spark.spill_mb": acc["spill"] / _MB,
        }
        for name, (a, b) in op.get("spans", {}).items():
            row[f"jobs_in:{name}"] = sum(1 for t0, _ in acc["jobs"] if a <= t0 <= b)
        out.append(row)
    return out
