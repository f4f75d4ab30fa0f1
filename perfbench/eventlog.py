"""Stdlib reader for uncompressed, non-rolling Spark 4.1 event logs.

Rolls task metrics up by the job group their job ran under
(``SparkContext.setJobGroup``). Task-level figures are used throughout:
the stage-level value of an SQL accumulator is cumulative over every
stage that updated it, a task's ``Update`` is its own contribution.

Enable the log with ``get_spark(extra_conf=...)``:
``spark.eventLog.enabled=true``, ``spark.eventLog.dir=file://<dir>``,
``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``.
The file is complete once the session has stopped.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from typing import Iterator

PYTHON_TIME = "time to run Python workers"  # ms, summed over tasks
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    python_s: float = 0.0
    python_bytes: int = 0

    def add(self, other: "GroupTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def read_events(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def rollup_by_job_group(path: str) -> dict[str | None, GroupTotals]:
    """{job group id (None for jobs outside any group): totals}."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupTotals] = {}
    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out.setdefault(group, GroupTotals()).jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            t = out.setdefault(stage_group.get(e["Stage ID"]), GroupTotals())
            t.tasks += 1
            t.executor_run_s += m["Executor Run Time"] / 1e3
            t.executor_cpu_s += m["Executor CPU Time"] / 1e9
            t.gc_s += m["JVM GC Time"] / 1e3
            t.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            for acc in e.get("Task Info", {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PYTHON_TIME:
                    t.python_s += int(upd) / 1e3
                elif name in PYTHON_BYTES:
                    t.python_bytes += int(upd)
    return out
