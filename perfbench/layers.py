"""Layer attribution from outside the program.

Each call the benchmark makes into a layer runs under its own Spark job
group.  ``Spans`` times the call and counts, from ``statusTracker()``,
the jobs Spark ran for it.  In a traced run the session also writes
Spark's event log; ``read_event_log`` attributes each stage that ran,
each task, and the tasks' Python-worker time and shuffle bytes to the
job group that submitted the stage.

Stages and tasks are not taken from ``statusTracker()``: it lists the
stages a job skipped (under adaptive execution a shuffle runs as its
own job and then reappears as a skipped parent of the next one) with
their planned task counts, so summing them counts a shuffle twice.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import time

PYTHON_WORKER_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
RECONCILE_TOLERANCE = 0.1


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session confs that turn on an uncompressed local event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


class Spans:
    """Wall time and job count per named layer call.

    Group ids are ``<layer>#<n>`` so every call is its own group; the
    totals are kept per layer name.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0
        self.seconds: dict[str, list[float]] = collections.defaultdict(list)
        self.groups: dict[str, list[str]] = collections.defaultdict(list)

    @contextlib.contextmanager
    def span(self, layer: str):
        self._n += 1
        group = f"{layer}#{self._n}"
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [self.sc.getLocalProperty(k) for k in keys]
        self.sc.setJobGroup(group, layer, False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[layer].append(time.perf_counter() - t0)
            self.groups[layer].append(group)
            for key, value in zip(keys, prev):
                self.sc.setLocalProperty(key, value)  # None clears it

    def jobs(self) -> dict[str, int]:
        """Jobs run under each layer; take it before the session stops."""
        st = self.sc.statusTracker()
        return collections.defaultdict(int, {
            layer: sum(len(st.getJobIdsForGroup(g)) for g in groups)
            for layer, groups in self.groups.items()
        })

    def calls(self, layer: str) -> int:
        return len(self.seconds[layer])

    def total_s(self, layer: str) -> float:
        return sum(self.seconds[layer])


def _event_files(log_dir: str) -> list[str]:
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        # events_<index>_<appId>: replay in index order
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def _empty_totals() -> dict[str, float]:
    return {"jobs": 0, "stages": 0, "tasks": 0, "python_worker_ms": 0.0, "shuffle_bytes": 0}


def _group(ev: dict) -> str | None:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id")


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages that ran, tasks, Python-worker ms and
    shuffle bytes.  Call after the session has stopped, so the log is
    complete."""
    stage_group: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = collections.defaultdict(_empty_totals)
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = _group(ev)
                    if group is not None:
                        out[group]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    # only stages that run are submitted; skipped ones are not
                    group = _group(ev)
                    if group is not None:
                        info = ev["Stage Info"]
                        stage_group[info["Stage ID"], info["Stage Attempt ID"]] = group
                        out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((ev.get("Stage ID"), ev.get("Stage Attempt ID")))
                    if group is None:
                        continue
                    rec = out[group]
                    rec["tasks"] += 1
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_WORKER_METRICS:
                            rec["python_worker_ms"] += float(acc.get("Update") or 0)
                    shuffle = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += int(shuffle.get("Shuffle Bytes Written", 0))
    return dict(out)


def layer_totals(log: dict[str, dict[str, float]], spans: Spans, layer: str) -> dict[str, float]:
    """Sum the event-log records of every group opened under ``layer``."""
    tot = _empty_totals()
    for group in spans.groups[layer]:
        for k, v in log.get(group, {}).items():
            tot[k] += v
    return tot


def reconcile(total: float, parts: list[float]) -> tuple[bool, float]:
    """Do the layer times fit inside the end-to-end time they were
    measured within?  Returns (ok, unattributed) where unattributed is
    ``total - sum(parts)``; ok allows ``RECONCILE_TOLERANCE`` of
    ``total`` for the noise of parts measured apart from the total."""
    unattributed = total - sum(parts)
    ok = all(p >= 0 for p in parts) and unattributed >= -RECONCILE_TOLERANCE * total
    return ok, unattributed
