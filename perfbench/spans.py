"""In-memory span tracer with per-span Spark counters.

A span records name, start, end, parent span and op id. While a span is
open its id is the Spark job group of the calling thread, so every Spark
job the call starts is attributed to it. The counters are read once, at
the end of the run, from the driver's status REST API (served by the
Spark UI on localhost), which keeps the cost inside a span to two
``setJobGroup`` calls.

With tracing disabled ``span`` only yields, so the untraced run pays
nothing for it.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "task_busy_s", "shuffle_write_mb", "input_mb")
_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._opened = 0
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, key: str | None = None):
        """Trace the enclosed calls as layer ``name``. ``key`` separates
        occurrences that are summed rather than pooled (one per query).
        The yielded dict takes extra per-span values under ``"values"``."""
        if not self.enabled:
            yield {"values": {}}
            return
        self._opened += 1
        rec = {
            "id": f"span-{self._opened}",
            "name": name,
            "key": key,
            "op": self.op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "values": {},
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def attach_counters(self) -> dict:
        """Fill ``rec["counters"]`` for every span from the status API and
        return whole-run totals of spill and failed tasks."""
        per_group, totals = _spark_counters(self.sc)
        for rec in self.spans:
            rec["counters"] = per_group.get(rec["id"], dict.fromkeys(COUNTERS, 0.0))
        return totals

    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the time its child spans cover."""
        child: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return {r["id"]: r["end"] - r["start"] - child[r["id"]] for r in self.spans}

    def layer_medians(self) -> dict[str, dict[str, float]]:
        """Per layer: the median per occurrence of self time, counters and
        extra values, taken per key and then summed over keys."""
        selft = self.self_times()
        groups: dict[tuple, list[dict]] = defaultdict(list)
        for rec in self.spans:
            groups[(rec["name"], rec["key"])].append(rec)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for (name, _), recs in groups.items():
            layer = out[name]
            layer["s"] += statistics.median(selft[r["id"]] for r in recs)
            for c in COUNTERS:
                layer[c] += statistics.median(r["counters"][c] for r in recs)
            for v in {k for r in recs for k in r["values"]}:
                layer[v] += statistics.median(
                    r["values"][v] for r in recs if v in r["values"]
                )
        return out

    def dump(self, path: str) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {**r, "start": r["start"] - t0, "end": r["end"] - t0}
                    for r in sorted(self.spans, key=lambda r: r["start"])
                ],
                f,
                indent=1,
            )


def _spark_counters(sc) -> tuple[dict, dict]:
    """Counters per job group, and whole-run totals of spill and failed
    tasks, for every job the application ran so far."""
    _drain_listener_bus(sc)
    port = urllib.parse.urlparse(sc.uiWebUrl).port
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages")
    # a stage runs in the first job that lists it; later jobs skip it
    owner: dict[int, str | None] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job.get("jobGroup"))
    per_group: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for job in jobs:
        c = per_group[job.get("jobGroup")]
        c["jobs"] += 1
        c["stages"] += job["numCompletedStages"] + job["numFailedStages"]
        c["tasks"] += job["numCompletedTasks"] + job["numFailedTasks"]
    totals = {"spill_mb": 0.0, "failed_tasks": 0.0}
    for st in stages:
        if st["status"] not in ("COMPLETE", "FAILED"):
            continue
        c = per_group[owner.get(st["stageId"])]
        c["task_busy_s"] += st["executorRunTime"] / 1000.0
        c["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
        c["input_mb"] += st["inputBytes"] / _MB
        totals["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / _MB
        totals["failed_tasks"] += st["numFailedTasks"]
    return dict(per_group), totals


def _drain_listener_bus(sc, timeout_s: float = 30.0) -> None:
    """Wait until the driver's listener bus has delivered every event, so
    the status store holds the final counters of the last job."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))
    except Exception:  # noqa: BLE001 - private API; fall back to a pause
        time.sleep(2.0)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)
