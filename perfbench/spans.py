"""Benchmark-side tracing: spans around public engine calls, and per-layer
numbers read back from Spark's event log.

A span records (id, name, start, end, parent, request). Spans live in memory
and are written out once, when the run ends. While a span is open its id is
the Spark job group, so the event log names the call that launched each job.
Jobs that the engine launches from its own driver threads lose the
(thread-local) job group; every job is therefore attributed by time to the
innermost span open when it was submitted, which is exact for a single
closed-loop client.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


# span name of each query call kind
QUERY_SPANS = {
    "wand": "query.topk_wand",
    "match_and": "query.topk_match",
    "bool": "query.topk_bool",
    "phrase": "query.topk_phrase",
    "batch": "query.topk_batch",
}


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 1
        self._sc = None

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            # a request is a top-level span and everything under it
            "request": parent["request"] if parent else self._next_id,
            "start": time.time(),
        }
        self._next_id += 1
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(str(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(str(parent["id"]), parent["name"])
                else:
                    for key in ("spark.jobGroup.id", "spark.job.description"):
                        self._sc.setLocalProperty(key, None)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(sorted(self.spans, key=lambda s: s["id"])))


def read_event_log(log_dir: Path) -> list[dict]:
    """Jobs from the (uncompressed, single-file) event log, each with its
    submit/end time (s), stages and the task totals of its completed stages."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with files[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                    "tasks": 0,
                    "run_s": 0.0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "input_bytes": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                job["run_s"] += tm["Executor Run Time"] / 1000.0
                job["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                job["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
    return [j for j in jobs.values() if j["end"] is not None]


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, list[dict]]:
    """{span id: jobs submitted while it was the innermost open span}."""
    by_span: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for job in jobs:
        best = None
        for s in spans:
            if s["start"] <= job["submit"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            by_span[best["id"]].append(job)
    return by_span


def busy_s(span: dict, jobs: list[dict]) -> float:
    """Seconds of the span during which at least one Spark job was running."""
    iv = sorted((max(j["submit"], span["start"]), min(j["end"], span["end"])) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_stats(span: dict, jobs: list[dict], cores: int) -> dict:
    """Per-call layer numbers for one span and the jobs attributed to it."""
    wall = span["end"] - span["start"]
    ordered = sorted(jobs, key=lambda j: j["submit"])
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "run_s": sum(j["run_s"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "input_bytes": sum(j["input_bytes"] for j in jobs),
        "driver_gap_s": wall - busy_s(span, jobs),
        "core_busy_frac": sum(j["run_s"] for j in jobs) / (wall * cores) if wall > 0 else 0.0,
        "first_job_s": ordered[0]["end"] - ordered[0]["submit"] if ordered else 0.0,
        "last_job_s": ordered[-1]["end"] - ordered[-1]["submit"] if ordered else 0.0,
    }
