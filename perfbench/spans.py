"""Spans around the benchmark's calls into each layer, and the offline
reading of Spark's own event log into the ``spark`` layer.

A span is recorded in memory: name, parent, pass number, wall time.
While a span is open its id is the Spark job group, so every job,
stage and task in the event log can be charged to the innermost span
that caused it. Streaming micro-batches run under the query's run id
as job group; :meth:`Tracer.alias` charges that id to the open span.
"""

from __future__ import annotations

import contextlib
import gzip
import itertools
import json
import shutil
import statistics
import time

MB = 1e6


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.group_to_span: dict[str, str] = {}

    @contextlib.contextmanager
    def span(self, name: str, pass_no: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"pb{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "pass": pass_no if pass_no is not None else (parent or {}).get("pass"),
            "start_ms": time.time() * 1000,
        }
        self.group_to_span[rec["id"]] = rec["id"]
        self._stack.append(rec)
        self._sc.setJobGroup(rec["id"], name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent["id"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def alias(self, group_id: str) -> None:
        """Charge jobs run under ``group_id`` to the innermost open span."""
        if self.enabled and self._stack:
            self.group_to_span[group_id] = self._stack[-1]["id"]

    def durations(self, name: str) -> list[float]:
        """Durations of the spans called ``name`` in timed passes."""
        return [s["dur_s"] for s in self.spans if s["name"] == name and s["pass"] is not None]

    def span_ids(self, name: str, pass_no: int) -> set[str]:
        return {s["id"] for s in self.spans if s["name"] == name and s["pass"] == pass_no}

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start_ms"]):
                fh.write(json.dumps(s) + "\n")


class EventLog:
    """Jobs, stages, tasks and SQL executions read from one event log."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str | None] = {}
        self.stage_wall: dict[int, float] = {}
        self.stage_submit: dict[int, float] = {}
        self.stage_end: dict[int, float] = {}
        self.tasks: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.sql: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": props.get("spark.sql.execution.id"),
                "start": ev["Submission Time"],
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            self.stage_group[info["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            self.stage_submit[sid] = info["Submission Time"]
            self.stage_end[sid] = info["Completion Time"]
            self.stage_wall[sid] = (info["Completion Time"] - info["Submission Time"]) / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": ev["Task Info"]["Launch Time"],
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "read_mb": (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB,
                    "write_mb": wr.get("Shuffle Bytes Written", 0) / MB,
                    "spill_mb": m.get("Disk Bytes Spilled", 0) / MB,
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[ev["executionId"]] = {"start": ev["time"], "end": None}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if ev["executionId"] in self.sql:
                self.sql[ev["executionId"]]["end"] = ev["time"]

    def spark_layer(self, group_pass: dict[str, int], pass_wall: dict[int, float]) -> dict[str, float]:
        """``spark.*`` metrics: per-pass sums over the jobs whose group
        maps to a timed pass, then the median over passes. Empty when no
        job was charged to a timed pass.

        ``spark.stage_share`` is the share of a pass's wall time during
        which at least one of its stages was running: what is left is
        driver-side work (planning, commits, scheduling between jobs)."""
        per: dict[int, dict[str, float]] = {}

        def acc(p: int, key: str, v: float) -> None:
            per.setdefault(p, {}).setdefault(key, 0.0)
            per[p][key] += v

        stage_pass = {s: group_pass.get(g) for s, g in self.stage_group.items()}
        stage_rw: dict[int, list[float]] = {}
        for t in self.tasks:
            p = stage_pass.get(t["stage"])
            if p is None:
                continue
            acc(p, "tasks", 1)
            for key in ("run_s", "cpu_s", "gc_s", "read_mb", "write_mb", "spill_mb"):
                acc(p, key, t[key])
            acc(p, "wait_s", max(0.0, (t["launch"] - self.stage_submit.get(t["stage"], t["launch"])) / 1000))
            rw = stage_rw.setdefault(t["stage"], [0.0, 0.0])
            rw[0] += t["read_mb"]
            rw[1] += t["write_mb"]
        stage_spans: dict[int, list[tuple[float, float]]] = {}
        for sid, (read_mb, write_mb) in stage_rw.items():
            p = stage_pass[sid]
            acc(p, "stages", 1)
            if sid in self.stage_end:
                stage_spans.setdefault(p, []).append((self.stage_submit[sid], self.stage_end[sid]))
            if write_mb > 0:
                acc(p, "map_s", self.stage_wall.get(sid, 0.0))
            elif read_mb > 0:
                acc(p, "reduce_s", self.stage_wall.get(sid, 0.0))
        sql_jobs: dict[str, list[dict]] = {}
        for job in self.jobs.values():
            p = group_pass.get(job["group"])
            if p is None:
                continue
            acc(p, "jobs", 1)
            if job["sql"] is not None:
                sql_jobs.setdefault(job["sql"], []).append(job | {"pass": p})
        for eid, jobs in sql_jobs.items():
            ex = self.sql.get(int(eid))
            if not ex or ex["end"] is None:
                continue
            busy = _union_ms([(j["start"], j["end"] or j["start"]) for j in jobs])
            acc(jobs[0]["pass"], "plan_s", max(0.0, (ex["end"] - ex["start"] - busy) / 1000))
        for p, spans in stage_spans.items():
            acc(p, "stage_share", _union_ms(spans) / 1000 / pass_wall[p])
        names = {
            "plan_s": "spark.plan_s",
            "jobs": "spark.jobs",
            "stages": "spark.stages",
            "tasks": "spark.tasks",
            "run_s": "spark.executor_run_s",
            "cpu_s": "spark.executor_cpu_s",
            "gc_s": "spark.gc_s",
            "wait_s": "spark.task_wait_s",
            "write_mb": "spark.shuffle_write_mb",
            "read_mb": "spark.shuffle_read_mb",
            "spill_mb": "spark.spill_mb",
            "map_s": "spark.map_stage_s",
            "reduce_s": "spark.reduce_stage_s",
            "stage_share": "spark.stage_share",
        }
        if not per:
            return {}
        return {out: statistics.median([per[p].get(key, 0.0) for p in per]) for key, out in names.items()}

    def group_sum(self, groups: set[str], key: str) -> float:
        """Sum a task metric over the stages run under ``groups``."""
        return sum(t[key] for t in self.tasks if self.stage_group.get(t["stage"]) in groups)

    def group_jobs(self, groups: set[str]) -> int:
        return sum(1 for j in self.jobs.values() if j["group"] in groups)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def keep_gzipped(src: str, dst: str) -> None:
    with open(src, "rb") as fi, gzip.open(dst, "wb") as fo:
        shutil.copyfileobj(fi, fo)
