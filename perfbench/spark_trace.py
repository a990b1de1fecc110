"""Attach Spark job and stage counts to benchmark spans.

Each span runs under its own Spark job group (``SparkContext.setJobGroup``).
After the timed region the status store, which works with
``spark.ui.enabled=false``, is read once as JSON (the REST API's Jackson
encoding: job groups, stage ids, epoch-millisecond submission and
completion times, per-stage executor CPU, shuffle and spill counters).
"""

from __future__ import annotations

import json

from measure import Span, children_of, union_length


def job_group_hooks(sc):
    """``(on_enter, on_exit)`` for :class:`measure.Tracer`: the jobs a span
    starts carry its id as their job group; leaving it restores the parent's."""

    def on_enter(sp: Span) -> None:
        sc.setJobGroup(sp.id, sp.name)

    def on_exit(sp: Span, parent: Span | None) -> None:
        if parent is not None:
            sc.setJobGroup(parent.id, parent.name)
        else:
            sc._jsc.clearJobGroup()

    return on_enter, on_exit


def fetch_status(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the status store holds, decoded from JSON."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(
        getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
        "MODULE$",
    )
    mapper.registerModule(scala_module)
    store = sc._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    by_id: dict[int, dict] = {}
    for st in stages:  # keep the latest attempt of each stage
        if st["stageId"] not in by_id or st["attemptId"] > by_id[st["stageId"]]["attemptId"]:
            by_id[st["stageId"]] = st
    return jobs, by_id


class JobIndex:
    """Which spans' jobs are which, and the stage counters they own.

    A job belongs to the span named by its job group; a job with no group
    goes to the innermost span whose interval holds its submission time.
    A stage belongs to the lowest-numbered job that lists it, so a shuffle
    stage reused (skipped) by a later job is not counted twice."""

    def __init__(self, spans: list[Span], jobs: list[dict], stages: dict[int, dict]):
        self.spans = {sp.id: sp for sp in spans}
        self.kids = children_of(spans)
        self.stages = stages
        self.all_jobs = [j for j in jobs if j.get("submissionTime") is not None]
        self.jobs_of: dict[str, list[dict]] = {}
        by_length = sorted(spans, key=lambda s: s.wall)
        for job in self.all_jobs:
            owner = job.get("jobGroup")
            if owner not in self.spans:
                t = job["submissionTime"] / 1000.0
                owner = next((s.id for s in by_length if s.start <= t <= s.end), None)
            if owner is not None:
                self.jobs_of.setdefault(owner, []).append(job)
        self.stage_owner: dict[int, int] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in job.get("stageIds", []):
                self.stage_owner.setdefault(sid, job["jobId"])

    def subtree(self, span_id: str) -> list[str]:
        out, frontier = [], [span_id]
        while frontier:
            sid = frontier.pop()
            out.append(sid)
            frontier.extend(c.id for c in self.kids.get(sid, []))
        return out

    def jobs(self, span_id: str) -> list[dict]:
        """The jobs of a span and of every span under it."""
        return [j for sid in self.subtree(span_id) for j in self.jobs_of.get(sid, [])]

    def stats(self, span_id: str) -> dict:
        """Counts for one span and everything under it."""
        sp = self.spans[span_id]
        return self.job_stats(self.jobs(span_id), sp.start, sp.end)

    def window(self, start: float, end: float) -> dict:
        """Counts for every job submitted in ``[start, end]`` (epoch s)."""
        jobs = [j for j in self.all_jobs if start <= j["submissionTime"] / 1000.0 <= end]
        return self.job_stats(jobs, start, end)

    def job_stats(self, jobs: list[dict], start: float, end: float) -> dict:
        intervals = [
            (j["submissionTime"] / 1000.0,
             (j.get("completionTime") or j["submissionTime"]) / 1000.0)
            for j in jobs
        ]
        in_jobs = union_length(intervals, start, end)
        first_job = min((s for s, _ in intervals), default=end)
        owned = [
            self.stages[sid]
            for j in jobs for sid in j.get("stageIds", [])
            if sid in self.stages and self.stage_owner.get(sid) == j["jobId"]
        ]
        ran = [st for st in owned if st["numCompleteTasks"] > 0]
        return {
            "wall_s": end - start,
            "jobs": len(jobs),
            "stages": len(ran),
            "in_jobs_s": in_jobs,
            "driver_s": end - start - in_jobs,
            "before_first_job_s": max(0.0, min(first_job, end) - start),
            "executor_cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
            "executor_run_s": sum(st["executorRunTime"] for st in ran) / 1e3,
            "executor_gc_s": sum(st["jvmGcTime"] for st in ran) / 1e3,
            "tasks": sum(st["numCompleteTasks"] for st in ran),
            "input_bytes": sum(st["inputBytes"] for st in ran),
            "shuffle_bytes": sum(st["shuffleWriteBytes"] for st in ran),
            "spill_bytes": sum(st["diskBytesSpilled"] for st in ran),
        }
