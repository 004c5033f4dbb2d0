"""Tracing for the benchmark's traced run: spans recorded around calls
into each engine layer, plus Spark's own event log attributed to them.

Spans are kept in memory and written into the report when the run
ends. Each span sets
the Spark job description to its id while it is open, so every job the
engine submits from the calling thread names the span that caused it.
Jobs submitted from other threads (the dictionary build runs its writes
in a thread pool) carry no such description; they are attributed to
the innermost span open when they were submitted.

The wrappers patch the engine's modules for the duration of a ``with``
block and restore them afterwards; the engine's files are not edited.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

#: job-description prefix marking a job as caused by a benchmark span
JOB_PREFIX = "kgbench-span:"

#: pipeline stage → the engine layer (module) whose plan it executes
STAGE_LAYER = {
    "formatted": "link_multi",
    "canonical": "canonicalize",
    "triples": "triples",
    "detected": "mention_detect",
}

#: span names that are layers; other spans roll up into their nearest
#: layer ancestor (``canonicalize.cc`` is part of ``canonicalize``)
LAYERS = (
    "session",
    "dictionary_build",
    "mention_detect",
    "link_multi",
    "canonicalize",
    "triples",
    "lineage",
)

#: layers whose Spark execution metrics are reported
SPARK_LAYERS = ("dictionary_build", "mention_detect", "link_multi", "canonicalize", "triples")


class Tracer:
    """Span recorder. ``run`` tags every span opened until it changes,
    so spans of one pipeline run share an identifier."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run = ""
        self.sc = None  # SparkContext whose job description the spans set

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.sc
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"{JOB_PREFIX}{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc:
                sc.setJobDescription(prev)


@contextmanager
def wrapped(tracer: Tracer):
    """Patch the engine's layer entry points to record spans:
    ``PipelineRun.materialize`` (one span per stage, named by layer),
    ``PipelineRun.flush_lineage``, ``link_mentions_multi`` and
    ``connected_components``."""
    from ontology_matcher_spark.operators import canonicalize, link_multi
    from ontology_matcher_spark.plans import pipeline

    orig_mat = pipeline.PipelineRun.materialize
    orig_flush = pipeline.PipelineRun.flush_lineage
    orig_link = link_multi.link_mentions_multi
    orig_cc = canonicalize.connected_components

    def materialize(self, name, *args, **kwargs):
        layer = STAGE_LAYER.get(name, f"stage.{name}")
        path = os.path.join(self.stage_dir, name)
        with tracer.span(layer, stage=name, path=path):
            return orig_mat(self, name, *args, **kwargs)

    def flush_lineage(self):
        with tracer.span("lineage"):
            return orig_flush(self)

    def link_mentions_multi(*args, **kwargs):
        with tracer.span("link_multi.plan"):
            return orig_link(*args, **kwargs)

    def connected_components(*args, **kwargs):
        with tracer.span("canonicalize.cc"):
            return orig_cc(*args, **kwargs)

    pipeline.PipelineRun.materialize = materialize
    pipeline.PipelineRun.flush_lineage = flush_lineage
    link_multi.link_mentions_multi = link_mentions_multi
    canonicalize.connected_components = connected_components
    try:
        yield tracer
    finally:
        pipeline.PipelineRun.materialize = orig_mat
        pipeline.PipelineRun.flush_lineage = orig_flush
        link_multi.link_mentions_multi = orig_link
        canonicalize.connected_components = orig_cc


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> list[list[dict]]:
    """The events of every (rolled, zstd) event-log file under
    ``log_dir``: one list per file, since each SparkContext numbers its
    jobs and stages from 0."""
    import pyarrow as pa

    out: list[list[dict]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            data = f.read()
        out.append([json.loads(line) for line in data.decode("utf-8").splitlines() if line])
    return out


def _jobs_and_tasks(logs: list[list[dict]]):
    """Jobs, stage → job and tasks per stage, keyed (file, id)."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    tasks: dict[tuple, list[dict]] = defaultdict(list)
    for fi, events in enumerate(logs):
        for e in events:
            _take(fi, e, jobs, stage_job, tasks)
    return jobs, stage_job, tasks


def _take(fi: int, e: dict, jobs: dict, stage_job: dict, tasks: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        jid = (fi, e["Job ID"])
        jobs[jid] = {
            "id": jid,
            "start": e["Submission Time"] / 1000.0,
            "end": None,
            "desc": (e.get("Properties") or {}).get("spark.job.description") or "",
        }
        for sid in e["Stage IDs"]:
            stage_job.setdefault((fi, sid), jid)  # tasks run in the first job listing a stage
    elif kind == "SparkListenerJobEnd":
        jid = (fi, e["Job ID"])
        if jid in jobs:
            jobs[jid]["end"] = e["Completion Time"] / 1000.0
    elif kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        tasks[(fi, e["Stage ID"])].append(
            {
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
            }
        )


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def attribute(spans: list[dict], logs: list[list[dict]]) -> dict:
    """Fill in per-span metrics from the event log.

    For every span: ``wall_s``; ``self_s`` (wall minus child spans);
    ``driver_s`` (wall with no Spark job running); ``io_tail_s`` (from
    the end of the span's last job to the span's end: output commit,
    read-back listing and manifest). For every layer span, the Spark
    task metrics of the jobs its subtree caused. Returns counts of how
    the jobs were attributed."""
    jobs, stage_job, tasks = _jobs_and_tasks(logs)
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    n_desc = n_time = n_none = 0
    job_span: dict[tuple, int] = {}
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
        if j["desc"].startswith(JOB_PREFIX):
            sid = int(j["desc"][len(JOB_PREFIX):])
            if sid in by_id:
                job_span[j["id"]] = sid
                n_desc += 1
                continue
        inside = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        if inside:  # innermost open span: the latest started
            job_span[j["id"]] = max(inside, key=lambda s: s["start"])["id"]
            n_time += 1
        else:
            n_none += 1

    def layer_of(sid: int | None) -> int | None:
        while sid is not None and by_id[sid]["name"] not in LAYERS:
            sid = by_id[sid]["parent"]
        return sid

    layer_tasks: dict[int, list[tuple[tuple, dict]]] = defaultdict(list)
    for stage, ts in tasks.items():
        jid = stage_job.get(stage)
        owner = layer_of(job_span.get(jid)) if jid is not None else None
        if owner is not None:
            layer_tasks[owner].extend((stage, t) for t in ts)

    for s in spans:
        s["wall_s"] = s["end"] - s["start"]
        s["self_s"] = s["wall_s"] - sum(c["end"] - c["start"] for c in children[s["id"]])
        inside = [
            (max(j["start"], s["start"]), min(j["end"], s["end"]))
            for j in jobs.values()
            if j["end"] > s["start"] and j["start"] < s["end"]
        ]
        s["driver_s"] = s["wall_s"] - _union_len(inside)
        last_end = max((e for _, e in inside), default=None)
        s["io_tail_s"] = s["end"] - last_end if last_end is not None else 0.0
        if s["name"] in LAYERS:
            s["spark"] = _task_summary(layer_tasks.get(s["id"], []))
    return {"jobs": len(jobs), "by_description": n_desc, "by_time": n_time, "unattributed": n_none}


def _task_summary(tasks: list[tuple[tuple, dict]]) -> dict:
    """Sums of task metrics; ``task_skew`` is max / median task time of
    the stage with the most task time (1.0 when it has one task)."""
    per_stage: dict[tuple, list[float]] = defaultdict(list)
    for stage, t in tasks:
        per_stage[stage].append(t["dur_s"])
    skew = 0.0
    if per_stage:
        durs = max(per_stage.values(), key=sum)
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    ts = [t for _, t in tasks]
    return {
        "executor_run_s": sum(t["run_s"] for t in ts),
        "executor_cpu_s": sum(t["cpu_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
        "tasks": len(ts),
        "task_skew": skew,
    }
