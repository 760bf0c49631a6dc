"""Spark event-log parsing and the per-layer metrics of a traced run.

``parse`` reads the JSON-lines event log Spark writes when
``spark.eventLog.enabled`` is set and returns jobs (submit/end times in
epoch seconds, job group, task totals).  ``layer_metrics`` joins those jobs
to the benchmark's spans (``spans.Tracer.spans``) through the job group:
a job belongs to the span whose id is its group, and through that span to
an operation and a layer.
"""
from __future__ import annotations

import json
from dataclasses import dataclass, field

from stats import median

_MB = 1024.0 * 1024.0


@dataclass
class Job:
    submit: float
    end: float | None = None
    group: str | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    stages_run: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    skew: float = 1.0          # slowest / median task of its longest stage
    longest_stage_s: float = 0.0


def parse(lines) -> dict[int, Job]:
    """Jobs by id from an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = {}
    stage_span: dict[int, float] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job = Job(submit=ev["Submission Time"] / 1000.0,
                      group=props.get("spark.jobGroup.id"),
                      stages=list(ev.get("Stage IDs", [])))
            jobs[jid] = job
            for sid in job.stages:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_job and info.get("Submission Time") and info.get("Completion Time"):
                jobs[stage_job[sid]].stages_run += 1
                stage_span[sid] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_job:
                continue
            job = jobs[stage_job[sid]]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            job.tasks += 1
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                job.failed_tasks += 1
            stage_tasks.setdefault(sid, []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0)
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            inp = m.get("Input Metrics") or {}
            job.input_bytes += inp.get("Bytes Read", 0)
            job.input_rows += inp.get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for sid, durs in stage_tasks.items():
        job = jobs[stage_job[sid]]
        span = stage_span.get(sid, max(durs))
        if span >= job.longest_stage_s:
            job.longest_stage_s = span
            mid = median(durs)
            job.skew = max(durs) / mid if mid > 0 else 1.0
    return jobs


def read(path: str) -> dict[int, Job]:
    with open(path) as f:
        return parse(f)


# ------------------------------------------------------------------ spans
def _union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans) -> list[float]:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sid, _, _, t0, t1, parent, _ in spans:
        if parent is not None:
            kids.setdefault(parent, []).append((t0, t1))
    return [(t1 - t0) - _union(kids.get(sid, ())) for sid, _, _, t0, t1, _, _ in spans]


def _clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def _under(by_id, sid, layer: str) -> bool:
    """Whether span ``sid`` or one of its ancestors has the given layer."""
    while sid is not None:
        if by_id[sid][2] == layer:
            return True
        sid = by_id[sid][5]
    return False


def _job_spans(spans, jobs: dict[int, Job]) -> list[tuple[Job, list]]:
    """(job, span) for every job tagged with one of the given spans."""
    by_id = {s[0]: s for s in spans}
    out = []
    for job in jobs.values():
        if job.group is not None and job.group.isdigit() and int(job.group) in by_id:
            if job.end is None:
                job.end = job.submit
            out.append((job, by_id[int(job.group)]))
    return out


def _build_per_op(spans, jobs: dict[int, Job]) -> dict[int, list[float]]:
    """Per operation (root span id): [jobs fired outside any action,
    collection self time outside any action]."""
    by_id = {s[0]: s for s in spans}
    out = {s[0]: [0.0, 0.0] for s in spans if s[2] == "op"}
    for _, span in _job_spans(spans, jobs):
        if span[6] in out and not _under(by_id, span[0], "action"):
            out[span[6]][0] += 1
    for s, t in zip(spans, self_times(spans)):
        if s[2] == "collection" and s[6] in out and not _under(by_id, s[0], "action"):
            out[s[6]][1] += t
    return out


def build_by_op(spans, jobs: dict[int, Job]) -> dict[str, tuple[float, float]]:
    """Per operation name: (jobs fired before the action, build self time),
    each averaged over that operation's runs."""
    names = {s[0]: s[1] for s in spans if s[2] == "op"}
    sums: dict[str, list[float]] = {}
    for op, (n_jobs, build_s) in _build_per_op(spans, jobs).items():
        acc = sums.setdefault(names[op], [0, 0.0, 0.0])
        acc[0] += 1
        acc[1] += n_jobs
        acc[2] += build_s
    return {n: (j / runs, b / runs) for n, (runs, j, b) in sums.items()}


def layer_metrics(spans, jobs: dict[int, Job], cores: int) -> dict[str, float]:
    """Per-layer metrics of the traced operations (root spans of layer "op").

    Times and counts are per operation, ``action_jobs``/``boundary_s`` per
    action; ratios are over the whole traced phase."""
    selft = self_times(spans)
    by_id = {s[0]: s for s in spans}

    ops = [s for s in spans if s[2] == "op"]
    actions = [s for s in spans if s[2] == "action" and not _under(by_id, s[5], "action")]
    n_ops, n_act = max(len(ops), 1), max(len(actions), 1)
    layer_self: dict[str, float] = {}
    for s, t in zip(spans, selft):
        layer_self[s[2]] = layer_self.get(s[2], 0.0) + t
    build = list(_build_per_op(spans, jobs).values())
    build_jobs = sum(b[0] for b in build)

    mine = _job_spans(spans, jobs)
    layer_jobs: dict[str, int] = {}
    for _, span in mine:
        layer_jobs[span[2]] = layer_jobs.get(span[2], 0) + 1
    job_iv = [(j.submit, j.end) for j, _ in mine]

    def uncovered(span):
        covered = [c for c in (_clip(iv, span[3], span[4]) for iv in job_iv) if c]
        return (span[4] - span[3]) - _union(covered)

    wall = sum(s[4] - s[3] for s in ops)
    tot = lambda attr: sum(getattr(j, attr) for j, _ in mine)  # noqa: E731
    op_skew = {}
    for j, span in mine:
        cur = op_skew.get(span[6])
        if cur is None or j.longest_stage_s > cur[0]:
            op_skew[span[6]] = (j.longest_stage_s, j.skew)
    return {
        "sources.call_s": layer_self.get("sources", 0.0) / n_ops,
        "sources.input_mb": tot("input_bytes") / _MB / n_ops,
        "sources.input_rows": tot("input_rows") / n_ops,
        "collection.build_s": sum(b[1] for b in build) / n_ops,
        "collection.build_jobs": build_jobs / n_ops,
        "collection.action_jobs": (len(mine) - build_jobs) / n_act,
        "collection.boundary_s": sum(uncovered(a) for a in actions) / n_act,
        "operators.call_s": layer_self.get("operators", 0.0) / n_ops,
        "operators.jobs": layer_jobs.get("operators", 0) / n_ops,
        "functions.call_s": layer_self.get("functions", 0.0) / n_ops,
        "functions.jobs": layer_jobs.get("functions", 0) / n_ops,
        "exec.jobs": len(mine) / n_ops,
        "exec.stages": tot("stages_run") / n_ops,
        "exec.tasks": tot("tasks") / n_ops,
        "exec.failed_tasks": float(tot("failed_tasks")),
        "exec.driver_gap_s": sum(uncovered(o) for o in ops) / n_ops,
        "exec.executor_run_s": tot("run_s") / n_ops,
        "exec.executor_cpu_s": tot("cpu_s") / n_ops,
        "exec.gc_s": tot("gc_s") / n_ops,
        "exec.shuffle_write_mb": tot("shuffle_write_bytes") / _MB / n_ops,
        "exec.shuffle_read_mb": tot("shuffle_read_bytes") / _MB / n_ops,
        "exec.spill_mb": tot("spill_bytes") / _MB / n_ops,
        "exec.output_mb": tot("output_bytes") / _MB / n_ops,
        "exec.core_busy_ratio": tot("run_s") / (wall * cores) if wall > 0 else 0.0,
        "exec.task_skew": median([v[1] for v in op_skew.values()]) if op_skew else 1.0,
    }
