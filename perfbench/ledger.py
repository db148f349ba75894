"""The per-layer ledger of a traced run, measured from outside the engine.

Two independent sources of Spark's own counters:

- ``Tracer`` wraps each query phase (construct, execute) in a job group
  and, once the listener bus has drained, reads the status tracker for
  the jobs the phase ran. Job ids are dense and allocated in order, so
  the jobs of a phase are exactly the ids past the previous phase's
  last one; this also counts micro-batch jobs, which Structured
  Streaming runs under its own job group.
- ``read_event_log`` parses the uncompressed, non-rolling event log the
  session writes: per-task CPU, run time, GC, shuffle, spill and I/O,
  job submit/end times, and the StreamingQueryListener progress events
  (logged for every session of the application).

``pass_ledger`` joins the two for one timed pass. The status tracker's
job count and the event log's must agree for every phase; a mismatch
raises ``LedgerError``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

# families whose per-family wall and task CPU the ledger reports
FAMILIES = (
    "text", "index_retrieval", "dedup", "text_quality", "graph",
    "relational", "timeseries", "streaming", "sources",
)


class LedgerError(RuntimeError):
    pass


class Phase:
    __slots__ = ("pass_no", "query", "kind", "start_ms", "end_ms", "wall_s",
                 "jobs", "stages", "tasks")

    def __init__(self, pass_no, query, kind):
        self.pass_no, self.query, self.kind = pass_no, query, kind
        self.jobs: list[int] = []
        self.stages = self.tasks = 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._bus = self.sc._jsc.sc().listenerBus()
        self._tracker = self.sc.statusTracker()
        self._next_job = 0
        self.phases: list[Phase] = []

    def _new_jobs(self) -> list[int]:
        self._bus.waitUntilEmpty(120_000)
        jobs = []
        while self._tracker.getJobInfo(self._next_job) is not None:
            jobs.append(self._next_job)
            self._next_job += 1
        return jobs

    def skip(self) -> None:
        """Forget the jobs run since the last phase (set-up work)."""
        self._new_jobs()

    @contextmanager
    def phase(self, pass_no: int, query: str, kind: str):
        ph = Phase(pass_no, query, kind)
        group = f"perfbench/{pass_no}/{query}/{kind}"
        self.sc.setJobGroup(group, group)
        ph.start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ph.wall_s = time.perf_counter() - t0
            ph.end_ms = time.time() * 1000.0
            self.sc._jsc.clearJobGroup()
            ph.jobs = self._new_jobs()
            stages = set()
            for j in ph.jobs:
                stages.update(self._tracker.getJobInfo(j).stageIds)
            for s in stages:
                info = self._tracker.getStageInfo(s)
                if info is not None and info.numCompletedTasks > 0:
                    ph.stages += 1
                    ph.tasks += info.numCompletedTasks
            self.phases.append(ph)


_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
# task metrics summed per job
_TASK_SUMS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_write", "shuffle_read", "spill",
              "input_bytes", "input_rows", "scan_tasks", "output_bytes")


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def read_event_log(path: str) -> dict:
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, dict] = {}
    progress: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    continue
                m = ev["Task Metrics"]
                agg = stage_tasks.setdefault(ev["Stage ID"], dict.fromkeys(_TASK_SUMS, 0))
                rd, inp = m["Shuffle Read Metrics"], m["Input Metrics"]
                agg["run_ms"] += m["Executor Run Time"]
                agg["cpu_ns"] += m["Executor CPU Time"]
                agg["gc_ms"] += m["JVM GC Time"]
                agg["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                agg["shuffle_read"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
                agg["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                agg["input_bytes"] += inp["Bytes Read"]
                agg["input_rows"] += inp["Records Read"]
                agg["scan_tasks"] += inp["Bytes Read"] > 0 or inp["Records Read"] > 0
                agg["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            elif kind == _PROGRESS:
                p = ev["progress"]
                progress.append({
                    "ts_ms": _epoch_ms(p["timestamp"]),
                    "trigger_ms": p["durationMs"].get("triggerExecution", 0),
                    "commit_ms": p["durationMs"].get("commitOffsets", 0)
                    + p["durationMs"].get("walCommit", 0),
                })
    # an executed stage belongs to the lowest job that lists it; later
    # jobs that list it again skipped it
    stage_job: dict[int, int] = {}
    for j in sorted(jobs):
        for s in jobs[j]["stages"]:
            stage_job.setdefault(s, j)
    job_sums: dict[int, dict] = {}
    for s, agg in stage_tasks.items():
        sums = job_sums.setdefault(stage_job[s], dict.fromkeys(_TASK_SUMS, 0))
        for k in _TASK_SUMS:
            sums[k] += agg[k]
    return {"jobs": jobs, "job_sums": job_sums, "progress": progress}


def _covered_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


def check_consistency(phases: list[Phase], log: dict) -> None:
    """Each phase's status-tracker jobs must be the event log's jobs
    submitted inside the phase's wall-clock window."""
    submits = sorted((j["submit"], jid) for jid, j in log["jobs"].items())
    for ph in phases:
        logged = [jid for t, jid in submits if ph.start_ms - 1 <= t <= ph.end_ms + 1]
        if sorted(logged) != ph.jobs:
            raise LedgerError(
                f"pass {ph.pass_no} {ph.query} {ph.kind}: status tracker saw jobs "
                f"{ph.jobs}, event log {logged}"
            )


def pass_ledger(phases: list[Phase], log: dict, family_of: dict[str, str], cores: int) -> dict:
    """Per-layer numbers for the phases of one timed pass.

    The pass's wall time here is the sum of its phases' wall times, and
    job spans count only inside their phase's window, so the tracer's
    own work between phases (bus drains, status polling) falls outside
    ``spark.driver_gap_s`` and the ``spark.slot_busy_frac`` denominator.
    """
    led = dict.fromkeys(("construct_s", "execute_s", "construct_jobs", "jobs", "stages",
                         "tasks", "stream_output_bytes") + _TASK_SUMS, 0)
    fam_wall = dict.fromkeys(FAMILIES, 0.0)
    fam_cpu_ns = dict.fromkeys(FAMILIES, 0)
    busy_ms = 0.0
    progress = []
    for ph in phases:
        fam = family_of.get(ph.query)
        led["construct_s" if ph.kind == "construct" else "execute_s"] += ph.wall_s
        if ph.kind == "construct":
            led["construct_jobs"] += len(ph.jobs)
        led["jobs"] += len(ph.jobs)
        led["stages"] += ph.stages
        led["tasks"] += ph.tasks
        if fam in fam_wall:
            fam_wall[fam] += ph.wall_s
        jobs = [log["jobs"][j] for j in ph.jobs]
        busy_ms += _covered_ms([(j["submit"], j.get("end", j["submit"])) for j in jobs],
                               ph.start_ms, ph.end_ms)
        for j in ph.jobs:
            sums = log["job_sums"].get(j)
            if sums is None:  # a job whose stages were all skipped
                continue
            for k in _TASK_SUMS:
                led[k] += sums[k]
            if fam in fam_cpu_ns:
                fam_cpu_ns[fam] += sums["cpu_ns"]
            if fam == "streaming":
                led["stream_output_bytes"] += sums["output_bytes"]
        for p in log["progress"]:
            if ph.start_ms - 1 <= p["ts_ms"] <= ph.end_ms + 1:
                progress.append(p)
    wall_s = led["construct_s"] + led["execute_s"]
    task_run_s = led["run_ms"] / 1000.0
    out = {
        "workloads.construct_s": led["construct_s"],
        "workloads.execute_s": led["execute_s"],
        "workloads.construct_jobs": led["construct_jobs"],
        "sources.input_bytes": led["input_bytes"],
        "sources.input_rows": led["input_rows"],
        "sources.scan_tasks": led["scan_tasks"],
        "spark.jobs": led["jobs"],
        "spark.stages": led["stages"],
        "spark.tasks": led["tasks"],
        "spark.driver_gap_s": max(0.0, wall_s - busy_ms / 1000.0),
        "spark.task_run_s": task_run_s,
        "spark.task_cpu_s": led["cpu_ns"] / 1e9,
        "spark.slot_busy_frac": task_run_s / (wall_s * cores),
        "spark.shuffle_write_bytes": led["shuffle_write"],
        "spark.shuffle_read_bytes": led["shuffle_read"],
        "spark.spill_bytes": led["spill"],
        "spark.gc_s": led["gc_ms"] / 1000.0,
        "streaming.batches": len(progress),
        "streaming.batch_p50_s": (
            statistics.median(p["trigger_ms"] for p in progress) / 1000.0 if progress else 0.0
        ),
        "streaming.commit_s": sum(p["commit_ms"] for p in progress) / 1000.0,
        "streaming.output_bytes": led["stream_output_bytes"],
    }
    for fam in FAMILIES:
        out[f"operators.{fam}.wall_s"] = fam_wall[fam]
        out[f"operators.{fam}.task_cpu_s"] = fam_cpu_ns[fam] / 1e9
    return out
