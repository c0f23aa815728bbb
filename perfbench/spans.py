"""Spans around the benchmark's calls into the engine, and the Spark event-log
parser that attributes job, stage and task metrics to them.

Every measured call runs inside a span. With tracing on, the span's id is set
as a Spark local property, so each job the call starts carries it in the
event log; after the session stops, :func:`parse_event_log` reads the log and
:meth:`EventLog.totals` sums the metrics of the jobs under a set of spans.
With tracing off, spans only record times.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


class CpuClock:
    """CPU seconds used so far by this process and the Spark JVM.

    Time the hypervisor steals from the virtual machine is in no process's
    CPU time, so a span's CPU time holds steady where its wall time does not.
    """

    def __init__(self, jvm_pid: int):
        self.stat = f"/proc/{jvm_pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        with open(self.stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # fields 14 and 15 of proc(5), counted from 3 after the command name
        return (int(fields[11]) + int(fields[12])) / self.tick + time.process_time()


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self, spark, run_id: str, enabled: bool, cpu_clock=time.process_time):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.cpu_clock = cpu_clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _tag(self, sid: int | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            SPAN_PROPERTY, None if sid is None else str(sid)
        )

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self._tag(sid)
        rec["start"] = time.time()
        cpu0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["cpu"] = self.cpu_clock() - cpu0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if self.enabled:
                self._tag(self._stack[-1] if self._stack else None)

    def subtree(self, sid: int) -> set[int]:
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(children.get(cur, []))
        return out

    def with_self_time(self) -> list[dict]:
        """Spans with ``self``: duration minus the union of child intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "dur" in s:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if "dur" not in s:
                continue
            covered = union_length(kids.get(s["id"], []))
            out.append({**s, "self": max(0.0, s["dur"] - covered)})
        return out

    def write(self, path: str) -> None:
        """Write every span, with its self time, as one JSON object a line."""
        with open(path, "w") as f:
            for s in self.with_self_time():
                f.write(json.dumps(s) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class TracedSink:
    """Wraps a table sink so each public call the engine makes into it runs in
    a ``sinks.<method>`` span. The engine only sees the sink's own methods."""

    def __init__(self, sink, tracer: Tracer):
        self._sink = sink
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._sink, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def call(*args, **kwargs):
            with self._tracer.span(f"sinks.{name}"):
                return attr(*args, **kwargs)

        return call


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: int = 0
    input_rows: int = 0
    output_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    #: Spark's own stage total of executor run time (stage accumulables).
    acc_run_ms: int | None = None

    @property
    def kind(self) -> str:
        """Layer of the stage: a stage that writes files is the sink's, one
        that scans files is the source's, one that only reads shuffle output
        is the merge calculus' (joins, windows, aggregations)."""
        if self.output_rows:
            return "write"
        if self.input_rows:
            return "scan"
        if self.shuffle_read_bytes:
            return "shuffle"
        return "other"


@dataclass
class JobStats:
    span: int | None
    submit_ms: int
    execution: int | None = None  # SQL execution the job ran for
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    job_union_s: float = 0.0
    last_job_end: float | None = None
    files_read: int = 0
    file_bytes_read: int = 0
    input_rows: int = 0
    scan_task_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_task_s: float = 0.0
    spill_bytes: int = 0
    write_task_s: float = 0.0


class EventLog:
    def __init__(self, jobs: dict[int, JobStats], stages: dict[int, StageStats],
                 scans: dict[int, dict[str, int]]):
        self.jobs = jobs
        self.stages = stages
        #: per SQL execution, the file-scan metrics Spark computes on the
        #: driver ("number of files read", "size of files read"); the tasks'
        #: own input byte counts miss reads made off the task thread
        self.scans = scans
        # a stage belongs to the first job that lists it; later jobs that list
        # it again skipped it (reused shuffle output)
        self.stage_job: dict[int, int] = {}
        for jid in sorted(jobs):
            for st in jobs[jid].stage_ids:
                self.stage_job.setdefault(st, jid)

    def self_check(self) -> list[int]:
        """Stages whose summed task run time differs from Spark's own stage
        total (the ``executorRunTime`` accumulable): empty when the parser
        accounts for every task."""
        return [
            sid for sid, st in self.stages.items()
            if st.acc_run_ms is not None and st.acc_run_ms != st.run_ms
        ]

    def job_ids_for(self, spans: set[int]) -> list[int]:
        return [j for j, js in self.jobs.items() if js.span in spans]

    def totals(self, spans: set[int]) -> Totals:
        t = Totals()
        jids = set(self.job_ids_for(spans))
        t.jobs = len(jids)
        intervals = []
        for j in jids:
            js = self.jobs[j]
            if js.end_ms is not None:
                intervals.append((js.submit_ms / 1e3, js.end_ms / 1e3))
                t.last_job_end = max(t.last_job_end or 0.0, js.end_ms / 1e3)
        t.job_union_s = union_length(intervals)
        for e in {self.jobs[j].execution for j in jids} - {None}:
            scan = self.scans.get(e, {})
            t.files_read += scan.get(FILES_READ, 0)
            t.file_bytes_read += scan.get(FILE_BYTES_READ, 0)
        for sid, st in self.stages.items():
            if self.stage_job.get(sid) not in jids or st.tasks == 0:
                continue
            t.stages += 1
            t.tasks += st.tasks
            t.run_s += st.run_ms / 1e3
            t.shuffle_write_bytes += st.shuffle_write_bytes
            t.shuffle_read_bytes += st.shuffle_read_bytes
            t.spill_bytes += st.spill_bytes
            kind = st.kind
            if kind == "scan":
                t.input_rows += st.input_rows
                t.scan_task_s += st.run_ms / 1e3
            elif kind == "write":
                t.write_task_s += st.run_ms / 1e3
            elif kind == "shuffle":
                t.shuffle_task_s += st.run_ms / 1e3
        return t


def _acc(info: dict, name: str) -> int | None:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a.get("Value", 0))
    return None


FILES_READ = "number of files read"
FILE_BYTES_READ = "size of files read"


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    """Collect accumulator id -> name of the scan metrics in a plan tree."""
    for m in plan.get("metrics", []):
        if m["name"] in (FILES_READ, FILE_BYTES_READ):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def parse_event_log(log_dir: str) -> EventLog:
    """Parse the (single, uncompressed) event log a stopped session left."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    scan_metric: dict[int, str] = {}  # accumulator id -> scan metric name
    scans: dict[int, dict[str, int]] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                execution = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = JobStats(
                    span=int(span) if span is not None else None,
                    submit_ms=ev["Submission Time"],
                    execution=int(execution) if execution is not None else None,
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev["sparkPlanInfo"], scan_metric)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                per_exec = scans.setdefault(ev["executionId"], {})
                for acc_id, value in ev["accumUpdates"]:
                    if acc_id in scan_metric:
                        name = scan_metric[acc_id]
                        per_exec[name] = per_exec.get(name, 0) + int(value)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                st = stages.setdefault(ev["Stage ID"], StageStats())
                st.tasks += 1
                st.run_ms += tm.get("Executor Run Time", 0)
                st.input_rows += tm.get("Input Metrics", {}).get("Records Read", 0)
                st.output_rows += tm.get("Output Metrics", {}).get("Records Written", 0)
                sw = tm.get("Shuffle Write Metrics", {})
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], StageStats())
                st.acc_run_ms = _acc(info, "internal.metrics.executorRunTime")
    return EventLog(jobs, stages, scans)


def jvm_gc_seconds(spark) -> float:
    """Total collection time of the session JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3
