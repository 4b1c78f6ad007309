"""In-memory spans around the program's layers, plus Spark event-log
attribution, for the traced (``--trace 1``) run.

Spans are recorded by wrapping the program's public functions and methods
from the benchmark's side (no change to the program): each wrapper pushes a
span (name, start, end, parent, op id) on entry and pops it on exit.  Spark
jobs are attributed to ops through job groups (one group per op) and to
a layer when their submission time falls inside one of that layer's spans
of the same op.  Everything stays in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field

from stats import union_length


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: str = ""
    error: bool = False
    children: list[int] = field(default_factory=list)


class Tracer:
    """Span recorder for one single-threaded client."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = ""
        self.enabled = False
        self.counters: dict[str, float] = {}

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, op_id=self.op_id))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def end(self, idx: int, error: bool = False) -> None:
        sp = self.spans[idx]
        sp.end = time.time()
        sp.error = error
        popped = self._stack.pop()
        if popped != idx:  # pragma: no cover - wrappers always nest
            raise RuntimeError(f"span stack corrupted: {popped} != {idx}")

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.begin(name) if tracer.enabled else None
                return self

            def __exit__(self, et, ev, tb):
                if self.idx is not None:
                    tracer.end(self.idx, error=et is not None)
                return False

        return _Ctx()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                tracer.end(idx, error=True)
                raise
            tracer.end(idx)
            return out

        return wrapper

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of its interval its children cover."""
        sp = self.spans[idx]
        kids = [(max(self.spans[c].start, sp.start), min(self.spans[c].end, sp.end))
                for c in sp.children]
        return (sp.end - sp.start) - union_length([k for k in kids if k[1] > k[0]])


def patch_program(tracer: Tracer, targets: dict[str, str]) -> None:
    """Wrap every binding of each target in the program's loaded modules.

    ``targets`` maps "module:qualname" (a function or a Class.method) to a
    span name.  Functions imported by name into other modules are rebound
    there too, so calls through any import path are recorded.
    """
    import importlib

    for target, span_name in targets.items():
        mod_name, qual = target.split(":")
        mod = importlib.import_module(mod_name)
        if "." in qual:
            cls_name, meth = qual.split(".")
            cls = getattr(mod, cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, tracer.wrap(span_name, orig))
            continue
        orig = getattr(mod, qual)
        wrapped = tracer.wrap(span_name, orig)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("geocube_spark"):
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)


# ------------------------------------------------------------- event log


@dataclass
class JobStat:
    job_id: int
    group: str
    submitted: float  # epoch seconds
    stages: list[int]
    tasks: int = 0
    cpu_ms: float = 0.0
    sched_delay_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_bytes: int = 0
    python_ms: float = 0.0


def _python_time_ms(accumulables: list[dict]) -> float:
    """Python-worker time of a task ("time to run Python workers", the SQL
    metric of the Arrow/pandas UDF exec nodes, in ms).  Executor CPU time
    counts only the JVM thread, so this is the only record of it."""
    return sum(float(a.get("Update", 0)) for a in accumulables
               if a.get("Name") == "time to run Python workers")


def parse_event_log(log_dir: str) -> list[JobStat]:
    """Jobs (with task metrics summed per job) from the uncompressed,
    non-rolling event log the traced session writes."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, JobStat] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                js = JobStat(ev["Job ID"], props.get("spark.jobGroup.id", ""),
                             ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]))
                jobs[js.job_id] = js
                for s in js.stages:
                    stage_job[s] = js.job_id
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                job.tasks += 1
                run = float(m.get("Executor Run Time", 0))
                job.cpu_ms += float(m.get("Executor CPU Time", 0)) / 1e6
                dur = float(info.get("Finish Time", 0)) - float(info.get("Launch Time", 0))
                job.sched_delay_ms += max(
                    0.0,
                    dur - run - float(m.get("Executor Deserialize Time", 0))
                    - float(m.get("Result Serialization Time", 0))
                    - float(info.get("Getting Result Time", 0) or 0),
                )
                sr = m.get("Shuffle Read Metrics") or {}
                job.shuffle_read += int(sr.get("Remote Bytes Read", 0)) + int(
                    sr.get("Local Bytes Read", 0))
                job.shuffle_write += int((m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0))
                job.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
                job.python_ms += _python_time_ms(info.get("Accumulables") or [])
    return sorted(jobs.values(), key=lambda j: j.job_id)
