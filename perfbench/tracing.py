"""Tracing for the benchmark's traced runs.

Three sources, all owned by the benchmark:

- ``Tracer``: spans around calls into the engine's public functions,
  installed by patching module attributes from outside the package.
  A span records name, start, end, parent and op id; spans stay in
  memory until the run ends.
- the Spark event log (enabled through ``build_session(extra_conf=...)``),
  parsed after the session stops, for job, stage, task, shuffle and CPU
  counts per op;
- ``ProgressListener``: a ``StreamingQueryListener`` that keeps every
  micro-batch's ``durationMs`` phases.

``self_times`` splits an op's wall time over its spans so that the parts
always add up to the op's wall time: at each instant the time goes to
the innermost open spans, shared equally when several run at once
(the two streaming queries' ``foreachBatch`` calls overlap).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None


@dataclass
class Op:
    """One traced unit of work (a replay, a read or a query execution)."""

    op_id: str
    kind: str
    start: float
    end: float = 0.0
    root: int = -1


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._current: Op | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self.enabled = True

    # -- spans ----------------------------------------------------------
    def _open(self, name: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        op = self._current
        parent = stack[-1] if stack else (op.root if op else None)
        with self._lock:
            span = Span(len(self.spans), name, time.time(), None, parent,
                        op.op_id if op else None)
            self.spans.append(span)
        stack.append(span.sid)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._local.stack.pop()

    def begin_op(self, op_id: str, kind: str) -> Op:
        op = Op(op_id, kind, time.time())
        self._current = op
        op.root = self._open(f"op.{kind}").sid
        self.ops.append(op)
        return op

    def end_op(self, op: Op) -> None:
        self._close(self.spans[op.root])
        op.end = self.spans[op.root].end
        self._current = None

    # -- wrappers ---------------------------------------------------------
    def wrap(self, owner: object, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper, and every
        other binding of the same function in the engine's modules (names
        imported with ``from x import f``). ``label(args)`` may add a
        suffix to the span name, e.g. the sink a method was called on."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            span = tracer._open(f"{name}[{label(args)}]" if label else name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer._close(span)

        targets = [(owner, attr)]
        if not isinstance(owner, type):
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "")
                if mod is owner or not (
                    mname.startswith("cassandra_iot_pipeline_spark")
                    or mname == "__spark_entry__"
                ):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is original:
                        targets.append((mod, key))
        for obj, key in targets:
            setattr(obj, key, traced)

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def self_times(spans: list[Span], op: Op) -> dict[str, float]:
    """Exclusive seconds per span name inside ``op``; sums to its wall."""
    mine = [s for s in spans if s.op == op.op_id and s.end is not None]
    t0, t1 = op.start, op.end
    cuts = sorted({t0, t1} | {min(max(x, t0), t1) for s in mine for x in (s.start, s.end)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        active = [s for s in mine if s.start <= mid < s.end]
        parents = {s.parent for s in active}
        leaves = [s for s in active if s.sid not in parents] or active
        for s in leaves:
            out[s.name] = out.get(s.name, 0.0) + (b - a) / len(leaves)
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress as a dict (listener-bus thread)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        row = json.loads(event.progress.json)
        with self._lock:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.batches)


# -- Spark event log ------------------------------------------------------
def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks from the (uncompressed) event log of a stopped app."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: set[int] = set()
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "tags": props.get("spark.job.tags", ""),
                        "stages": list(ev.get("Stage IDs") or []),
                    }
                    for sid in jobs[jid]["stages"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                    })
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages, "tasks": tasks}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute_jobs(log: dict, ops: list[Op]) -> dict[str, dict]:
    """Spark counters per op. A job belongs to the op whose ``op=<id>``
    tag it carries; untagged jobs (streaming micro-batch threads do not
    inherit the tag) belong to the op open when they were submitted."""
    by_id = {op.op_id: op for op in ops}
    out = {op.op_id: {"jobs": 0, "tagged_jobs": 0, "stages": 0, "tasks": 0,
                      "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
                      "input_bytes": 0, "output_bytes": 0, "shuffle_bytes": 0,
                      "job_span_s": 0.0, "_spans": []} for op in ops}
    job_op: dict[int, str] = {}
    for jid, job in log["jobs"].items():
        owner = None
        for tag in job["tags"].split(","):
            if tag.startswith("op=") and tag[3:] in by_id:
                owner = tag[3:]
        tagged = owner is not None
        if owner is None:
            for op in ops:
                if op.start <= job["start"] <= op.end:
                    owner = op.op_id
                    break
        if owner is None:
            continue
        job_op[jid] = owner
        row = out[owner]
        row["jobs"] += 1
        row["tagged_jobs"] += int(tagged)
        row["stages"] += sum(1 for s in job["stages"] if s in log["stages"])
        op = by_id[owner]
        end = job["end"] if job["end"] is not None else op.end
        row["_spans"].append((max(job["start"], op.start), min(end, op.end)))
    for task in log["tasks"]:
        owner = job_op.get(log["stage_job"].get(task["stage"]))
        if owner is None:
            continue
        row = out[owner]
        row["tasks"] += 1
        for key in ("run_ms", "cpu_ms", "gc_ms", "input_bytes", "output_bytes",
                    "shuffle_bytes"):
            row[key] += task[key]
    for row in out.values():
        row["job_span_s"] = _union([s for s in row.pop("_spans") if s[1] > s[0]])
    return out


# -- host health ------------------------------------------------------------
def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat (user .. steal), in ticks."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:9]
    return [int(x) for x in fields]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def calibration_s(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a host-speed probe recorded
    next to each run, never used to adjust or drop one."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t
