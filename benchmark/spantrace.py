"""Per-layer trace: spans taken around calls into the engine's layers,
joined with Spark's event log.

A span is opened from the benchmark's own code around a call into one
layer (a pipeline stage, a contract leaf). While it is open, the Spark
job description is ``bench-span:<id>``, so every job, stage and task the
call launches can be attributed to it from the event log afterwards.

Self time of a span is its duration minus the part its child spans cover.
Within a span's self time, ``driver_s`` is the part no Spark job of that
span covers (analysis, planning, codegen, Python-side driver work), and
the task metrics of its jobs give executor time, tasks, shuffle, spill
and the bytes crossing the JVM <-> Python worker boundary.

The per-write lineage rescan of ``StageCheckpointer.run_stage`` (a
``collect`` issued from ``checkpoint.py``) runs inside a stage's span;
its job time is moved from the stage's layer to ``checkpoint``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PREFIX = "bench-span:"
ROOT_LAYER = "unattributed"

LAYERS = (
    "normalize", "stats", "blocking", "pairs", "cluster", "resolve",
    "learning", "param_learning", "checkpoint", "pipeline",
    "ops.dedup", "ops.simsearch", "ops.textstats",
)

# (stage-name prefix, layer); first match wins, so exact names go first
_STAGE_LAYERS = (
    ("s1_mentions", "normalize"),
    ("s1_surfaces", "pairs"),
    ("s2_", "stats"),
    ("s3_", "blocking"),
    ("s4_", "pairs"),
    ("s6_", "cluster"),
    ("s5_candidates", "resolve"),
    ("s5_assignments", "resolve"),
    ("s5_weights", "learning"),
    ("s5_param_tables", "param_learning"),
)

_LEAF_LAYERS = (
    ("dedup_", "ops.dedup"),
    ("ann_", "ops.simsearch"),
    ("text_", "ops.textstats"),
    ("stat_", "stats"),
)


def _match(name: str, table: tuple[tuple[str, str], ...]) -> str:
    for prefix, layer in table:
        if name.startswith(prefix):
            return layer
    raise KeyError(f"no layer for {name!r}")


def stage_layer(stage: str) -> str:
    """Layer of a ``run_pipeline`` checkpoint stage."""
    return _match(stage, _STAGE_LAYERS)


def leaf_layer(leaf: str) -> str:
    """Layer of a contract query, by its family prefix."""
    return _match(leaf, _LEAF_LAYERS)


def is_rescan(call_site: str | None) -> bool:
    """The checkpoint's lineage rescan: a collect issued from checkpoint.py."""
    return bool(call_site) and call_site.startswith("collect at ") and (
        "checkpoint.py:" in call_site
    )


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    """Records spans in memory. ``sc`` (a SparkContext) is optional so the
    span arithmetic can be used without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []

    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                None if span is None else f"{SPAN_PREFIX}{span.sid}"
            )

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, time.time(),
                 parent=None if parent is None else parent.sid)
        self.spans.append(s)
        self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(parent)


# ---------------------------------------------------------------------------
# interval arithmetic (seconds since the epoch)
# ---------------------------------------------------------------------------

def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def subtract(base, cut) -> list[tuple[float, float]]:
    """``base`` minus ``cut``, both lists of intervals."""
    out = []
    cut = union(cut)
    for a, b in union(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def intersect(x, y) -> list[tuple[float, float]]:
    return subtract(x, subtract(x, y))


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Each span's interval minus those of its direct children."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: subtract([(s.start, s.end)], kids[s.sid]) for s in spans}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    span: int | None
    rescan: bool
    start: float
    end: float = 0.0


@dataclass
class StageTotals:
    span: int | None = None
    rescan: bool = False
    tasks: int = 0
    run_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)


# Python-worker SQL metrics (ArrowEvalPython, MapInArrow, FlatMapGroupsIn
# Pandas, ...) carried as task accumulables
PY_METRICS = ("data sent to Python workers", "data returned from Python workers")

_WANTED = (
    "SparkListenerJobStart", "SparkListenerJobEnd",
    "SparkListenerStageSubmitted", "SparkListenerTaskEnd",
)


def _span_of(props: dict) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if desc.startswith(SPAN_PREFIX):
        return int(desc[len(SPAN_PREFIX):])
    return None


def parse_event_log(lines) -> EventLog:
    """Jobs (span, rescan flag, wall interval) and per-stage task totals
    from the lines of an uncompressed, non-rolling Spark event log."""
    log = EventLog()
    for line in lines:
        head = line[:64]
        if not any(w in head for w in _WANTED):
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                _span_of(props), is_rescan(props.get("callSite.short")),
                e["Submission Time"] / 1000.0,
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            st = log.stages.setdefault(e["Stage Info"]["Stage ID"], StageTotals())
            st.span = _span_of(props)
            st.rescan = is_rescan(props.get("callSite.short"))
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(e["Stage ID"], StageTotals())
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Name") in PY_METRICS:
                    st.py_bytes += int(acc.get("Update") or 0)
    return log


def read_event_log(path) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------

FIELDS = ("self_s", "driver_s", "exec_s", "tasks", "shuffle_mb", "spill_mb", "py_mb")


def layer_metrics(spans: list[Span], log: EventLog) -> dict[str, dict[str, float]]:
    """{layer: {field: value}} for every layer in LAYERS plus ROOT_LAYER
    (the root spans' self time: benchmark work between layer calls)."""
    out = {name: dict.fromkeys(FIELDS, 0.0) for name in (*LAYERS, ROOT_LAYER)}
    out["checkpoint"]["rescan_s"] = 0.0
    selfs = self_intervals(spans)
    by_sid = {s.sid: s for s in spans}
    jobs_of: dict[int, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        if job.span in by_sid:
            jobs_of[job.span].append(job)
    for s in spans:
        layer = out[s.layer if s.parent is not None else ROOT_LAYER]
        own = selfs[s.sid]
        rescan = intersect(own, [(j.start, j.end) for j in jobs_of[s.sid] if j.rescan])
        work = intersect(own, [(j.start, j.end) for j in jobs_of[s.sid]])
        moved = length(rescan)
        layer["self_s"] += length(own) - moved
        layer["driver_s"] += length(own) - length(work)
        out["checkpoint"]["self_s"] += moved
        out["checkpoint"]["rescan_s"] += moved
    for st in log.stages.values():
        s = by_sid.get(st.span)
        if s is None:
            continue
        name = "checkpoint" if st.rescan else (
            s.layer if s.parent is not None else ROOT_LAYER
        )
        layer = out[name]
        layer["exec_s"] += st.run_ms / 1000.0
        layer["tasks"] += st.tasks
        layer["shuffle_mb"] += st.shuffle_bytes / 1e6
        layer["spill_mb"] += st.spill_bytes / 1e6
        layer["py_mb"] += st.py_bytes / 1e6
    return out
