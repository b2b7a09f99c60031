"""Spans around the benchmark's calls into each layer, with Spark's own task
metrics attached from the event log.

A span records name, layer, start, end and parent. While a span is open every
Spark job the driver thread launches carries the span's job tag
(``SparkContext.addJobTag``). After the session stops, ``parse_event_log``
reads the application's event log and ``attach_event_log`` hands each job's
tasks to the innermost span whose tag the job carries. Nothing here launches
a Spark job.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterable, Iterator

TAG_PREFIX = "pbspan-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict[str, Any] = field(default_factory=dict)
    persisted_delta: int = 0
    # filled by attach_event_log: job ids and one record per finished task
    jobs: list[int] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.id}"

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


def covered(interval: tuple[float, float],
            parts: Iterable[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` that the union of ``parts`` covers."""
    lo, hi = interval
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in parts)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


class Tracer:
    """Holds the spans of one run in memory. ``sc`` may be None (no tags)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: span name -> (args, kwargs) of the last interposed call under it
        self.last_call: dict[str, tuple[tuple, dict]] = {}

    def _persisted(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size()) if self.sc else 0

    @contextmanager
    def span(self, name: str, layer: str, **attrs: Any) -> Iterator[Span]:
        sp = Span(len(self.spans), name, layer,
                  self._stack[-1] if self._stack else None,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp.id)
        before = self._persisted()
        if self.sc is not None:
            self.sc.addJobTag(sp.tag)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.sc is not None:
                self.sc.removeJobTag(sp.tag)
            sp.persisted_delta = self._persisted() - before
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part of it its children cover."""
        end = span.end if span.end is not None else time.perf_counter()
        kids = [(c.start, c.end if c.end is not None else end)
                for c in self.children(span)]
        return (end - span.start) - covered((span.start, end), kids)

    def depth(self, span: Span) -> int:
        d = 0
        while span.parent is not None:
            span = self.spans[span.parent]
            d += 1
        return d

    def tree(self) -> list[dict]:
        """Nested span records, roots first, for the trace file."""
        def node(s: Span) -> dict:
            return {
                "name": s.name, "layer": s.layer, "seconds": s.seconds,
                "self_seconds": self.self_seconds(s), "attrs": s.attrs,
                "jobs": len(s.jobs), **task_summary(s.tasks),
                "persisted_delta": s.persisted_delta,
                "children": [node(c) for c in self.children(s)],
            }
        return [node(s) for s in self.spans if s.parent is None]


# ----------------------------------------------------------- event log --

def parse_event_log(lines: Iterable[str]) -> tuple[dict[int, set[str]], dict[int, list[dict]]]:
    """Return ``(job_tags, job_tasks)``: the tags each job was launched with
    and one record per finished task, keyed by job id. A stage belongs to the
    first job that lists it (a later job that reuses it skips it)."""
    job_tags: dict[int, set[str]] = {}
    stage_job: dict[int, int] = {}
    job_tasks: dict[int, list[dict]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = int(ev["Job ID"])
            tags = (ev.get("Properties") or {}).get("spark.job.tags") or ""
            job_tags[job] = {t for t in tags.split(",") if t}
            job_tasks.setdefault(job, [])
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(int(st), job)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(int(ev["Stage ID"]))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            job_tasks[job].append({
                "stage": int(ev["Stage ID"]),
                "run_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "failed": bool(info.get("Failed")) or reason != "Success",
            })
    return job_tags, job_tasks


def read_event_logs(directory: Path) -> tuple[dict[int, set[str]], dict[int, list[dict]]]:
    """Parse the single application log Spark wrote under ``directory``."""
    logs = [p for p in directory.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(logs)}")
    with logs[0].open() as f:
        return parse_event_log(f)


def attach_event_log(tracer: Tracer, job_tags: dict[int, set[str]],
                     job_tasks: dict[int, list[dict]]) -> list[int]:
    """Give every tagged job to its innermost span; return untagged job ids."""
    by_tag = {s.tag: s for s in tracer.spans}
    untagged = []
    for job in sorted(job_tags):
        spans = [by_tag[t] for t in job_tags[job] if t in by_tag]
        if not spans:
            untagged.append(job)
            continue
        owner = max(spans, key=tracer.depth)
        owner.jobs.append(job)
        owner.tasks.extend(job_tasks.get(job, []))
    return untagged


def task_summary(tasks: list[dict]) -> dict[str, float]:
    """Task count, CPU, shuffle write, spill, failures and skew of a task set.
    Skew is max/median task time within the stage that holds the most task
    time (1.0 when there are no tasks)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    if by_stage:
        heaviest = max(by_stage.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else 1.0
    return {
        "tasks": len(tasks),
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill_bytes"] for t in tasks) / 1e6,
        "failed_tasks": sum(1 for t in tasks if t["failed"]),
        "skew": skew,
    }


LAYER_STATS = ("s", "jobs", "tasks", "task_cpu_s", "shuffle_write_mb",
               "spill_mb", "skew", "failed_tasks", "persisted_after")


def layer_metrics(tracer: Tracer, layers: Iterable[str]) -> dict[str, float]:
    """Roll spans up into ``<layer>.<stat>``. Time is self time, Spark work is
    the jobs each span owns, and ``persisted_after`` sums the persisted-RDD
    change over each layer's outermost spans."""
    out: dict[str, float] = {}
    for layer in layers:
        spans = [s for s in tracer.spans if s.layer == layer]
        tasks = [t for s in spans for t in s.tasks]
        summary = task_summary(tasks)
        outer = [s for s in spans
                 if s.parent is None or tracer.spans[s.parent].layer != layer]
        out[f"{layer}.s"] = sum(tracer.self_seconds(s) for s in spans)
        out[f"{layer}.jobs"] = sum(len(s.jobs) for s in spans)
        for k in ("tasks", "task_cpu_s", "shuffle_write_mb", "spill_mb",
                  "skew", "failed_tasks"):
            out[f"{layer}.{k}"] = summary[k]
        out[f"{layer}.persisted_after"] = sum(s.persisted_delta for s in outer)
    return out


# ------------------------------------------------------- interposition --

@contextmanager
def interpose(tracer: Tracer,
              targets: list[tuple[Any, str, str, str | Callable[..., str]]]
              ) -> Iterator[None]:
    """Temporarily replace ``owner.attr`` with a wrapper that runs the
    original inside a span. ``layer`` may be a function of the call's
    arguments. Targets the program no longer has are skipped. The arguments
    of each name's last call are kept in ``tracer.last_call``, so a replay
    can repeat the call exactly as the program made it."""
    saved = []
    for owner, attr, name, layer in targets:
        original = getattr(owner, attr, None)
        if original is None:
            continue

        def wrapper(*args, _fn=original, _name=name, _layer=layer, **kwargs):
            lay = _layer(*args, **kwargs) if callable(_layer) else _layer
            tracer.last_call[_name] = (args, kwargs)
            with tracer.span(_name, lay):
                return _fn(*args, **kwargs)

        setattr(owner, attr, wrapper)
        saved.append((owner, attr, original))
    try:
        yield
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)
