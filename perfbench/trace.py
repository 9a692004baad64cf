"""Traced-run tooling: an in-memory span recorder, call wrappers for the
package's public functions, a Spark event-log parser, and the attribution
of Spark jobs and tasks to spans.

Spans carry wall-clock epoch seconds (``time.time``) so they line up with
the epoch-millisecond timestamps Spark writes to its event log. The Spark driver
is single-threaded, so a job belongs to the innermost span that was open
when the job was submitted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Modules whose ``__all__`` the traced run wraps, with the layer name each
#: one reports under.
OPERATOR_MODULES = (
    "relational", "windows", "asof", "timeseries", "dedup", "similarity",
    "retrieval", "text", "sampling", "skew", "script", "multimodal",
)
PACKAGE = "ddataframeoperation_spark"
#: The compat functions that ``final_output`` calls for the PMML artifact;
#: the benchmark itself records spans around the other compat entry points.
COMPAT_SPANS = {f"{PACKAGE}.compat": ("compat", ("generate_pmml", "save_text_file"))}


def instrumented_layers() -> dict[str, str]:
    """Module path -> layer name for every module the traced run wraps."""
    layers = {f"{PACKAGE}.operators.{m}": f"operators.{m}" for m in OPERATOR_MODULES}
    layers[f"{PACKAGE}.catalog"] = "catalog"
    layers[f"{PACKAGE}.functions.schema"] = "functions.schema"
    return layers


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = float("nan")

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Keeps spans in memory; nothing is written until the run ends."""

    def __init__(self, clock=time.time):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, self._clock())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self._clock()


class NullRecorder:
    """The untraced run's recorder: spans record nothing."""

    spans: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None


class SpanCall:
    """A public package function wrapped with a span recorder.

    When Spark pickles a closure that references a wrapped function, the
    wrapper reduces to a lookup of the same attribute on its module, which
    in a worker process is the original, unwrapped function.
    """

    def __init__(self, fn, span_name: str, recorder: Recorder, module: str, attr: str):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._span_name = span_name
        self._recorder = recorder
        self._module = module
        self._attr = attr

    def __call__(self, *args, **kwargs):
        with self._recorder.span(self._span_name):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        # Wrapped class methods must still bind ``self``.
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (getattr, (sys.modules[self._module], self._attr))


def instrument(
    recorder: Recorder,
    layers: dict[str, str],
    extra: dict[str, tuple[str, tuple[str, ...]]] | None = None,
):
    """Wrap every function named in each module's ``__all__`` (and the
    public methods of classes named there) with a span recorder; ``extra``
    maps further modules to a layer name and the functions to wrap there.

    The wrapper also replaces every other binding of the same function in
    the package's loaded modules (``from m import f`` copies), so calls
    reach it whichever module they go through. Returns a function that
    restores the originals.
    """
    originals: dict[int, tuple[object, SpanCall]] = {}
    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, fn, span_name: str, module: str, path: str):
        wrapper = SpanCall(fn, span_name, recorder, module, path)
        originals[id(fn)] = (fn, wrapper)
        undo.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    targets = {m: (layer, None) for m, layer in layers.items()}
    targets.update(extra or {})
    for mod_name, (layer, names) in targets.items():
        mod = importlib.import_module(mod_name)
        for name in names if names is not None else getattr(mod, "__all__", ()):
            obj = getattr(mod, name)
            if inspect.isfunction(obj) and obj.__module__ == mod_name:
                patch(mod, name, obj, f"{layer}.{name}", mod_name, name)
            elif inspect.isclass(obj) and obj.__module__ == mod_name:
                for meth, fn in list(vars(obj).items()):
                    if inspect.isfunction(fn) and not meth.startswith("_"):
                        patch(obj, meth, fn, f"{layer}.{name}.{meth}", mod_name, name)
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                undo.append((mod, attr, value))
                setattr(mod, attr, hit[1])

    def restore() -> None:
        for owner, attr, value in reversed(undo):
            setattr(owner, attr, value)

    return restore


# --- interval helpers ---------------------------------------------------------

def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


def clipped(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - union_length(clipped(children.get(s.id, ()), s.start, s.end))
        for s in spans
    }


# --- Spark event log ----------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float
    end: float
    stage_ids: list[int]
    failed: bool = False
    span: int | None = None
    #: Call site of the job's final stage, e.g. ``count at <file>:<line>``.
    name: str = ""


@dataclass
class Task:
    stage_id: int
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    scheduler_delay_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    input_bytes: int
    input_rows: int
    output_bytes: int
    output_rows: int
    job: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    inp, out = m.get("Input Metrics", {}), m.get("Output Metrics", {})
    return Task(
        stage_id=ev["Stage ID"],
        launch=launch,
        finish=finish,
        failed=bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
        run_s=run_ms / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        # Spark UI's definition: task wall time not spent running,
        # deserializing or returning the result.
        scheduler_delay_s=max(0.0, (finish - launch) - (run_ms + overhead_ms) / 1e3),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        input_bytes=inp.get("Bytes Read", 0),
        input_rows=inp.get("Records Read", 0),
        output_bytes=out.get("Bytes Written", 0),
        output_rows=out.get("Records Written", 0),
    )


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs and finished tasks from a Spark JSON-lines event log."""
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            stages = sorted(ev.get("Stage Infos", ()), key=lambda st: st["Stage ID"])
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1e3, float("inf"), list(ev["Stage IDs"]),
                name=stages[-1].get("Stage Name", "") if stages else "",
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1e3
                job.failed = ev.get("Job Result", {}).get("Result") != "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(ev))
    _assign_tasks(log)
    return log


def _assign_tasks(log: EventLog) -> None:
    """A stage can be listed by several jobs (later ones skip it); a task
    belongs to the listing job that was running when the task launched."""
    by_stage: dict[int, list[Job]] = {}
    for job in log.jobs.values():
        for sid in job.stage_ids:
            by_stage.setdefault(sid, []).append(job)
    for t in log.tasks:
        cands = sorted(by_stage.get(t.stage_id, ()), key=lambda j: j.submit)
        running = [j for j in cands if j.submit <= t.launch + 1e-3 <= j.end + 1e-3]
        pick = running[-1] if running else (cands[0] if cands else None)
        t.job = pick.id if pick else None


def attribute_jobs(log: EventLog, spans: list[Span]) -> None:
    """Set each job's span: the innermost span open at its submission.

    Spark stamps events in whole milliseconds, so span bounds are widened
    by one millisecond on each side before the containment test.
    """
    for job in log.jobs.values():
        best = None
        for s in spans:
            if s.start - 1e-3 <= job.submit <= s.end + 1e-3:
                if best is None or s.start >= best.start:
                    best = s
        job.span = best.id if best else None


def descendants(spans: list[Span]) -> dict[int, set[int]]:
    """Span id -> ids of itself and every span nested under it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out: dict[int, set[int]] = {}
    for s in reversed(spans):  # children are appended after their parent
        acc = {s.id}
        for k in kids.get(s.id, ()):
            acc |= out[k]
        out[s.id] = acc
    return out
