"""Outside-in span tracer and per-layer attribution.

Spans are recorded only from the benchmark's own side of the API: the
workload opens a root span around each operation it issues, and
:meth:`Tracer.install` wraps every public function of the traced layer
modules at its module attribute (and at every other module attribute of
the package bound to the same function, i.e. ``from x import f``
names), so a call the program makes through such an attribute opens a
nested span. Spans share the tracer's run id, live in memory and are
written out once at the end (:meth:`Tracer.dump`).

Spark jobs are attributed afterwards, by submission time, to the
innermost span open at that instant on any thread: jobs submitted from
the program's own ``ThreadPoolExecutor`` threads, which carry no span
and no job-group property, land on the span that was open while they
ran. Work a lazy DataFrame defers is thereby charged to the span that
forces it.

Everything here is plain Python over plain data, so the attribution and
interval arithmetic are unit-tested without Spark.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: the program modules a traced run wraps, named relative to the package
LAYERS = (
    "pipelines.curation_pipeline",
    "operators.dedup",
    "operators.relational",
    "operators.similarity",
    "operators.ann_index",
    "functions.text",
    "functions.vectors",
    "io",
    "session",
)

#: per-layer counter -> unit, in report order
COUNTERS = {
    "calls": "count", "wall_s": "s", "self_s": "s", "driver_s": "s",
    "jobs": "count", "tasks": "count", "failed_tasks": "count",
    "shuffle_mb": "MB", "spill_mb": "MB", "exec_cpu_s": "s",
    "slot_idle_frac": "ratio",
}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    depth: int
    thread: int
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float | None = None


@dataclass
class Job:
    """One Spark job as the status store reports it, times in epoch s."""

    jid: int
    submit: float
    end: float
    stages: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_disk_bytes: int = 0


class Tracer:
    """In-memory span recorder. Root spans (the workload's operations)
    are always recorded; layer spans only after :meth:`install`."""

    def __init__(self, clock=time.time):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._clock = clock
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> Span:
        st = self._stack()
        with self._lock:
            if st:
                parent = st[-1]
            else:
                # a thread with no open span of its own (a pool thread the
                # program started) nests under the innermost span open
                # anywhere right now
                parent = max(self._open.values(),
                             key=lambda s: (s.depth, s.start), default=None)
            sp = Span(len(self.spans), name, layer,
                      parent.sid if parent else None,
                      parent.depth + 1 if parent else 0,
                      threading.get_ident(), self._clock())
            self.spans.append(sp)
            self._open[sp.sid] = sp
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = self._clock()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self._open.pop(sp.sid, None)

    @contextmanager
    def span(self, name: str, layer: str):
        sp = self.open(name, layer)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(sp)

        return traced

    def install(self, package: str, layers=LAYERS):
        """Wrap each public function defined in ``package.<layer>`` at
        every module attribute of the package bound to it. Returns a
        callable that restores the originals."""
        import importlib

        wrapped: dict[int, object] = {}
        for layer in layers:
            mod = importlib.import_module(f"{package}.{layer}")
            for attr, obj in list(vars(mod).items()):
                if (not attr.startswith("_") and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__):
                    wrapped[id(obj)] = (obj, self.wrap(obj, layer))
        patched = []
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == package
                                   or mname.startswith(package + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
                    patched.append((mod, attr, obj))

        def restore():
            for mod, attr, obj in patched:
                setattr(mod, attr, obj)

        return restore

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({"run_id": self.run_id, **asdict(sp)}) + "\n")


# -- interval arithmetic ---------------------------------------------------

def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base, cut) -> list[tuple[float, float]]:
    """``union(base)`` minus ``union(cut)``."""
    cut = union(cut)
    out = []
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


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def self_intervals(sp: Span, children: list[Span]):
    """The part of ``sp`` its child spans do not cover."""
    return subtract([(sp.start, sp.end)],
                    [(max(c.start, sp.start), min(c.end, sp.end))
                     for c in children])


# -- attribution -----------------------------------------------------------

def attribute(spans: list[Span], jobs: list[Job], slack: float = 0.001):
    """Map each job to the innermost span open at its submission time
    (deepest first, then latest-started). ``slack`` widens every span by
    the status store's millisecond rounding. Returns ``(by_span,
    unattributed)``: span id -> jobs, and the jobs no span covered."""
    closed = sorted((s for s in spans if s.end is not None),
                    key=lambda s: s.start)
    by_span: dict[int, list[Job]] = {}
    lost: list[Job] = []
    for job in jobs:
        best = None
        for s in closed:
            if s.start - slack > job.submit:
                break
            if job.submit <= s.end + slack and (
                    best is None or (s.depth, s.start) > (best.depth, best.start)):
                best = s
        if best is None:
            lost.append(job)
        else:
            by_span.setdefault(best.sid, []).append(job)
    return by_span, lost


def by_root(spans: list[Span], by_span: dict[int, list[Job]]):
    """Root span id -> its jobs, inclusive of every span nested under it."""
    by_id = {s.sid: s for s in spans}
    out: dict[int, list[Job]] = {}
    for sid, jobs in by_span.items():
        s = by_id[sid]
        while s.parent is not None:
            s = by_id[s.parent]
        out.setdefault(s.sid, []).extend(jobs)
    return out


def stage_owner(jobs: list[Job]) -> dict[int, int]:
    """Stage id -> the first job listing it (the one that ran it; later
    jobs listing a reused stage skip it)."""
    own: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j.jid):
        for st in job.stages:
            own.setdefault(st, job.jid)
    return own


def job_totals(jobs: list[Job], stages: dict[int, StageStats]) -> dict[int, StageStats]:
    """Per-job sums of the stages each job ran."""
    owner = stage_owner(jobs)
    out = {j.jid: StageStats() for j in jobs}
    for sid, st in stages.items():
        jid = owner.get(sid)
        if jid is None:
            continue
        t = out[jid]
        t.tasks += st.tasks
        t.failed_tasks += st.failed_tasks
        t.run_ms += st.run_ms
        t.shuffle_write_bytes += st.shuffle_write_bytes
        t.spill_disk_bytes += st.spill_disk_bytes
    return out


def layer_table(spans: list[Span], by_span: dict[int, list[Job]],
                per_job: dict[int, StageStats], cores: int,
                layers=LAYERS) -> dict[str, dict[str, float]]:
    """Per-layer counters (see ``COUNTERS``). Time counters: ``wall_s``
    sums the layer's outermost spans, ``self_s`` its spans minus their
    children, ``driver_s`` the self time during which none of the jobs
    attributed to the layer ran. Job counters count the jobs whose
    innermost span belongs to the layer, so they sum to the run's total
    across layers and root spans."""
    kids: dict[int, list[Span]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append(s)
    names = list(layers) + sorted({s.layer for s in spans} - set(layers))
    table = {name: dict.fromkeys(COUNTERS, 0.0) for name in names}
    for s in spans:
        if s.end is None:
            continue
        row = table[s.layer]
        row["calls"] += 1
        anc, outer = s.parent, True
        while anc is not None:
            if by_id[anc].layer == s.layer:
                outer = False
                break
            anc = by_id[anc].parent
        if outer:
            row["wall_s"] += s.end - s.start
        mine = self_intervals(s, kids.get(s.sid, []))
        row["self_s"] += length(mine)
        jobs = by_span.get(s.sid, [])
        row["driver_s"] += length(subtract(mine, [(j.submit, j.end) for j in jobs]))
        for j in jobs:
            t = per_job.get(j.jid, StageStats())
            row["jobs"] += 1
            row["tasks"] += t.tasks
            row["failed_tasks"] += t.failed_tasks
            row["shuffle_mb"] += t.shuffle_write_bytes / 1e6
            row["spill_mb"] += t.spill_disk_bytes / 1e6
            row["exec_cpu_s"] += t.run_ms / 1000.0
    for row in table.values():
        busy = row["self_s"] * cores
        row["slot_idle_frac"] = (
            max(0.0, 1.0 - row["exec_cpu_s"] / busy) if busy > 0 else 0.0)
    return table


def root_accounting(sp: Span, spans: list[Span]) -> tuple[float, float, float]:
    """``(duration, self, children)`` of one root span: self plus the
    union of its direct children equals the duration by construction —
    printed so the reader can check the layers account for the op."""
    kids = [s for s in spans if s.parent == sp.sid and s.end is not None]
    dur = sp.end - sp.start
    own = length(self_intervals(sp, kids))
    return dur, own, dur - own
