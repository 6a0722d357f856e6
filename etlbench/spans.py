"""Spans around calls into the package's modules, plus Spark status-store
counters per span.

Tracing works from outside the package: :meth:`Tracer.instrument`
replaces a module's public functions (and every other module's imported
reference to them) with wrappers.  Each wrapped call opens a span and gives
it its own Spark job group, so every job the call runs -- including
broadcast and subquery jobs, which inherit the group -- is attributed to
exactly one span.  Spans are kept in memory; their status-store counters
are read once per operation, after the timed region, and the whole list
is written out when the run ends.

Self time of a span is its wall time minus the union of the intervals its
child spans cover.  Spark plans lazily, so a reader or transform call
only builds a plan: the scan and transform work executes inside the sink
(or noop-write) span that runs the plan, and is counted there.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import time
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "shuffleWriteBytes", "shuffleReadBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "inputRecords", "inputBytes",
    "outputRecords", "outputBytes",
)


@dataclass
class Span:
    id: int
    name: str        # "<layer>.<function>", e.g. "sinks.write_monthly_eav"
    layer: str
    parent: int | None
    op: int          # operation the span belongs to
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one run.  Wrapped calls open spans only while
    ``enabled`` is set (the timed passes); otherwise they pass straight
    through."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = -1
        self.enabled = False
        self.overhead_s = 0.0
        self._patched: list[tuple[dict, str, object]] = []

    # -- instrumentation ------------------------------------------------
    def instrument(self, module, layer: str) -> None:
        """Wrap the public functions ``module`` defines."""
        names = [
            n for n, f in vars(module).items()
            if inspect.isfunction(f) and not n.startswith("_")
            and f.__module__ == module.__name__
        ]
        for n in names:
            orig = getattr(module, n)
            wrapped = self.wrap(orig, f"{layer}.{n}", layer)
            for mod in list(sys.modules.values()):
                d = getattr(mod, "__dict__", None)
                if not d:
                    continue
                for k, v in list(d.items()):
                    if v is orig:
                        self._patched.append((d, k, orig))
                        d[k] = wrapped
                    elif isinstance(v, dict) and mod.__name__.startswith(module.__package__):
                        # dispatch tables such as transforms.TRANSFORMS
                        for dk, dv in list(v.items()):
                            if dv is orig:
                                self._patched.append((v, dk, orig))
                                v[dk] = wrapped

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            with self.span(name, layer):
                return fn(*a, **kw)
        return traced

    def restore(self) -> None:
        for table, k, orig in reversed(self._patched):
            table[k] = orig
        self._patched.clear()

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self._open(name, layer)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str, layer: str) -> Span:
        t = time.perf_counter()
        sp = Span(len(self.spans), name, layer,
                  self.stack[-1].id if self.stack else None, self.op, 0.0)
        sp.group = f"etlbench-{sp.id}"
        self.sc.setJobGroup(sp.group, name)
        self.spans.append(sp)
        self.stack.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.overhead_s += time.perf_counter() - sp.end

    # -- status store -----------------------------------------------------
    def collect(self, op: int) -> None:
        """Attach status-store counters to every span of operation ``op``.
        Call after the operation, outside any timed region."""
        t = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.op != op:
                continue
            c = dict.fromkeys(STAGE_FIELDS, 0)
            c.update(jobs=0, stages=0, tasks=0)
            for j in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += sd.numCompleteTasks()
                    for f in STAGE_FIELDS:
                        c[f] += getattr(sd, f)()
            sp.counts = c
        self.overhead_s += time.perf_counter() - t

    # -- derived ------------------------------------------------------------
    def self_time(self, sp: Span) -> float:
        kids = sorted((k.start, k.end) for k in self.spans if k.parent == sp.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent, "op": sp.op,
                    "start": sp.start, "end": sp.end, "self_s": self.self_time(sp),
                    "counts": sp.counts,
                }) + "\n")


def layer_totals(tracer: Tracer, op: int) -> dict:
    """{layer: {"self_s", "wall_s", counters...}} summed over one operation's
    spans.  Counters are summed over every span of the layer; spans only
    own the jobs run directly in their group, so nothing is counted twice."""
    out: dict = {}
    for sp in tracer.op_spans(op):
        t = out.setdefault(sp.layer, {"self_s": 0.0, "wall_s": 0.0})
        t["self_s"] += tracer.self_time(sp)
        if sp.parent is None or tracer.spans[sp.parent].layer != sp.layer:
            t["wall_s"] += sp.wall
        for k, v in sp.counts.items():
            t[k] = t.get(k, 0) + v
    return out


def read_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
    except OSError:
        return 0, 0
    vals = [int(x) for x in f[1:]]
    # guest time is already counted in user/nice
    total = sum(vals[:8])
    return (vals[7] if len(vals) > 7 else 0), total
