"""Per-layer spans measured from outside the engine.

A :class:`Tracer` opens a span around a call into a layer's public
function.  Each span gets its own Spark job group, so the jobs (and
their stages' shuffle bytes) fired inside it can be read back from the
status tracker afterwards; py4j round trips are counted by wrapping
py4j's ``send_command``.  Spans nest: a parent's figures include its
children's, and ``self`` time is the parent's wall time minus its
children's.  Spans are kept in memory; nothing is read back from Spark
until :meth:`Tracer.collect` runs, after the traced pass.

:func:`patched` swaps a module attribute for a span-opening wrapper for
the duration of a ``with`` block.  The pipeline's CLI imports its stage
functions at call time and the index plan calls its stages by global
name, so patching the defining module is enough to see every call.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import time
from dataclasses import dataclass, field

# py4j's connection classes are process-wide, so the call counter that
# wraps them is too; the tracer pauses it around its own Spark calls
_counter = {"calls": 0, "paused": 0}
_installed: list[tuple[type, object]] = []


def _wrap_send(orig):
    def send_command(self, *a, **kw):
        if not _counter["paused"]:
            _counter["calls"] += 1
        return orig(self, *a, **kw)

    return send_command


def install_py4j_counter() -> None:
    """Count every py4j command sent to the JVM (idempotent)."""
    if _installed:
        return
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        orig = cls.__dict__["send_command"]
        _installed.append((cls, orig))
        cls.send_command = _wrap_send(orig)


def uninstall_py4j_counter() -> None:
    while _installed:
        cls, orig = _installed.pop()
        cls.send_command = orig


def py4j_calls() -> int:
    return _counter["calls"]


@contextlib.contextmanager
def _paused():
    _counter["paused"] += 1
    try:
        yield
    finally:
        _counter["paused"] -= 1


@dataclass
class Span:
    name: str
    group: str
    wall_s: float = 0.0
    py4j_calls: int = 0
    children: list["Span"] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)  # this span's own jobs
    shuffle_bytes: int = 0  # own jobs only
    out_path: str | None = None
    out_bytes: int = 0

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def all_jobs(self) -> list[int]:
        return self.jobs + [j for c in self.children for j in c.all_jobs()]

    def all_shuffle_bytes(self) -> int:
        return self.shuffle_bytes + sum(c.all_shuffle_bytes() for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def report(self) -> dict:
        """The span tree with its self-time arithmetic, for the run log."""
        out = {"name": self.name, "wall_s": round(self.wall_s, 4),
               "self_s": round(self.self_s, 4), "jobs": len(self.all_jobs()),
               "py4j_calls": self.py4j_calls}
        if self.children:
            out["children"] = [c.report() for c in self.children]
        return out


class Tracer:
    """``spark=None`` gives a timing-only tracer: same spans, no job
    groups and nothing read back from Spark (the untraced passes)."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._prefix = f"perfbench-{time.time_ns()}"

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.sc is None:
            return
        with _paused():
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(group, desc)

    @contextlib.contextmanager
    def span(self, name: str, out_path: str | None = None):
        s = Span(name, f"{self._prefix}-{next(self._ids)}", out_path=out_path)
        (self._stack[-1].children if self._stack else self.roots).append(s)
        self._stack.append(s)
        self._set_group(s.group, name)
        c0, t0 = py4j_calls(), time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.py4j_calls = py4j_calls() - c0
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._set_group(parent.group if parent else None, parent.name if parent else None)

    def spans(self):
        for root in self.roots:
            yield from root.walk()

    def measure_outputs(self, size_of) -> None:
        """Record the size of each sink span's output (before cleanup)."""
        for s in self.spans():
            if s.out_path:
                s.out_bytes = size_of(s.out_path)

    def collect(self) -> None:
        """Read each span's jobs, and their stages' shuffle writes, back
        from the status tracker.  Call once, after the traced work."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        with _paused():
            for s in self.spans():
                s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
                infos = [tracker.getJobInfo(j) for j in s.jobs]
                stages = {sid for info in infos if info for sid in info.stageIds}
                for sid in stages:
                    try:
                        s.shuffle_bytes += int(store.lastStageAttempt(sid).shuffleWriteBytes())
                    except Py4JJavaError:  # a skipped stage has no attempt
                        pass


@contextlib.contextmanager
def patched(tracer: Tracer, targets: dict[tuple[str, str], object]):
    """Within the block, ``module.attr`` opens a span on every call.

    ``targets`` maps ``(module, attr)`` to a span name, or to a callable
    ``(args, kwargs) -> (name, out_path)`` for names that depend on the
    call (one sink function writing several outputs)."""
    saved = []
    for (mod_name, attr), namer in targets.items():
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))

        def wrapper(*a, __orig=orig, __namer=namer, **kw):
            name, out = __namer(a, kw) if callable(__namer) else (__namer, None)
            with tracer.span(name, out_path=out):
                return __orig(*a, **kw)

        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)
