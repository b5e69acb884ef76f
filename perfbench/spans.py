"""Outside-in tracing: spans around the engine's public functions and
Spark status-store deltas around each operation.

Nothing here runs inside the engine. :class:`Tracer` replaces module and
class attributes with timing wrappers for the length of a traced run and
puts the originals back afterwards; :class:`StageProbe` reads Spark's
status store (which the engine keeps even with the UI disabled) before
and after an operation.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None


class Tracer:
    """In-memory span recorder. Spans nest by call order (one client
    thread); ``enabled`` switches recording without unwrapping, so a
    traced run can interleave untraced operations for the overhead
    estimate."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def start(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def stop(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.start(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.stop(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return tracer.call(name, original, *args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def wrap_everywhere(self, package: str, original: object, name: str) -> None:
        """Wrap every module attribute of ``package`` bound to
        ``original`` (ops modules import ``load`` by name)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self.wrap(mod, attr, name)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name, over spans inside operations: total time
        (``s``), self time (``self_s``: duration minus child spans) and
        ``calls``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict(s=0.0, self_s=0.0, calls=0))
        for i, s in enumerate(self.spans):
            if s.op is None:
                continue
            acc = out[s.name]
            acc["s"] += s.end - s.start
            acc["self_s"] += (s.end - s.start) - child[i]
            acc["calls"] += 1
        return dict(out)

    def outside_ops(self, name: str) -> float:
        """Total time of ``name`` spans recorded outside any operation
        (set-up)."""
        return sum(s.end - s.start for s in self.spans if s.op is None and s.name == name)

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


class StageProbe:
    """Spark work done between two points, read from the status store.

    Job ids are handed out in order, so the jobs an operation ran are
    the ids above the highest one seen before it. Each new job's stages
    are read once it has finished; skipped stages did no work and are
    left out.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        jvm = sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._last_job = self._max_job()

    def _max_job(self) -> int:
        self._bus.waitUntilEmpty()
        return max(self._sc.statusTracker().getJobIdsForGroup(None), default=-1)

    def delta(self) -> dict[str, int]:
        """Totals for the jobs run since the previous call."""
        top = self._max_job()
        out = dict.fromkeys(STAGE_FIELDS + ("jobs",), 0)
        stage_ids: set[int] = set()
        for jid in range(self._last_job + 1, top + 1):
            job = json.loads(self._json.writeValueAsString(self._store.job(jid)))
            out["jobs"] += 1
            stage_ids.update(job["stageIds"])
        self._last_job = top
        for sid in sorted(stage_ids):
            try:
                stage = json.loads(
                    self._json.writeValueAsString(self._store.lastStageAttempt(sid))
                )
            except Exception as e:  # py4j wraps the store's NoSuchElementException
                if "NoSuchElementException" in str(e):
                    continue  # registered but never submitted
                raise
            if stage["status"] != "COMPLETE":
                continue
            for f in STAGE_FIELDS:
                out[f] += int(stage[f])
        return out
