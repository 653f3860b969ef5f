"""In-memory tracing for the benchmark's traced runs.

A ``Tracer`` records one span per call into a layer: the benchmark
wraps the module attributes the engine resolves at call time (for
example ``pipeline.cumulate_day``), so spans come from the benchmark's
own files and the engine is not edited. Each span carries its name,
start, end, parent span, operation id, thread, and the py4j calls its
thread made while it was open. Spark work is counted from public state:
a job group per operation, read back through ``statusTracker()``.

Nothing is written until ``write`` is called at the end of a run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

# py4j's memory-release message ("m" command): sent when Python objects
# are garbage collected, so its count depends on GC timing, not on work.
_MEMORY_COMMAND = "m\n"


class Tracer:
    """Spans and counters for one benchmark process.

    ``enabled`` switches recording on and off between operations, so a
    traced run can interleave untraced operations and measure its own
    overhead. While it is off, every wrapper is a plain pass-through.
    """

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._calls: dict[int, int] = defaultdict(int)
        self._op: tuple[str, int] | None = None  # (op id, root span id)
        self._patched: list[tuple[object, str, object]] = []
        self._groups = itertools.count(1)
        self._install_py4j_counter()

    # -- py4j -------------------------------------------------------------

    def _install_py4j_counter(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def send_command(command, *args, **kwargs):
            if (
                self.enabled
                and not getattr(self._local, "quiet", False)
                and not command.startswith(_MEMORY_COMMAND)
            ):
                tid = threading.get_ident()
                with self._lock:
                    self._calls[tid] += 1
            return original(command, *args, **kwargs)

        client.send_command = send_command
        self._patched.append((client, "send_command", None))

    def py4j_calls(self) -> int:
        """py4j calls the current thread has made while tracing was on."""
        with self._lock:
            return self._calls[threading.get_ident()]

    @contextlib.contextmanager
    def quiet(self):
        """Make py4j calls the current thread does not count (the
        tracer's own bookkeeping)."""
        prior = getattr(self._local, "quiet", False)
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = prior

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; nests under the current thread's open span,
        or under the current operation's root when the thread has none
        (a foreachBatch handler runs on a py4j callback thread)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._op[1] if self._op else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "op": self._op[0] if self._op else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter() - self._t0,
        }
        calls0 = self.py4j_calls()
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec["py4j_calls"] = self.py4j_calls() - calls0
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def operation(self, op_id: str, name: str):
        """Root span of one benchmark operation: spans opened until it
        closes, on any thread, carry ``op_id``. Yields the span record
        (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        with self.span(name) as rec:
            rec["op"] = op_id
            self._op = (op_id, rec["id"])
            try:
                yield rec
            finally:
                self._op = None

    @contextlib.contextmanager
    def job_group(self):
        """Tag the Spark jobs the current thread starts with a fresh
        group id; yields the id."""
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._groups)}"
        with self.quiet():
            sc.setJobGroup(group, group)
        try:
            yield group
        finally:
            with self.quiet():
                sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> dict[str, int]:
        """Jobs, stages and completed tasks of one job group. Waits for
        the listener bus first, so the status store has every event of
        the work that already returned."""
        with self.quiet():
            sc = self.spark.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        stages += 1
                        tasks += stage.numCompletedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` with a wrapper that records a span
        named ``layer`` around every call; ``close`` restores it."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(layer):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def close(self) -> None:
        """Undo every wrapper and the py4j counter."""
        self.enabled = False
        for obj, attr, original in reversed(self._patched):
            if original is None:
                del obj.__dict__[attr]  # instance attribute over the method
            else:
                setattr(obj, attr, original)
        self._patched.clear()

    # -- summaries --------------------------------------------------------

    def by_op(self, name: str) -> dict[str, float]:
        """Inclusive seconds of spans named ``name``, summed per operation."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                out[s["op"]] += s["end"] - s["start"]
        return dict(out)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": sorted(self.spans, key=lambda s: s["start"]),
                    "self_s": self.self_times(),
                    **(extra or {}),
                },
                f,
                indent=1,
            )
