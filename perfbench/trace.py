"""Spans around the program's public functions, and Spark stage metrics.

The traced run rebinds each named function wherever the package has
bound it (``engine`` imports ``write_partitioned_parquet`` by name, the
catalog modules import ``load_table`` by name), so every call goes
through a span.  Spans live in memory; ``Tracer.dump`` writes them out
at the end.  Nothing inside the package is modified on disk.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records ``[name, start, end, parent, op]`` spans."""

    def __init__(self, package: str):
        self.package = package
        self.spans: list[list] = []
        self.op: int | None = None
        self._op_stack: list[int] = []  # the span stack of the op's thread
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # callbacks on other threads (foreachBatch) hang off the span the
        # op's own thread is waiting in
        parent = (stack or self._op_stack or [None])[-1]
        with self._lock:
            sid = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, parent, self.op])
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid][2] = time.perf_counter()

    @contextmanager
    def op_span(self, op: int, name: str):
        self.op = op
        self._op_stack = self._stack()
        try:
            with self.span(name) as sid:
                yield sid
        finally:
            self._op_stack = []
            self.op = None

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Replace the function in every package module bound to it."""
        orig = getattr(module, attr)
        wrapped = self._wrapper(orig, name)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(self.package) or mod is None:
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, wrapped)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        raw = cls.__dict__[attr]
        self._patches.append((cls, attr, raw))
        if isinstance(raw, classmethod):
            setattr(cls, attr, classmethod(self._wrapper(raw.__func__, name)))
        else:
            setattr(cls, attr, self._wrapper(raw, name))

    def wrap_callable(self, fn, name: str):
        return self._wrapper(fn, name)

    def restore(self) -> None:
        for owner, key, orig in reversed(self._patches):
            setattr(owner, key, orig)
        self._patches.clear()

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for name, start, end, parent, _ in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out = []
        for sid, (_, start, end, _, _) in enumerate(self.spans):
            covered, cursor = 0.0, start
            for a, b in sorted(children.get(sid, [])):
                a, b = max(a, cursor), min(b, end)
                if b > a:
                    covered += b - a
                    cursor = b
            out.append((end - start) - covered)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        keys = ("name", "start", "end", "parent", "op")
        path.write_text(json.dumps([dict(zip(keys, s)) for s in self.spans]))


# ---- Spark status store ---------------------------------------------------

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def stage_metrics(spark) -> dict[int, dict[str, int]]:
    """Every retained stage's metrics, keyed by stage id (last attempt).

    ``stageList`` is called with all five arguments: py4j cannot fill in
    Scala default arguments.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out: dict[int, dict[str, int]] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out[s.stageId()] = {k: int(getattr(s, m)()) for k, m in STAGE_FIELDS.items()}
    return out


def group_stages(spark, groups: list[str]) -> tuple[int, set[int]]:
    """(job count, stage ids) of the jobs run under ``groups``."""
    tracker = spark.sparkContext.statusTracker()
    jobs, stages = 0, set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
    return jobs, stages
