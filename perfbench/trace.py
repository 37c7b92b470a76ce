"""Spans around calls into the program's layers, recorded from outside.

The program is not instrumented: ``Tracer.install`` replaces public
functions with timing wrappers at the place each is looked up (module
globals for functions, the class for ``LakeTable`` and
``ChangeLogReplayer`` methods), and ``Tracer.restore`` puts the originals
back. A span is one call; its self time is its duration minus its direct
children. Spans nest through one stack shared by all threads: the loop is
closed with a single client, so the streaming ``foreachBatch`` thread runs
only while the main thread waits for it, and its merge spans belong under
``run_stream_to_completion``.

Spark task counters come from the event log, read after the session stops.
A task belongs to every span whose interval holds its finish time. Job
groups cannot do this attribution here: a streaming query runs its jobs
under its own group (the query's run id), not the caller's.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def op(self) -> "Span | None":
        """The enclosing benchmark op span (named ``op:<kind>``)."""
        s = self
        while s is not None and not s.name.startswith("op:"):
            s = s.parent
        return s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        with self._lock:
            sp = Span(name, time.time(), self._stack[-1] if self._stack else None)
            self._stack.append(sp)
        try:
            yield sp
        finally:
            with self._lock:
                sp.end = time.time()
                self._stack.remove(sp)
                if sp.parent is not None:
                    sp.parent.child_s += sp.dur
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``;
        ``on_result(span, args, result)`` may attach counts to the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def install(self) -> None:
        """Wrap each layer's public entry points (see module docstring)."""
        from table2qb_spark import session
        from table2qb_spark.cdc import apply, streaming
        from table2qb_spark.datagen import changelog
        from table2qb_spark.lake.table import LakeTable
        from table2qb_spark.pipelines import lake_cube

        def files_written(sp, args, out):
            table = args[0]
            entries = [e for es in out.values() for e in es]
            sp.attrs["files"] = len(entries)
            sp.attrs["rows"] = sum(int(e.get("rows", 0)) for e in entries)
            sp.attrs["bytes"] = sum(
                os.path.getsize(os.path.join(table.path, e["path"])) for e in entries
            )

        def events_applied(sp, args, out):
            sp.attrs["events"] = int(out.get("upserts", 0) or 0) + int(
                out.get("deletes", 0) or 0
            )

        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(changelog, "gen_change_log", "datagen.changelog.gen")
        self.wrap(changelog, "write_change_log", "datagen.changelog.gen")
        self.wrap(apply.ChangeLogReplayer, "run", "cdc.apply.run")
        self.wrap(apply.ChangeLogReplayer, "seq_bounds", "cdc.apply.seq_bounds")
        for mod in (apply, streaming):
            self.wrap(mod, "merge_upsert", "lake.merge.merge_upsert", events_applied)
            self.wrap(mod, "reconcile_and_flatten", "cdc.schema_evolution.reconcile")
        self.wrap(streaming, "run_stream_to_completion", "cdc.streaming.run")
        for meth in ("read", "read_live", "lookup", "commit_files"):
            self.wrap(LakeTable, meth, f"lake.table.{meth}")
        self.wrap(LakeTable, "write_data_files", "lake.table.write_data_files", files_written)
        self.wrap(lake_cube, "build_lake_cube", "pipelines.lake_cube.build")


# ---- Spark task counters from the event log -----------------------------------

TASK_COUNTERS = ("tasks", "gc_s", "shuffle_write_bytes", "spill_bytes")


class TaskCounters:
    """Task-end counters from a Spark event log, queried by time interval."""

    def __init__(self, event_log_dir: str):
        rows = []
        paths = [os.path.join(d, fn) for d, _, fns in os.walk(event_log_dir) for fn in fns]
        for path in paths:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    rows.append((
                        ev["Task Info"]["Finish Time"] / 1000.0,
                        int(m.get("JVM GC Time", 0)) / 1000.0,
                        int(sw.get("Shuffle Bytes Written", 0)),
                        int(m.get("Disk Bytes Spilled", 0)),
                    ))
        rows.sort()
        self._t = [r[0] for r in rows]
        self._cum = [(0, 0.0, 0, 0)]
        for _, gc, sw, sp in rows:
            n, g, w, s = self._cum[-1]
            self._cum.append((n + 1, g + gc, w + sw, s + sp))

    def between(self, start: float, end: float) -> dict:
        i = bisect.bisect_left(self._t, start)
        j = bisect.bisect_right(self._t, end)
        a, b = self._cum[i], self._cum[j]
        return dict(zip(TASK_COUNTERS, (b[k] - a[k] for k in range(4))))
