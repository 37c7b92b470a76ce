"""Per-layer metrics of a traced run (``--trace 1``).

Each metric is a median over the timed ops of one kind (``op:ingest``,
``op:lookup``, ``op:cube``) of what the named spans inside one op add up
to; set-up metrics are what the spans inside the one set-up add up to.
Layers a workload never calls read 0. Every timed op carries spans;
``trace.op_p50_s`` minus the untraced run's ``op_p50_s`` is the tracing
overhead. ``perfbench/LAYERS.md`` lists which end-to-end metric each
should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import Span, TaskCounters, Tracer


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, event_log_dir: str, samples) -> dict:
    counters = TaskCounters(event_log_dir)
    ops: dict[str, list[Span]] = defaultdict(list)
    inside: dict[int, list[Span]] = defaultdict(list)
    for sp in tracer.spans:
        if sp.name.startswith("op:"):
            ops[sp.name[3:]].append(sp)
        else:
            op = sp.op()
            if op is not None:
                inside[id(op)].append(sp)

    def per_op(kind: str, name: str, value=lambda s: s.dur) -> float:
        return _median([
            sum(value(s) for s in inside[id(op)] if s.name == name) for op in ops[kind]
        ])

    def spark_in(kind: str, name: str | None, counter: str) -> float:
        """Task counter over the op's spans named ``name`` (the whole op
        when ``name`` is None)."""
        vals = []
        for op in ops[kind]:
            spans = [op] if name is None else [s for s in inside[id(op)] if s.name == name]
            vals.append(sum(counters.between(s.start, s.end)[counter] for s in spans))
        return _median(vals)

    def rewritten_per_event(op: Span) -> float:
        spans = inside[id(op)]
        events = sum(s.attrs.get("events", 0) for s in spans if s.name == "lake.merge.merge_upsert")
        rows = sum(s.attrs.get("rows", 0) for s in spans if s.name == "lake.table.write_data_files")
        return rows / events if events else 0.0

    wdf = "lake.table.write_data_files"
    return {
        "session.get_spark_s": (per_op("session", "session.get_spark"), "s"),
        "datagen.changelog.gen_s": (per_op("setup", "datagen.changelog.gen"), "s"),
        "cdc.apply.self_s": (per_op("ingest", "cdc.apply.run", lambda s: s.self_s), "s"),
        "cdc.apply.seq_bounds_s": (per_op("ingest", "cdc.apply.seq_bounds"), "s"),
        "cdc.streaming.self_s": (
            per_op("ingest", "cdc.streaming.run", lambda s: s.self_s), "s"),
        "cdc.schema_evolution.reconcile_s": (
            per_op("ingest", "cdc.schema_evolution.reconcile"), "s"),
        "lake.merge.self_s": (
            per_op("ingest", "lake.merge.merge_upsert", lambda s: s.self_s), "s"),
        "lake.merge.rows_rewritten_per_event": (
            _median([rewritten_per_event(op) for op in ops["ingest"]]), "ratio"),
        "lake.table.read_s": (per_op("ingest", "lake.table.read"), "s"),
        "lake.table.commit_files_s": (per_op("ingest", "lake.table.commit_files"), "s"),
        f"{wdf}_s": (per_op("ingest", wdf), "s"),
        f"{wdf}.bytes_written": (
            per_op("ingest", wdf, lambda s: s.attrs.get("bytes", 0)), "bytes"),
        f"{wdf}.files_written": (
            per_op("ingest", wdf, lambda s: s.attrs.get("files", 0)), "count"),
        f"{wdf}.shuffle_write_bytes": (spark_in("ingest", wdf, "shuffle_write_bytes"), "bytes"),
        f"{wdf}.spill_bytes": (spark_in("ingest", wdf, "spill_bytes"), "bytes"),
        "lake.table.lookup_s": (per_op("lookup", "lake.table.lookup"), "s"),
        "lake.table.read_live_s": (per_op("cube", "lake.table.read_live"), "s"),
        "pipelines.lake_cube.build_s": (per_op("cube", "pipelines.lake_cube.build"), "s"),
        "spark.tasks": (spark_in("ingest", None, "tasks"), "count"),
        "spark.jvm_gc_s": (spark_in("ingest", None, "gc_s"), "s"),
        "spark.cube_tasks": (spark_in("cube", None, "tasks"), "count"),
        "trace.op_p50_s": (_median(samples.op_s), "s"),
    }
