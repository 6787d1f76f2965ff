"""In-memory spans around the engine's public layer entry points.

The tracer patches each callable at the name its caller binds (a module
global such as ``pipeline.composer.pk_repartition`` or a class attribute
such as ``PostTransform.apply``), records ``(name, start, end, parent,
batch, tag)`` per call, and restores the originals on ``uninstall``.
Spark plans lazily, so a span around a lazy layer measures plan
building; executed work lands in the span that triggers the action (the
foreachBatch body, the sink write).
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None
    tag: str | None = None


def layer_targets(sink):
    """``(owner, attribute, span name)`` for every traced layer."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from source_flink_cdc_3_5_0_spark.operators.route import TableIdRouter
    from source_flink_cdc_3_5_0_spark.operators.schema_registry import (
        SchemaRegistry)
    from source_flink_cdc_3_5_0_spark.operators.transform import PostTransform
    from source_flink_cdc_3_5_0_spark.pipeline import composer
    from source_flink_cdc_3_5_0_spark.streaming import runner

    exe = composer.PipelineExecution
    return [
        (DataStreamWriter, "foreachBatch", "streaming.batch"),
        (runner, "decode_debezium", "sources.decode"),
        (PostTransform, "apply", "operators.transform"),
        (TableIdRouter, "route", "operators.route"),
        (composer, "coercion_select", "operators.coerce"),
        (composer, "pk_repartition", "operators.repartition"),
        (SchemaRegistry, "checkpoint", "operators.registry_checkpoint"),
        (exe, "_handle_schema_events", "pipeline.evolve"),
        (exe, "_evolve_sink_table", "pipeline.evolve"),
        (type(sink), "write", "sinks.write"),
        (type(sink.metadata_applier()), "apply_schema_change",
         "sinks.ddl_apply"),
    ]


class Tracer:
    """Installs span wrappers and keeps the spans they record."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.batch: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list = []

    def _open(self, name: str, tag: str | None = None) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   stack[-1] if stack else None,
                                   self.batch, tag))
        stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._local.stack.pop()

    def wrap(self, fn, name: str):
        tracer = self

        if name == "streaming.batch":
            # DataStreamWriter.foreachBatch(self, func): trace func itself
            def foreach_batch(writer, func):
                def traced(df, batch_id):
                    idx = tracer._open(name, str(batch_id))
                    try:
                        return func(df, batch_id)
                    finally:
                        tracer._close(idx)
                return fn(writer, traced)
            return foreach_batch

        def traced_call(*args, **kwargs):
            # sink writes carry the sink table (argument after self)
            tag = str(args[1]) if name == "sinks.write" else None
            idx = tracer._open(name, tag)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)
        return traced_call

    def install(self, targets) -> None:
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- derived per-layer figures -----------------------------------------
    def layer_seconds(self, name: str, batches: set) -> float:
        """Inclusive time of ``name`` spans in ``batches``, counting a span
        nested in another of the same name once."""
        total = 0.0
        for s in self.spans:
            if s.name != name or s.batch not in batches:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                total += s.end - s.start
        return total

    def count(self, name: str, batches: set) -> int:
        return sum(1 for s in self.spans
                   if s.name == name and s.batch in batches)

    def batch_self_seconds(self, batches: set) -> float:
        """foreachBatch time not covered by its direct child spans."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.end - s.start
        return sum(s.end - s.start - child.get(i, 0.0)
                   for i, s in enumerate(self.spans)
                   if s.name == "streaming.batch" and s.batch in batches)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent, "batch": s.batch,
                                    "tag": s.tag}) + "\n")
