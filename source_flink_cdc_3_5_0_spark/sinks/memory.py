"""In-memory materializing sink — the ``values`` sink / golden store.

Parity target: ``ValuesDatabase`` (flink-cdc-pipeline-connector-values/...
/ValuesDatabase.java:228-386): applies change events to per-table in-memory
state keyed by primary key and renders deterministic string snapshots used by
golden tests.

Driver-side by design (test sink, like the reference's). The scalable path is
:mod:`.parquet_sink`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..common.events import (
    OP_COL,
    AddColumnEvent,
    AlterColumnTypeEvent,
    CreateTableEvent,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    SchemaChangeEvent,
    TruncateTableEvent,
)
from ..common.schema import Schema
from ..common.tableid import TableId
from ..sources.base import SEQ_COL
from .base import DataSink, MetadataApplier


class _MemoryMetadataApplier(MetadataApplier):
    def __init__(self, sink: "MemorySink"):
        self.sink = sink

    def apply_schema_change(self, table_id: TableId, event: SchemaChangeEvent,
                            evolved_schema: Schema) -> None:
        s = self.sink
        if isinstance(event, CreateTableEvent):
            s.schemas[table_id] = evolved_schema
            s.state.setdefault(table_id, {})
            return
        if isinstance(event, DropTableEvent):
            s.schemas.pop(table_id, None)
            s.state.pop(table_id, None)
            return
        if isinstance(event, TruncateTableEvent):
            s.state[table_id] = {}
            return
        old = s.schemas[table_id]
        s.schemas[table_id] = evolved_schema
        old_names = {c.name for c in old.columns}
        new_names = [c.name for c in evolved_schema.columns]
        rename = event.mapping_dict() if isinstance(event, RenameColumnEvent) else {}
        # ADD COLUMN backfills existing rows with the declared default
        # (PhysicalColumn.defaultValueExpression); no default -> null-fill
        fills = {}
        if isinstance(event, AddColumnEvent):
            for cw in event.added_columns:
                c = cw.column
                if c.name not in old_names and c.default_expr is not None:
                    fills[c.name] = _eval_default(c)
        # restructure stored rows to the evolved schema
        new_state = {}
        for pk, row in s.state.get(table_id, {}).items():
            renamed = {rename.get(k, k): v for k, v in row.items()}
            new_state[pk] = {n: renamed.get(n, fills.get(n)) for n in new_names}
        s.state[table_id] = new_state


def _eval_default(col) -> object:
    """Evaluate a column's SQL default expression driver-side (one tiny
    local job per DDL event — test-sink scale)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover
        return None
    row = spark.range(1).selectExpr(
        f"CAST({col.default_expr} AS {col.data_type.simpleString()}) AS v").collect()
    return row[0]["v"]


class MemorySink(DataSink):
    # write() collects to the driver and sorts by __seq: a key shuffle
    # in front of it buys nothing
    needs_pk_partitioning = False

    def __init__(self) -> None:
        self.schemas: dict[TableId, Schema] = {}
        self.state: dict[TableId, dict[tuple, dict]] = {}
        self._applier = _MemoryMetadataApplier(self)

    def metadata_applier(self) -> MetadataApplier:
        return self._applier

    def write(self, table_id: TableId, df: DataFrame, schema: Schema, batch_id: int) -> None:
        self.schemas.setdefault(table_id, schema)
        table = self.state.setdefault(table_id, {})
        pks = list(schema.primary_keys)
        names = [c.name for c in schema.columns]
        cols = [c for c in names if c in df.columns]
        sel = cols + [c for c in (OP_COL, SEQ_COL) if c in df.columns]
        # NOTE (r12, measured): a JVM-side per-key max_by pre-reduction
        # (collect only each key's final image) was built and A/B'd —
        # rows identical, but NEUTRAL-to-slower locally: the struct
        # payload forces a SortAggregate, paying a full batch sort to
        # save ~35% of driver transfer. The plain collect+loop stays.
        rows = df.select(*sel).collect()
        # positional access throughout the hot loop (optimization r11):
        # Row.__getitem__(str) does a per-call field lookup, and at the
        # ~100k-row batch size of the pipeline gates the by-name loop
        # measured 3x slower than tuple indexing for identical results
        if SEQ_COL in df.columns:
            seq_i = sel.index(SEQ_COL)
            # null seqs keep arrival order and sort before sequenced rows
            rows.sort(key=lambda r: (r[seq_i] is not None,
                                     r[seq_i] if r[seq_i] is not None
                                     else 0))
        n_cols = len(cols)
        op_i = sel.index(OP_COL) if OP_COL in sel else -1
        same = cols == names
        # a PK column can be absent from a pre-evolution batch: its key
        # part is None then, exactly like full.get() produced before
        key_i = ([cols.index(k) if k in cols else None for k in pks]
                 if pks else None)
        for r in rows:
            base = dict(zip(cols, r))
            # dict insertion order must follow the SCHEMA's column order
            # (snapshot()/consumers render positionally via names)
            full = base if same else {n: base.get(n) for n in names}
            op = r[op_i] if op_i >= 0 else "+I"
            key = (tuple(r[i] if i is not None else None for i in key_i)
                   if key_i is not None else tuple(full.values()))
            if op in ("+I", "+U"):
                table[key] = full
            elif op == "-D":
                table.pop(key, None)
            # '-U' (update-before) rows carry no new state; ignored like
            # ValuesDatabase (the +U that follows rewrites the key).

    # -- golden rendering ------------------------------------------------
    def snapshot(self, table_id: TableId) -> list[str]:
        """Deterministic row rendering for golden assertions."""
        schema = self.schemas[table_id]
        names = [c.name for c in schema.columns]
        rows = [
            ", ".join("null" if row[n] is None else str(row[n]) for n in names)
            for row in self.state.get(table_id, {}).values()
        ]
        return sorted(rows)

    def row_count(self, table_id: TableId) -> int:
        return len(self.state.get(table_id, {}))
