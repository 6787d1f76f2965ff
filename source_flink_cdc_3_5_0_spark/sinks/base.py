"""Sink abstraction.

Parity targets: ``DataSink`` = ``EventSinkProvider`` + ``MetadataApplier``
(flink-cdc-common/.../sink/DataSink.java, MetadataApplier.java:33-37).
The MetadataApplier executes DDL on the external system; the writer upserts
change rows. On Spark a sink's write happens at the end of a (micro-)batch,
which is exactly the reference's FlushEvent barrier — so there is no
flush/ack protocol surface here.
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame

from ..common.events import SchemaChangeEvent
from ..common.schema import Schema
from ..common.tableid import TableId


class MetadataApplier(abc.ABC):
    """Applies schema changes to the external system (DDL executor)."""

    #: replay-stable id of the (micro-)batch whose schema events are being
    #: applied — set by the composer before use; None for direct API use.
    #: Sinks that spool DDL for a live executor key their replay detection
    #: on it (see sinks/ddl_spool.py).
    batch_ctx = None

    def accepts(self, event_type: str) -> bool:
        """Fine-grained capability filter (MetadataApplier.
        acceptsSchemaEvolutionType); default: everything."""
        return True

    @abc.abstractmethod
    def apply_schema_change(self, table_id: TableId, event: SchemaChangeEvent,
                            evolved_schema: Schema) -> None:
        ...


class DataSink(abc.ABC):
    #: whether the composer hash-partitions each batch on the primary key
    #: (``pk_repartition``) before ``write``: distributed writers need all
    #: changes of one key in one task. A sink that collects the batch to
    #: the driver and orders it by ``__seq`` itself sets this False and
    #: saves the shuffle.
    needs_pk_partitioning: bool = True

    def begin_batch(self, batch_id) -> None:
        """Called by the streaming runner at the START of each micro-batch
        delivery — including a same-process re-delivery of a failed batch.
        Default no-op; sinks holding per-delivery state (DDL spool
        ordinals) reset it here so replay detection restarts at position 0
        exactly like a fresh-process replay would."""

    @abc.abstractmethod
    def metadata_applier(self) -> MetadataApplier:
        ...

    @abc.abstractmethod
    def write(self, table_id: TableId, df: DataFrame, schema: Schema, batch_id: int) -> None:
        """Write one batch of changelog rows (envelope columns included) for
        one table. Must be idempotent per (table, batch_id) for exactly-once
        replay (Structured Streaming re-delivers the last batch on restart)."""
        ...
