"""Primary-key hash partitioning before sink writes.

Parity target: ``RegularPrePartitionOperator`` + ``EventPartitioner``
(flink-cdc-runtime/.../partitioning/RegularPrePartitionOperator.java:86-121):
every DataChangeEvent is hashed on (tableId, primary key) so all changes of
one key land in the same sink subtask (ordering + upsert correctness); schema
and flush events are broadcast to all partitions.

Spark-first: ``df.repartition(n, *pk_cols)`` is the native equivalent (hash
shuffle on key columns); there is nothing to broadcast because schema changes
are driver-side. The operator also exposes a *deterministic, dialect-portable*
bucket expression (multiplicative hashing) used by oracle-checked tests —
Spark's internal Murmur3 ``hash()`` differs from DuckDB's, so observable
bucket assignment in correctness queries uses this portable formula.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..common.schema import Schema

# Knuth 32-bit multiplicative hashing constant. Kept small enough that
# key * K stays within int64 for keys < ~4e9 — DuckDB raises on BIGINT
# overflow (no wraparound), so the formula must be overflow-free in both
# engines to be oracle-checkable.
_KNUTH_32 = 2654435761


def pk_repartition(df: DataFrame, schema: Schema, num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition a changelog DataFrame by its primary key columns.

    Falls back to all columns if the table declares no PK (same effect as the
    reference hashing the whole row).

    The composer runs it in front of every sink whose
    ``needs_pk_partitioning`` is True: the distributed writers (lake,
    parquet, jdbc, kafka, ...) need all changes of one key in one task.
    ``MemorySink`` opts out: it collects the batch to the driver and
    sorts it by ``__seq``, so the shuffle would only add a Spark job.
    """
    keys = [c for c in schema.primary_keys if c in df.columns] or [
        c.name for c in schema.columns if c.name in df.columns
    ]
    cols = [F.col(k) for k in keys]
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)


def portable_bucket_expr(key: Column, num_buckets: int) -> Column:
    """Deterministic bucket id computable identically in Spark SQL and ANSI
    SQL (DuckDB): ``((key * K) % 2^31) % n`` over BIGINT arithmetic."""
    mixed = (key.cast("bigint") * F.lit(_KNUTH_32)) % F.lit(1 << 31)
    return F.abs(mixed) % F.lit(num_buckets)


def portable_bucket_sql(key_sql: str, num_buckets: int) -> str:
    """The same bucket formula as ANSI SQL text (for DuckDB oracles)."""
    return (
        f"abs(((CAST({key_sql} AS BIGINT) * {_KNUTH_32}) % {1 << 31})) % {num_buckets}"
    )


def portable_bucket_py(key: int, num_buckets: int) -> int:
    """Driver-side Python replica of :func:`portable_bucket_expr` —
    BIT-IDENTICAL to the Spark expression including Java semantics the
    Python operators don't share: the 64-bit two's-complement wrap of
    ``key * K`` (Spark non-ANSI longs wrap; Python ints don't) and
    ``%`` keeping the DIVIDEND's sign (Java) rather than the divisor's
    (Python).  Lets planners compute a row's bucket without a Spark job
    (e.g. lake-sink point-lookup pruning); equivalence is pinned by
    test against the expression over adversarial keys."""
    prod = (int(key) * _KNUTH_32) & ((1 << 64) - 1)
    if prod >= 1 << 63:
        prod -= 1 << 64
    m = prod % (1 << 31)
    if prod < 0 and m != 0:
        m -= 1 << 31
    return abs(m) % num_buckets
