"""Seeded change-log generators and the engine-independent oracle.

Nothing here imports Spark or the engine except the binlog wire writer,
which only produces bytes.  Each workload object yields one change-log file
per micro-batch (Debezium-JSON lines, or a MySQL binlog file) and replays
the same events into an expected sink state, so the benchmark can compare
what the engine committed with what the log says should be there.

Base tables are synthetic rows with the TPC-H ``orders`` and ``customer``
column layouts, drawn from the workload seed, so a run reads no file
outside its own directory.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
WORDS = ("quick", "slyly", "final", "ironic", "bold", "pending", "furious",
         "regular", "express", "careful", "even", "silent", "blithe")


@dataclass
class Batch:
    """One micro-batch's change-log file plus what the harness needs to
    know about it (it never inspects the bytes)."""

    name: str
    data: bytes
    events: int
    sink_tables: set = field(default_factory=set)  # tables with routed events
    ddl: bool = False


class Oracle:
    """Replays change events per source table: ``state[src][key] = image``.

    ``apply`` takes events in log order, with op ``c``/``u``/``d`` and the
    full row image (the before-image for ``d``)."""

    def __init__(self) -> None:
        self.state: dict[str, dict] = {}

    def apply(self, src: str, op: str, key, image: dict | None) -> None:
        table = self.state.setdefault(src, {})
        if op == "d":
            table.pop(key, None)
        else:
            table[key] = image


class LiveKeys:
    """Keys present in a source table: O(1) add and drop, seeded pick."""

    def __init__(self) -> None:
        self._keys: list = []
        self._pos: dict = {}

    def __len__(self) -> int:
        return len(self._keys)

    def add(self, key) -> None:
        self._pos[key] = len(self._keys)
        self._keys.append(key)

    def drop(self, key) -> None:
        i = self._pos.pop(key)
        last = self._keys.pop()
        if last != key:
            self._keys[i] = last
            self._pos[last] = i

    def pick(self, rng: random.Random):
        return self._keys[rng.randrange(len(self._keys))]


def compare(expected: dict, actual: dict) -> int:
    """Rows that differ between two ``{sink_table: {key: row}}`` states:
    missing, stale (different values) and unexpected rows each count once."""
    bad = 0
    for tbl in set(expected) | set(actual):
        exp, got = expected.get(tbl, {}), actual.get(tbl, {})
        bad += sum(1 for k, v in exp.items() if got.get(k) != v)
        bad += sum(1 for k in got if k not in exp)
    return bad


def expected_rows(expected: dict) -> int:
    return sum(len(t) for t in expected.values())


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _dumps(rec: dict) -> str:
    return json.dumps(rec, separators=(",", ":"))


class _DebeziumLog:
    """Shared Debezium-JSON line writer; ``ts_ms`` is a global sequence so
    every key's events have a strict order (the engine's ``__seq``)."""

    def __init__(self, seed_tag: str) -> None:
        self.rng = random.Random(seed_tag)
        self.oracle = Oracle()
        self.seq = 0
        self.next_batch = 0

    def record(self, db: str, schema: str, table: str, op: str,
               before: dict | None, after: dict | None) -> str:
        self.seq += 1
        return _dumps({"before": before, "after": after, "op": op,
                       "ts_ms": self.seq,
                       "source": {"db": db, "schema": schema,
                                  "table": table}})


class BackfillLake(_DebeziumLog):
    """``orders`` insert backlog drained in fixed batches, then churn
    batches of updates (80%) and deletes (20%) over live keys."""

    name = "backfill_lake"
    SRC = "tpch.public.orders"
    SINK = "lake.db.orders_open"
    DDL = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
           "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING, "
           "o_clerk STRING, o_shippriority INT, o_comment STRING")
    SINK_COLUMNS = ("o_orderkey", "o_custkey", "status", "o_totalprice",
                    "o_orderdate", "o_orderpriority")

    def __init__(self, seed: int, rows: int = 150_000,
                 batch_events: int = 10_000) -> None:
        super().__init__(f"{self.name}:{seed}")
        self.rows, self.batch_events = rows, batch_events
        # orderkeys are sparse like TPC-H's; the permutation is the seed's
        self.keys = [k * 4 + self.rng.randrange(4) for k in range(rows)]
        self.rng.shuffle(self.keys)
        self.live = LiveKeys()
        self.cursor = 0

    def yaml(self, work: str) -> str:
        return f"""
source:
  type: debezium-file
  path: {work}/in
  tables: '{json.dumps({self.SRC: self.DDL})}'
  primary-keys: '{json.dumps({self.SRC: ["o_orderkey"]})}'
  checkpoint: {work}/ckpt
sink:
  type: paimon
  path: {work}/lake
  snapshots: true
  changelog-mode: mor
transform:
  - source-table: tpch.public.\\.*
    projection: "o_orderkey, o_custkey, UPPER(o_orderstatus) AS status, o_totalprice, o_orderdate, o_orderpriority"
    filter: "o_orderpriority <> '5-LOW'"
route:
  - source-table: {self.SRC}
    sink-table: {self.SINK}
"""

    def _order(self, key: int) -> dict:
        r = self.rng
        return {"o_orderkey": key, "o_custkey": r.randrange(1, 15_001),
                "o_orderstatus": r.choice("OFP"),
                "o_totalprice": round(r.uniform(850.0, 550_000.0), 2),
                "o_orderdate": "199%d-%02d-%02d" % (
                    r.randrange(2, 9), r.randrange(1, 13),
                    r.randrange(1, 29)),
                "o_orderpriority": r.choice(PRIORITIES),
                "o_clerk": "Clerk#%09d" % r.randrange(1, 1001),
                "o_shippriority": 0, "o_comment": _words(r, 6)}

    def _emit(self, lines: list, op: str, before, after) -> None:
        lines.append(self.record("tpch", "public", "orders", op,
                                 before, after))
        img = after if after is not None else before
        self.oracle.apply(self.SRC, op, img["o_orderkey"], img)

    def batch(self) -> Batch:
        lines: list[str] = []
        while self.cursor < self.rows and len(lines) < self.batch_events:
            row = self._order(self.keys[self.cursor])
            self.cursor += 1
            self._emit(lines, "c", None, row)
            self.live.add(row["o_orderkey"])
        table = self.oracle.state.get(self.SRC, {})
        while len(lines) < self.batch_events and self.live:
            key = self.live.pick(self.rng)
            before = table[key]
            if self.rng.random() < 0.8:
                after = dict(before, o_orderstatus=self.rng.choice("OFP"),
                             o_totalprice=round(
                                 before["o_totalprice"]
                                 * self.rng.uniform(0.9, 1.1), 2),
                             o_comment=_words(self.rng, 4))
                self._emit(lines, "u", before, after)
            else:
                self._emit(lines, "d", before, None)
                self.live.drop(key)
        b = self.next_batch
        self.next_batch += 1
        return Batch(f"b{b:06d}.json", ("\n".join(lines) + "\n").encode(),
                     len(lines), {self.SINK})

    def expected(self) -> dict:
        out = {}
        for key, row in self.oracle.state.get(self.SRC, {}).items():
            if row["o_orderpriority"] == "5-LOW":
                continue
            out[key] = (key, row["o_custkey"], row["o_orderstatus"].upper(),
                        row["o_totalprice"], row["o_orderdate"],
                        row["o_orderpriority"])
        return {self.SINK: out}


class TailTables(_DebeziumLog):
    """``tables`` registered tables; every batch's events hit only
    ``active`` of them (inserts 25%, updates 50%, deletes 25%, so table
    sizes stay level and every batch costs the same however many run)."""

    name = "tail"
    DDL = "id BIGINT, v STRING, n INT, note STRING"

    def __init__(self, seed: int, tables: int, active: int = 2,
                 batch_events: int = 400, base_rows: int = 200) -> None:
        super().__init__(f"tail_{tables}t:{seed}")
        self.name = f"tail_{tables}t"
        self.tables = [f"t{i:03d}" for i in range(tables)]
        self.active, self.batch_events = active, batch_events
        self.base_rows = base_rows
        self.next_id = {t: 0 for t in self.tables}
        self.live = {t: LiveKeys() for t in self.tables}

    @staticmethod
    def tid(t: str) -> str:
        return f"inv.public.{t}"

    def yaml(self, work: str) -> str:
        tables = {self.tid(t): self.DDL for t in self.tables}
        pks = {self.tid(t): ["id"] for t in self.tables}
        return f"""
source:
  type: debezium-file
  path: {work}/in
  tables: '{json.dumps(tables)}'
  primary-keys: '{json.dumps(pks)}'
  checkpoint: {work}/ckpt
sink:
  type: values
transform:
  - source-table: inv.public.\\.*
    projection: "id, v, n"
"""

    def _row(self, key: int) -> dict:
        return {"id": key, "v": "v%d" % self.rng.randrange(10**6),
                "n": self.rng.randrange(1000), "note": _words(self.rng, 3)}

    def _emit(self, lines: list, t: str, op: str, before, after) -> None:
        lines.append(self.record("inv", "public", t, op, before, after))
        img = after if after is not None else before
        self.oracle.apply(self.tid(t), op, img["id"], img)

    def _insert(self, lines: list, t: str) -> None:
        key = self.next_id[t]
        self.next_id[t] += 1
        self._emit(lines, t, "c", None, self._row(key))
        self.live[t].add(key)

    def batch(self) -> Batch:
        lines: list[str] = []
        b = self.next_batch
        self.next_batch += 1
        if b == 0:
            # the warm-up batch seeds every registered table
            for t in self.tables:
                for _ in range(self.base_rows):
                    self._insert(lines, t)
            touched = self.tables
        else:
            touched = self.rng.sample(self.tables, self.active)
            for _ in range(self.batch_events):
                t = self.rng.choice(touched)
                live = self.live[t]
                p = self.rng.random()
                if p < 0.25 or len(live) < 2:
                    self._insert(lines, t)
                    continue
                key = live.pick(self.rng)
                before = self.oracle.state[self.tid(t)][key]
                if p < 0.75:
                    self._emit(lines, t, "u", before, self._row(key))
                else:
                    self._emit(lines, t, "d", before, None)
                    live.drop(key)
        return Batch(f"b{b:06d}.json", ("\n".join(lines) + "\n").encode(),
                     len(lines), {self.tid(t) for t in touched})

    def expected(self) -> dict:
        """Rendered like ``MemorySink.snapshot`` (projection ``id, v, n``)."""
        return {self.tid(t): {k: f"{k}, {r['v']}, {r['n']}"
                              for k, r in self.oracle.state.get(
                                  self.tid(t), {}).items()}
                for t in self.tables}


class WireMerge:
    """``customer`` split over ``shards`` binlog tables (key % shards),
    route-merged into one JDBC table.  Batch 0 inserts the base rows; later
    batches carry updates (80%), deletes (10%) and inserts of new keys
    (10%), so the table size stays level and every batch costs the same
    however many run.  Every shard runs ``ALTER TABLE ... ADD COLUMN
    c_tier`` in batch ``alter_at``, so one measured batch carries the DDL
    and the median batch never does."""

    name = "wire_merge"
    SINK = "dw.public.customer"
    COLUMNS = ("c_custkey", "c_name", "c_address", "c_nationkey", "c_phone",
               "c_acctbal", "c_mktsegment", "c_comment", "c_tier")

    def __init__(self, seed: int, rows: int = 1_500, shards: int = 4,
                 batch_events: int = 800, alter_at: int = 3) -> None:
        from source_flink_cdc_3_5_0_spark.sources import mysql_binlog as mb

        self.mb = mb
        self.rng = random.Random(f"{self.name}:{seed}")
        self.oracle = Oracle()
        self.rows, self.shards = rows, shards
        self.batch_events, self.alter_at = batch_events, alter_at
        self.next_batch = 0
        self.inserted = 0
        self.live = LiveKeys()
        base = (
            mb.BinlogColumn("c_custkey", mb.MYSQL_TYPE_LONG, (), False, False),
            mb.BinlogColumn("c_name", mb.MYSQL_TYPE_VARCHAR, (100,)),
            mb.BinlogColumn("c_address", mb.MYSQL_TYPE_VARCHAR, (160,)),
            mb.BinlogColumn("c_nationkey", mb.MYSQL_TYPE_LONG, ()),
            mb.BinlogColumn("c_phone", mb.MYSQL_TYPE_VARCHAR, (60,)),
            mb.BinlogColumn("c_acctbal", mb.MYSQL_TYPE_DOUBLE, (8,)),
            mb.BinlogColumn("c_mktsegment", mb.MYSQL_TYPE_VARCHAR, (40,)),
            mb.BinlogColumn("c_comment", mb.MYSQL_TYPE_VARCHAR, (468,)))
        tier = mb.BinlogColumn("c_tier", mb.MYSQL_TYPE_VARCHAR, (64,))
        self.maps = {s: mb.BinlogTableMap(100 + s, "crm", f"customer_{s}",
                                          base, (0,))
                     for s in range(shards)}
        self.maps_after = {s: mb.BinlogTableMap(200 + s, "crm",
                                                f"customer_{s}",
                                                base + (tier,), (0,))
                           for s in range(shards)}

    def src(self, s: int) -> str:
        return f"crm.customer_{s}"

    def yaml(self, work: str) -> str:
        return f"""
source:
  type: mysql-binlog-file
  path: {work}/in
  checkpoint: {work}/ckpt
sink:
  type: jdbc
  database: {work}/sink.db
route:
  - source-table: crm.customer_\\.*
    sink-table: {self.SINK}
"""

    def _customer(self, key: int) -> dict:
        r = self.rng
        return {"c_custkey": key, "c_name": "Customer#%09d" % key,
                "c_address": _words(r, 3), "c_nationkey": r.randrange(25),
                "c_phone": "%02d-%03d-%03d-%04d" % (
                    r.randrange(10, 35), r.randrange(1000),
                    r.randrange(1000), r.randrange(10000)),
                "c_acctbal": round(r.uniform(-999.99, 9999.99), 2),
                "c_mktsegment": r.choice(SEGMENTS),
                "c_comment": _words(r, 8)}

    def _shard(self, key: int) -> int:
        return key % self.shards

    def batch(self) -> Batch:
        mb = self.mb
        b = self.next_batch
        self.next_batch += 1
        altered = set(range(self.shards)) if b >= self.alter_at else set()
        # events grouped per shard (one transaction each); keys never span
        # shards, so the oracle may apply them in generation order
        per: dict[int, list] = {s: [] for s in range(self.shards)}
        if b == 0:
            for key in range(1, self.rows + 1):
                s = self._shard(key)
                row = self._customer(key)
                per[s].append(("c", None, row))
                self.oracle.apply(self.src(s), "c", key, row)
                self.live.add(key)
        else:
            for _ in range(self.batch_events):
                p = self.rng.random()
                if p < 0.1 or len(self.live) < 2:
                    key = self.rows + self.inserted + 1
                    self.inserted += 1
                    s = self._shard(key)
                    row = self._customer(key)
                    if s in altered:
                        row["c_tier"] = "new"
                    per[s].append(("c", None, row))
                    self.oracle.apply(self.src(s), "c", key, row)
                    self.live.add(key)
                    continue
                key = self.live.pick(self.rng)
                s = self._shard(key)
                before = self.oracle.state[self.src(s)][key]
                if p < 0.9:
                    after = dict(before,
                                 c_acctbal=round(self.rng.uniform(
                                     -999.99, 9999.99), 2),
                                 c_comment=_words(self.rng, 8))
                    if s in altered:
                        after["c_tier"] = self.rng.choice(
                            ("gold", "silver", "bronze"))
                    per[s].append(("u", before, after))
                    self.oracle.apply(self.src(s), "u", key, after)
                else:
                    per[s].append(("d", before, None))
                    self.oracle.apply(self.src(s), "d", key, None)
                    self.live.drop(key)
        w = mb.BinlogWriter(server_id=1)
        kinds = {"c": mb.WRITE_ROWS_EVENT, "u": mb.UPDATE_ROWS_EVENT,
                 "d": mb.DELETE_ROWS_EVENT}
        for s in range(self.shards):
            if b == self.alter_at:
                w.query(f"ALTER TABLE customer_{s} ADD COLUMN c_tier "
                        "VARCHAR(16)", "crm")
            if not per[s]:
                continue
            tmap = self.maps_after[s] if s in altered else self.maps[s]
            w.table_map(tmap)
            for op, before, after in per[s]:
                w.rows(tmap, kinds[op], [after if op == "c" else
                                         before if op == "d"
                                         else (before, after)])
            w.xid(b * self.shards + s + 1)
        w.rotate("mysql-bin.%06d" % (b + 2))
        ddl = b == self.alter_at
        return Batch("mysql-bin.%06d" % (b + 1), w.getvalue(),
                     sum(len(e) for e in per.values()), {self.SINK}, ddl)

    def _merged(self, shards) -> dict:
        out = {}
        for s in shards:
            for key, row in self.oracle.state.get(self.src(s), {}).items():
                out[key] = tuple(row.get(c) for c in self.COLUMNS)
        return {self.SINK: out}

    def expected(self) -> dict:
        return self._merged(range(self.shards))

    def expected_single_shard(self, s: int) -> dict:
        """The sink state if only shard ``s``'s writes landed — the
        signature of a route merge whose replay marker is keyed by (sink
        table, batch id), so the first source table's write per batch
        marks the batch done for the other shards."""
        return self._merged([s])
