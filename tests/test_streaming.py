"""Streaming-mode tests: Debezium codec round trip, file-stream pipeline,
checkpoint restart idempotence (SURVEY.md §7 Stage 5)."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F, types as T

from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
from source_flink_cdc_3_5_0_spark.common.events import BEFORE_COL, OP_COL
from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL, attach_envelope
from source_flink_cdc_3_5_0_spark.sources.debezium import (
    decode_debezium,
    encode_canal,
    encode_debezium,
)
from source_flink_cdc_3_5_0_spark.streaming.runner import StreamingPipeline, file_stream_source

TID = TableId.parse("inventory.db.products")
SCHEMA = Schema.of(
    Column("id", T.LongType(), False),
    Column("name", T.StringType()),
    Column("weight", T.DoubleType()),
    primary_keys=["id"],
)


def dbz(op, after=None, before=None, ts=0):
    return json.dumps({
        "before": before, "after": after, "op": op, "ts_ms": ts,
        "source": {"db": "inventory", "schema": "db", "table": "products"},
    })


EVENTS_1 = [
    dbz("c", {"id": 1, "name": "bolt", "weight": 1.5}, ts=1),
    dbz("c", {"id": 2, "name": "nut", "weight": 0.4}, ts=2),
    dbz("r", {"id": 3, "name": "washer", "weight": 0.1}, ts=3),
]
EVENTS_2 = [
    dbz("u", {"id": 2, "name": "nut-v2", "weight": 0.5},
        {"id": 2, "name": "nut", "weight": 0.4}, ts=4),
    dbz("d", None, {"id": 3, "name": "washer", "weight": 0.1}, ts=5),
]


class TestDebeziumCodec:
    def test_decode(self, spark):
        raw = spark.createDataFrame([(v,) for v in EVENTS_1 + EVENTS_2], "value STRING")
        out = decode_debezium(raw, SCHEMA.struct_type())
        rows = {(r["id"], r[OP_COL]): r for r in out.collect()}
        assert rows[(1, "+I")]["name"] == "bolt"
        assert rows[(2, "+U")]["name"] == "nut-v2"
        assert rows[(2, "+U")][BEFORE_COL]["name"] == "nut"
        assert rows[(3, "-D")]["name"] == "washer"  # delete carries before image

    def test_encode_roundtrip(self, spark):
        raw = spark.createDataFrame([(v,) for v in EVENTS_2], "value STRING")
        decoded = decode_debezium(raw, SCHEMA.struct_type())
        encoded = encode_debezium(decoded, TID, SCHEMA)
        back = decode_debezium(encoded, SCHEMA.struct_type())
        rows = {(r["id"], r[OP_COL]): r for r in back.collect()}
        assert rows[(2, "+U")]["name"] == "nut-v2"
        assert rows[(2, "+U")][BEFORE_COL]["name"] == "nut"
        assert rows[(3, "-D")]["name"] == "washer"
        keys = [json.loads(r["key"]) for r in encoded.collect()]
        assert {k["id"] for k in keys} == {2, 3}

    def test_encode_canal(self, spark):
        raw = spark.createDataFrame([(v,) for v in EVENTS_2], "value STRING")
        decoded = decode_debezium(raw, SCHEMA.struct_type())
        vals = [json.loads(r["value"]) for r in encode_canal(decoded, TID, SCHEMA).collect()]
        by_type = {v["type"]: v for v in vals}
        assert by_type["UPDATE"]["data"][0]["name"] == "nut-v2"
        assert by_type["UPDATE"]["old"][0]["name"] == "nut"
        assert by_type["DELETE"]["data"][0]["id"] == 3
        assert by_type["UPDATE"]["table"] == "products"


def _write_events(d, name, events):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(events))


class TestStreamingPipeline:
    def test_stream_then_restart(self, spark, tmp_path):
        src = str(tmp_path / "stream_in")
        ckpt = str(tmp_path / "ckpt")
        _write_events(src, "part1.jsonl", EVENTS_1)

        sink = MemorySink()

        def run_once():
            pipe = StreamingPipeline.create(spark, sink, ckpt)
            q = pipe.start(file_stream_source(spark, src),
                           {"inventory.db.products": SCHEMA})
            q.awaitTermination(120)
            return pipe

        run_once()
        assert sink.snapshot(TID) == ["1, bolt, 1.5", "2, nut, 0.4", "3, washer, 0.1"]

        # second tranche: update + delete, then restart from checkpoint
        _write_events(src, "part2.jsonl", EVENTS_2)
        run_once()
        assert sink.snapshot(TID) == ["1, bolt, 1.5", "2, nut-v2, 0.5"]

        # third restart with no new data: no reprocessing, state unchanged
        run_once()
        assert sink.snapshot(TID) == ["1, bolt, 1.5", "2, nut-v2, 0.5"]

    def test_stream_with_transform(self, spark, tmp_path):
        from source_flink_cdc_3_5_0_spark.operators.transform import TransformRule

        src = str(tmp_path / "in2")
        ckpt = str(tmp_path / "ckpt2")
        _write_events(src, "p.jsonl", EVENTS_1)
        sink = MemorySink()
        pipe = StreamingPipeline.create(
            spark, sink, ckpt,
            transforms=[TransformRule(
                source_table="inventory.db.\\.*",
                projection="id, UPPER(name) AS name_u",
                filter="weight < 1.0",
            )])
        q = pipe.start(file_stream_source(spark, src), {"inventory.db.products": SCHEMA})
        q.awaitTermination(120)
        assert sink.snapshot(TID) == ["2, NUT", "3, WASHER"]


class TestKafkaSinkLocal:
    def test_local_topic_dir(self, spark, tmp_path):
        out = str(tmp_path / "kafka_out")
        sink = KafkaChangelogSink(output_dir=out)
        df = attach_envelope(spark.createDataFrame(
            [Row(id=1, name="a", weight=1.0)], SCHEMA.struct_type()))
        sink.write(TID, df, SCHEMA, batch_id=0)
        sink.write(TID, df, SCHEMA, batch_id=0)  # replay -> idempotent
        topic_dir = os.path.join(out, "inventory.db.products")
        batches = os.listdir(topic_dir)
        assert batches == ["batch_0"]
        lines = spark.read.text(os.path.join(topic_dir, "batch_0")).collect()
        v = json.loads(lines[0]["value"])
        assert v["op"] == "c" and v["after"]["name"] == "a"


class TestMorLakeStreaming:
    def test_stream_into_merge_on_read_lake(self, spark, tmp_path):
        """The streaming runner drives the merge-on-read lake sink like
        any DataSink: each micro-batch lands as an append-only delta
        commit, a checkpoint restart replays as a no-op (batch markers),
        and the merged read equals the memory-sink golden state."""
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import (
            SnapshotLakeSink,
        )

        src = str(tmp_path / "in_mor")
        ckpt = str(tmp_path / "ckpt_mor")
        _write_events(src, "p1.jsonl", EVENTS_1)
        sink = SnapshotLakeSink(str(tmp_path / "lake_mor"), num_buckets=2,
                                mode="mor")

        def run_once():
            pipe = StreamingPipeline.create(spark, sink, ckpt)
            q = pipe.start(file_stream_source(spark, src),
                           {"inventory.db.products": SCHEMA})
            q.awaitTermination(120)

        run_once()
        m = sink._manifest(TID)
        assert m.get("deltas") and not m["buckets"]  # append-only commit
        _write_events(src, "p2.jsonl", EVENTS_2)
        run_once()
        rows = {(r["id"], r["name"], r["weight"])
                for r in sink.read(spark, TID).collect()}
        assert rows == {(1, "bolt", 1.5), (2, "nut-v2", 0.5)}
        n_snaps = len(sink.snapshots(TID))
        run_once()  # restart, no new data: no extra snapshot
        assert len(sink.snapshots(TID)) == n_snaps
        sink.compact(spark, TID)
        rows2 = {(r["id"], r["name"], r["weight"])
                 for r in sink.read(spark, TID).collect()}
        assert rows2 == rows


def test_two_schemas_same_table_name_do_not_cross_contaminate(
        spark, tmp_path):
    """Round-9 review: routing collapsed (db, schema) with coalesce, so
    inventory.s1.products and inventory.s2.products each received BOTH
    schemas' rows on a stream where db AND schema are set (real
    Debezium postgres/sqlserver shape). Each table must get exactly its
    own rows."""
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.streaming.runner import (
        StreamingPipeline, file_stream_source)

    src = tmp_path / "stream"
    src.mkdir()

    def rec(schema_name, k, v):
        return json.dumps({
            "op": "c", "ts_ms": k,
            "source": {"db": "inventory", "schema": schema_name,
                       "table": "products"},
            "after": {"id": k, "v": v}})

    (src / "b1.json").write_text("\n".join([
        rec("s1", 1, "one-s1"), rec("s2", 2, "two-s2"),
        rec("s1", 3, "three-s1")]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(
        spark, sink, checkpoint_dir=str(tmp_path / "ckpt"))
    schema = Schema.of(Column("id", T.IntegerType(), False),
                       Column("v", T.StringType()), primary_keys=["id"])
    q = pipe.start(file_stream_source(spark, str(src)), {
        "inventory.s1.products": schema,
        "inventory.s2.products": schema})
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("inventory.s1.products")) == \
        ["1, one-s1", "3, three-s1"]
    assert sink.snapshot(TableId.parse("inventory.s2.products")) == \
        ["2, two-s2"]


# ---------------------------------------------------------------------------
# active-table micro-batch loop: registered tables with no rows in a batch
# are skipped without a Spark job; their final sink state must equal the
# loop that ran every registered table (the "all-active" reference below)
# ---------------------------------------------------------------------------

def _rec(db, schema, table, op, key, v=None, ts=0):
    img = {"id": key, "v": v}
    return json.dumps({
        "before": img if op in ("u", "d") else None,
        "after": None if op == "d" else img, "op": op, "ts_ms": ts,
        "source": {"db": db, "schema": schema, "table": table}})


KV = Schema.of(Column("id", T.LongType(), False), Column("v", T.StringType()),
               primary_keys=["id"])


def _stream(spark, tmp_path, monkeypatch, name, batches, tables,
            all_active=False, setup=None, **create_kw):
    """Run ``batches`` (lists of JSON lines) as consecutive micro-batches
    into a fresh MemorySink. ``all_active`` runs the reference loop: every
    registered table through the full decode → transform → repartition →
    write chain, as before idle tables were skipped."""
    src, ckpt = str(tmp_path / f"{name}_in"), str(tmp_path / f"{name}_ckpt")
    sink = MemorySink()
    with monkeypatch.context() as m:
        if all_active:
            m.setattr(StreamingPipeline, "_tid_match_py",
                      staticmethod(lambda *a: True))
            sink.needs_pk_partitioning = True
        pipe = StreamingPipeline.create(spark, sink, ckpt, **create_kw)
        if setup is not None:
            setup(pipe)
        for i, lines in enumerate(batches):
            _write_events(src, f"b{i:03d}.jsonl", lines)
            pipe.start(file_stream_source(spark, src),
                       dict(tables)).awaitTermination(120)
    return sink, pipe


def _assert_same_as_all_active(spark, tmp_path, monkeypatch, batches, tables,
                               **kw):
    new, _ = _stream(spark, tmp_path, monkeypatch, "new", batches, tables,
                     **kw)
    ref, _ = _stream(spark, tmp_path, monkeypatch, "ref", batches, tables,
                     all_active=True, **kw)
    assert new.schemas == ref.schemas
    assert new.state == ref.state
    return new


class TestTidMatchTwin:
    # adversarial registered ids: 3-part, 2-part, 1-part, case and
    # whitespace near-misses, an empty schema part, non-ASCII names
    TIDS = [TableId.parse(s) for s in (
        "inv.s.products", "inv.s2.products", "s.products", "inv.products",
        "S.products", "products", "inv.s.Products", "inv. s.products",
        "prodüct.s.t", "s.prodüct")] + [
        TableId("inv", "", "products"), TableId("", "", "")]
    DBS = (None, "inv", "s", "", "INV", "prodüct")
    SCHEMAS = (None, "s", "s2", "inv", "", "S")
    TABLES = (None, "products", "Products", "products ", "", "t", "prodüct")

    def test_python_twin_matches_column_predicate(self, spark):
        """_tid_match_py must keep exactly the coordinate tuples the
        _tid_match Column predicate keeps: null db or schema, 2- vs 3-part
        ids, sources that set both coordinates (Debezium postgres /
        sqlserver), two schemas sharing one table name. A disagreement
        skips a table that has rows, silently dropping its events."""
        import itertools

        coords = list(itertools.product(self.DBS, self.SCHEMAS, self.TABLES))
        df = spark.createDataFrame(
            [(i, *c) for i, c in enumerate(coords)],
            "i INT, __src_db STRING, __src_schema STRING, __src_tbl STRING"
        ).cache()
        try:
            for tid in self.TIDS:
                got = {r.i for r in df.where(
                    StreamingPipeline._tid_match(tid)).select("i").collect()}
                want = {i for i, c in enumerate(coords)
                        if StreamingPipeline._tid_match_py(tid, *c)}
                assert got == want, (tid, [coords[i] for i in got ^ want])
        finally:
            df.unpersist()
        # the pin is not vacuous: both outcomes occur for real ids
        tid = TableId.parse("inv.s.products")
        assert StreamingPipeline._tid_match_py(tid, "inv", "s", "products")
        assert not StreamingPipeline._tid_match_py(
            tid, "inv", "s2", "products")


def _jobs_since(spark, last):
    """Spark jobs with an id above ``last`` and the newest id, read from
    the status store (foreachBatch jobs run on the stream thread, outside
    any job group of the test's thread)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    n, top = 0, last
    while it.hasNext():  # newest first
        job_id = it.next().jobId()
        if job_id <= last:
            break
        n, top = n + 1, max(top, job_id)
    return n, top


class TestActiveTableLoop:
    def _jobs_per_batch(self, spark, tmp_path, n_tables, **create_kw):
        """Spark jobs of one micro-batch with rows for 2 of ``n_tables``
        registered tables (after a warm-up batch on the same shape)."""
        tables = {f"inv.s.t{i:02d}": KV for i in range(n_tables)}
        hot = ("t00", f"t{n_tables - 1:02d}")

        def batch(k):
            return [_rec("inv", "s", t, "c", k * 10 + j, f"v{j}", ts=k * 10 + j)
                    for j, t in enumerate(hot * 3)]

        src = str(tmp_path / f"jobs{n_tables}_in")
        sink = MemorySink()
        pipe = StreamingPipeline.create(
            spark, sink, str(tmp_path / f"jobs{n_tables}_ckpt"), **create_kw)
        _write_events(src, "b0.jsonl", batch(0))
        pipe.start(file_stream_source(spark, src),
                   dict(tables)).awaitTermination(120)
        _, last = _jobs_since(spark, -1)
        _write_events(src, "b1.jsonl", batch(1))
        pipe.start(file_stream_source(spark, src),
                   dict(tables)).awaitTermination(120)
        jobs, _ = _jobs_since(spark, last)
        for t in hot:
            assert sink.row_count(TableId.parse(f"inv.s.{t}")) == 6
        return jobs

    def test_jobs_per_batch_scale_with_active_tables_not_registered(
            self, spark, tmp_path):
        """A micro-batch with 2 active tables runs the same number of Spark
        jobs whether 2, 8 or 32 tables are registered, and at most
        2 x active + 3 (one cache-filling DDL collect, the active-table
        probe, one write per active table). The loop that ran every
        registered table paid 2N + 1."""
        jobs = {n: self._jobs_per_batch(spark, tmp_path, n)
                for n in (2, 8, 32)}
        assert len(set(jobs.values())) == 1, jobs
        assert jobs[32] <= 2 * 2 + 3, jobs

    def test_discovery_reuses_the_active_table_probe(self, spark, tmp_path):
        """discover-tables reads new tables from the loop's own probe: a
        batch with no new table costs the same jobs with it on or off."""
        off = self._jobs_per_batch(spark, tmp_path / "off", 8)
        on = self._jobs_per_batch(spark, tmp_path / "on", 8,
                                  discover_tables=True)
        assert on == off

    def test_table_discovered_mid_stream_lands_in_same_batch(
            self, spark, tmp_path, monkeypatch):
        """A table first seen in the second batch is registered from that
        batch's probe and its rows land in that same batch."""
        known = {"inv.s.products": KV}
        b0 = [_rec("inv", "s", "products", "c", 1, "bolt", ts=1)]
        b1 = [_rec("inv", "s", "products", "u", 1, "bolt2", ts=2),
              _rec("inv", "s", "late", "c", 7, "new", ts=3),
              _rec("inv", "s", "late", "c", 8, "newer", ts=4)]
        sink, pipe = _stream(spark, tmp_path, monkeypatch, "disc", [b0],
                             known, discover_tables=True)
        late = TableId.parse("inv.s.late")
        assert late not in sink.schemas
        _write_events(str(tmp_path / "disc_in"), "b001.jsonl", b1)
        pipe.start(file_stream_source(spark, str(tmp_path / "disc_in")),
                   dict(known)).awaitTermination(120)
        assert sink.snapshot(late) == ["7, new", "8, newer"]
        assert sink.snapshot(TableId.parse("inv.s.products")) == ["1, bolt2"]

    def test_truncate_and_drop_for_idle_tables_still_apply(
            self, spark, tmp_path, monkeypatch):
        """TRUNCATE and DROP control records for tables with no rows in
        their batch reach the sink exactly as they did when every
        registered table ran the full chain."""
        tables = {f"inv.s.{t}": KV for t in ("a", "b", "c", "d")}
        b0 = [_rec("inv", "s", t, "c", k, f"{t}{k}", ts=k)
              for k, t in enumerate("abcd" * 2)]
        b1 = [_rec("inv", "s", "a", "u", 0, "a0-v2", ts=20),
              json.dumps({"databaseName": "inv.s",
                          "ddl": "TRUNCATE TABLE b", "ts_ms": 21}),
              json.dumps({"databaseName": "inv.s",
                          "ddl": "DROP TABLE c", "ts_ms": 22}),
              _rec("inv", "s", "a", "c", 30, "a30", ts=23)]
        sink = _assert_same_as_all_active(
            spark, tmp_path, monkeypatch, [b0, b1], tables)
        assert sink.snapshot(TableId.parse("inv.s.a")) == [
            "0, a0-v2", "30, a30", "4, a4"]
        assert sink.snapshot(TableId.parse("inv.s.b")) == []
        assert TableId.parse("inv.s.c") not in sink.state
        assert sink.snapshot(TableId.parse("inv.s.d")) == ["3, d3", "7, d7"]

    def test_idle_batches_keep_the_snapshot_watermark_stitch(
            self, spark, tmp_path, monkeypatch):
        """initial_load tables stay stitched at their high watermark while
        idle: a table that is idle in one batch still drops its at-or-below
        -watermark records when it becomes active later."""
        tables = {"inv.s.a": KV, "inv.s.b": KV}

        def setup(pipe):
            for t in tables:
                pipe.register_table(TableId.parse(t), KV)
            snaps = {t: spark.createDataFrame(
                [(1, f"{t[-1]}1-snap"), (2, f"{t[-1]}2-snap")],
                "id LONG, v STRING") for t in tables}
            pipe.initial_load(snaps, stream_watermarks={t: 10 for t in tables})

        b0 = [_rec("inv", "s", "a", "u", 1, "a1-old", ts=5),
              _rec("inv", "s", "a", "c", 3, "a3", ts=20)]
        b1 = [_rec("inv", "s", "b", "u", 2, "b2-old", ts=6),
              _rec("inv", "s", "b", "u", 1, "b1-new", ts=30)]
        sink = _assert_same_as_all_active(
            spark, tmp_path, monkeypatch, [b0, b1], tables, setup=setup)
        assert sink.snapshot(TableId.parse("inv.s.a")) == [
            "1, a1-snap", "2, a2-snap", "3, a3"]
        assert sink.snapshot(TableId.parse("inv.s.b")) == [
            "1, b1-new", "2, b2-snap"]

    def test_vitess_batch_touching_one_of_two_tables(
            self, spark, tmp_path, monkeypatch):
        """vitess-json: a batch with rows for one of two tables lands the
        same rows as the all-active loop and still advances the VGTID."""
        def vs(table, op, k, v, gtid, ts):
            img = {"id": k, "v": v}
            return json.dumps({
                "before": img if op == "u" else None, "after": img,
                "op": op, "ts_ms": ts,
                "source": {"keyspace": "shop", "table": table,
                           "shard": "-80", "vgtid": json.dumps([
                               {"keyspace": "shop", "shard": "-80",
                                "gtid": gtid}])}})

        tables = {"shop.items": KV, "shop.orders": KV}
        b0 = [vs("items", "c", 1, "i1", "u:1", 1),
              vs("orders", "c", 5, "o5", "u:1-2", 2)]
        b1 = [vs("items", "u", 1, "i1-v2", "u:1-3", 3),
              vs("items", "c", 2, "i2", "u:1-4", 4)]
        sink = _assert_same_as_all_active(
            spark, tmp_path, monkeypatch, [b0, b1], tables,
            serialization="vitess-json")
        assert sink.snapshot(TableId.parse("shop.items")) == [
            "1, i1-v2", "2, i2"]
        assert sink.snapshot(TableId.parse("shop.orders")) == ["5, o5"]
        with open(tmp_path / "new_ckpt" / "vitess_vgtid.json") as f:
            assert "u:1-4" in f.read()

    def test_mongodb_batch_touching_one_of_two_collections(
            self, spark, tmp_path, monkeypatch):
        """mongodb-json: a batch with changes for one of two collections
        lands the same documents as the all-active loop."""
        def ms(coll, op, k, v, ct):
            e = {"_id": {"_data": f"t{ct}"}, "operationType": op,
                 "clusterTime": ct, "ns": {"db": "shop", "coll": coll},
                 "documentKey": {"_id": k}}
            if op != "delete":
                e["fullDocument"] = {"_id": k, "v": v}
            return json.dumps(e)

        doc = Schema.of(Column("_id", T.LongType(), False),
                        Column("v", T.StringType()), primary_keys=["_id"])
        tables = {"shop.items": doc, "shop.tags": doc}
        b0 = [ms("items", "insert", 1, "i1", 1), ms("tags", "insert", 9, "t9", 2),
              ms("items", "insert", 2, "i2", 3)]
        b1 = [ms("items", "replace", 1, "i1-v2", 4),
              ms("items", "delete", 2, None, 5)]
        sink = _assert_same_as_all_active(
            spark, tmp_path, monkeypatch, [b0, b1], tables,
            serialization="mongodb-json")
        assert sink.snapshot(TableId.parse("shop.items")) == ["1, i1-v2"]
        assert sink.snapshot(TableId.parse("shop.tags")) == ["9, t9"]
