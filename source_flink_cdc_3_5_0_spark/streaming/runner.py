"""Structured Streaming runner: the streaming execution mode of the engine.

Parity target: the reference's streaming pipeline (SURVEY.md §3.1/§3.3) —
continuous change capture with exactly-once sink application. On Spark:

- the change stream arrives as a ``readStream`` DataFrame of Debezium-JSON
  records (Kafka in production; file-stream in tests — same code path);
- ``foreachBatch`` is the control loop: the driver decodes each micro-batch
  per table, applies transforms/routes, coerces to the evolved schema and
  hands the result to the sink with the micro-batch id;
- exactly-once = Structured Streaming checkpoint (source offsets) + the
  sink's idempotence per (table, batch_id) — on restart the last batch is
  re-delivered and skipped by the sink's marker (see ParquetUpsertSink);
- schema changes happen *between* micro-batches, the natural FlushEvent
  barrier (§3.3): before processing, each batch's decoded frame is checked
  against the registry's original schema and the evolution path runs first.

At scale: per micro-batch, one cache-filling DDL collect and one distinct
(db, schema, table) collect over the cached batch; then one
decode+transform+merge per ACTIVE table (a table with rows in the batch) —
all Catalyst plans. A registered table with no rows costs no Spark job, so
per-batch work scales with the tables the batch touches, not with the
catalog; the driver does O(tables) bookkeeping only.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..common.events import CreateTableEvent, OP_COL, META_COL
from ..common.schema import Schema
from ..common.tableid import TableId
from ..operators.partitioning import pk_repartition
from ..operators.route import TableIdRouter
from ..operators.schema_evolution import SchemaChangeBehavior, coercion_select
from ..operators.schema_registry import SchemaRegistry
from ..operators.transform import PostTransform, PreTransform
from ..pipeline.composer import PipelineExecution
from ..sinks.base import DataSink
from ..sources.base import SEQ_COL
from ..sources.debezium import decode_debezium


@dataclass
class StreamingPipeline:
    """Streaming counterpart of PipelineExecution, sharing its control plane."""

    spark: SparkSession
    sink: DataSink
    post: PostTransform
    pre: PreTransform
    router: TableIdRouter
    registry: SchemaRegistry
    checkpoint_dir: str
    behavior: SchemaChangeBehavior = SchemaChangeBehavior.LENIENT
    parallelism: int | None = None
    serialization: str = "debezium-json"  # or canal-/mongodb-/vitess-json
    # Auto-register tables first seen mid-stream (full-database-sync parity:
    # a table created upstream after the pipeline started still syncs).
    # Payload schemas are inferred from the JSON after-images of the first
    # batch that mentions the table — the parallel-metadata path of
    # DataSource.isParallelMetadataSource (SURVEY.md §2.1 P8).
    discover_tables: bool = False
    # vitess-json only: halt at a reshard boundary with a resumable VGTID
    # instead of adopting the new serving set (VitessSource stopOnReshard,
    # default false — VitessSource.java:47-59)
    stop_on_reshard: bool = False
    # wire sources only ("mysql-binlog" | "pgoutput" | None): persist the
    # max position seen per committed batch as an operator-visible offset
    # (the reference's BinlogOffset / PostgresOffset checkpoint state;
    # Structured Streaming's file tracking remains the actual exactly-once
    # offset store)
    connector_offset: str | None = None
    # sink schema-change filters + session tz — round-9 review: batch
    # compose honored these, streaming silently dropped them
    include_types: set | None = None
    exclude_types: set | None = None
    local_time_zone: str | None = None

    @staticmethod
    def create(spark: SparkSession, sink: DataSink, checkpoint_dir: str,
               transforms=None, routes=None,
               behavior: SchemaChangeBehavior = SchemaChangeBehavior.LENIENT,
               parallelism: int | None = None,
               serialization: str = "debezium-json",
               discover_tables: bool = False,
               stop_on_reshard: bool = False,
               connector_offset: str | None = None,
               udfs=None,
               include_types: set | None = None,
               exclude_types: set | None = None,
               local_time_zone: str | None = None) -> "StreamingPipeline":
        return StreamingPipeline(
            spark=spark, sink=sink,
            post=PostTransform(list(transforms or []), udfs),
            pre=PreTransform(list(transforms or []), udfs),
            router=TableIdRouter(list(routes or [])),
            registry=SchemaRegistry(),
            checkpoint_dir=checkpoint_dir,
            behavior=behavior,
            parallelism=parallelism,
            serialization=serialization,
            discover_tables=discover_tables,
            stop_on_reshard=stop_on_reshard,
            connector_offset=connector_offset,
            include_types=include_types,
            exclude_types=exclude_types,
            local_time_zone=local_time_zone,
        )

    # -- vitess-json connector state (VGTID offset + reshard posture) ------
    def _vitess_state_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "vitess_vgtid.json")

    def _load_vitess_state(self):
        from ..sources.vitess import VitessStreamState

        if os.path.exists(self._vitess_state_path()):
            with open(self._vitess_state_path()) as f:
                return VitessStreamState.from_json(f.read())
        return VitessStreamState()

    def _save_vitess_state(self, state) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = self._vitess_state_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(state.to_json())
        os.replace(tmp, self._vitess_state_path())

    # -- wire-source connector state (BinlogOffset / PostgresOffset) -------
    def _connector_offset_path(self) -> str:
        name = {"mysql-binlog": "mysql_binlog_offset.json",
                "pgoutput": "postgres_offset.json",
                "mongodb": "mongodb_resume_token.json",
                "sqlserver": "sqlserver_lsn_offset.json",
                "db2": "db2_lsn_offset.json",
                "oracle": "oracle_scn_offset.json"}[self.connector_offset]
        return os.path.join(self.checkpoint_dir, name)

    def binlog_offset(self):
        """The last committed offset (None before the first commit):
        a BinlogOffset for mysql-binlog streams, a PostgresOffset for
        pgoutput streams."""
        if not self.connector_offset or \
                not os.path.exists(self._connector_offset_path()):
            return None
        with open(self._connector_offset_path()) as f:
            text = f.read()
        if self.connector_offset == "pgoutput":
            from ..sources.pgoutput import PostgresOffset

            return PostgresOffset.from_json(text)
        if self.connector_offset == "mongodb":
            from ..sources.mongodb import ChangeStreamOffset

            return ChangeStreamOffset.from_json(text)
        if self.connector_offset in ("sqlserver", "db2"):
            from ..sources.legacy_offsets import LsnOffset

            return LsnOffset.from_json(text)
        if self.connector_offset == "oracle":
            from ..sources.legacy_offsets import RedoLogOffset

            return RedoLogOffset.from_json(text)
        from ..sources.mysql_binlog import BinlogOffset

        return BinlogOffset.from_json(text)

    def _fold_connector_offset(self, data_df: DataFrame,
                               value_col: str) -> None:
        """Advance the persisted offset to the batch's max position: one
        partial agg + a 1-row collect, committed AFTER the data lands (the
        at-least-once discipline the snapshot watermarks use). Monotone —
        a replayed batch can never regress the stored position."""
        v = F.col(value_col)
        if self.connector_offset == "oracle":
            fields = ["scn"]
            probes = [F.get_json_object(v, "$.source.scn")
                      .cast("long").alias("scn")]
            key, order = "scn", "offset"
        elif self.connector_offset in ("sqlserver", "db2"):
            # fixed-width hex: lexical max IS the numeric max
            path = ("$.row['__$start_lsn']"
                    if self.connector_offset == "sqlserver"
                    else "$.row.IBMSNAP_COMMITSEQ")
            fields = ["lsn"]
            probes = [F.get_json_object(v, path).alias("lsn")]
            key, order = "lsn", "lsn"
        elif self.connector_offset == "mongodb":
            from ..sources.mongodb import _cluster_time_cols

            _, ts64 = _cluster_time_cols(v)
            fields = ["token", "ts64"]
            probes = [F.get_json_object(v, "$._id._data").alias("token"),
                      ts64.alias("ts64")]
            key, order = "token", "ts64"
        elif self.connector_offset == "pgoutput":
            fields = ["lsn", "tx", "ts_ms"]
            probes = [
                F.get_json_object(v, "$.source.lsn").cast("long").alias("lsn"),
                F.get_json_object(v, "$.source.txId").cast("long").alias("tx"),
                F.get_json_object(v, "$.ts_ms").cast("long").alias("ts_ms"),
            ]
            key, order = "lsn", "offset"
        else:
            fields = ["file", "pos", "gtids", "server_id"]
            probes = [
                F.get_json_object(v, "$.source.file").alias("file"),
                F.get_json_object(v, "$.source.pos").cast("long").alias("pos"),
                F.get_json_object(v, "$.source.gtids").alias("gtids"),
                F.get_json_object(v, "$.source.server_id").alias("server_id"),
            ]
            key, order = "file", "offset"
        if order == "offset" and "offset" not in data_df.columns:
            # streams without a transport offset column (file sources):
            # order by the connector's own monotone coordinate instead —
            # the old guard dropped the column from the select but still
            # ordered by it, wedging the batch on an unresolved column
            # (round-9 review)
            order = {"pgoutput": "lsn", "oracle": "scn"}.get(
                self.connector_offset, "pos")
        sel = data_df.select(*probes, *(
            [F.col("offset")] if order == "offset" else []))
        row = (sel.where(F.col(key).isNotNull())
               .agg(F.max_by(F.struct(*[F.col(c) for c in fields]),
                             F.col(order)).alias("m")).collect())
        m = row[0]["m"] if row else None
        if m is None or m[key] is None:
            return
        if self.connector_offset == "oracle":
            from ..sources.legacy_offsets import RedoLogOffset

            new = RedoLogOffset(int(m["scn"]), int(m["scn"]))
        elif self.connector_offset in ("sqlserver", "db2"):
            from ..sources.legacy_offsets import Lsn, LsnOffset

            new = LsnOffset(Lsn.valueOf(None),
                            Lsn(bytes.fromhex(m["lsn"])))
        elif self.connector_offset == "mongodb":
            import json as _j

            from ..sources.mongodb import ChangeStreamOffset

            new = ChangeStreamOffset(
                int(m["ts64"]),
                _j.dumps({"_data": m["token"]}, separators=(",", ":")))
            # falls through to the shared monotone-clamp + atomic persist
        elif self.connector_offset == "pgoutput":
            from ..sources.pgoutput import PostgresOffset

            new = PostgresOffset(int(m["lsn"]),
                                 int(m["tx"]) if m["tx"] is not None else None,
                                 int(m["ts_ms"]) * 1000
                                 if m["ts_ms"] is not None else None)
        else:
            from ..sources.mysql_binlog import BinlogOffset

            new = BinlogOffset.of(file=m["file"], pos=m["pos"],
                                  gtids=m["gtids"],
                                  server_id=m["server_id"])
        cur = self.binlog_offset()
        if cur is not None and new.compare(cur) <= 0:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        tmp = self._connector_offset_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(new.to_json())
        os.replace(tmp, self._connector_offset_path())

    # -- shared control plane (delegates to the batch execution) ----------
    def _execution(self) -> PipelineExecution:
        if not hasattr(self, "_schema_cache"):
            # shared across per-batch executions: one Catalyst schema
            # inference per (table, schema version), not per micro-batch
            self._schema_cache: dict = {}
        return PipelineExecution(
            spark=self.spark, source=None, sink=self.sink, pre=self.pre,
            post=self.post, router=self.router, registry=self.registry,
            behavior=self.behavior, parallelism=self.parallelism, run_id="",
            include_types=self.include_types,
            exclude_types=self.exclude_types,
            local_time_zone=self.local_time_zone,
            schema_cache=self._schema_cache)

    def register_table(self, table_id: TableId, schema: Schema) -> None:
        """Declare a captured table (snapshot of the source catalog)."""
        if self.registry.original_schema(table_id) is None:
            self.registry.apply_original(CreateTableEvent(table_id, schema))
            exe = self._execution()
            pruned = self.pre.pruned_schema(table_id, schema)
            out_schema = exe._infer_output_schema(table_id, pruned)
            for sink_tid in self.router.route(table_id):
                exe._evolve_sink_table(sink_tid, out_schema)

    # -- 'initial' startup mode: snapshot backfill then stream -------------
    def _watermarks_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "snapshot_watermarks.json")

    def initial_load(self, snapshots: dict[str, DataFrame],
                     stream_watermarks: dict[str, int] | None = None) -> None:
        """StartupOptions 'initial' analog: apply a bounded snapshot of each
        table through the same transform/route/sink path before attaching to
        the log stream (started at/before the snapshot's capture offset).

        ``stream_watermarks``: table-id -> highest stream offset/seq already
        reflected in that table's snapshot (the reference's high watermark,
        HybridSplitAssigner.java:53-110). Stream records with ``__seq`` at or
        below the watermark are filtered out — the exactly-once stitch that
        PK-less/append-only tables need (PK upsert absorbs replays, appends
        cannot). Persisted in the checkpoint dir so restarts keep filtering.
        """
        import json

        from ..sources.base import ChangeBatch, attach_envelope

        exe = self._execution()
        exe.run_id = "initial"
        for tid_str, df in snapshots.items():
            tid = TableId.parse(tid_str)
            if self.registry.original_schema(tid) is None:
                self.register_table(
                    tid, Schema.from_struct_type(df.schema))
            exe._process_data(ChangeBatch(tid, [], attach_envelope(df)))
        if stream_watermarks:
            os.makedirs(self.checkpoint_dir, exist_ok=True)
            merged = dict(stream_watermarks)
            if os.path.exists(self._watermarks_path()):
                with open(self._watermarks_path()) as f:
                    merged = {**json.load(f), **merged}
            tmp = self._watermarks_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(merged, f)
            os.replace(tmp, self._watermarks_path())

    def _discover_new_tables(self, data_df: DataFrame, tables: dict[str, Schema],
                             value_col: str, active: list[tuple]) -> None:
        """Register tables first seen in this batch (P8 parallel-metadata
        path). ``active`` is the batch's distinct (db, schema, table)
        coordinates — the probe the micro-batch loop already took over the
        enriched columns; payload schemas are inferred by Spark's JSON
        reader over that table's after-images only (one driver-side
        inference per NEW table, not per batch)."""
        payload_p = self._envelope_probes(value_col, self.serialization)[3]
        for db, sc, tbl in active:
            # schema-less sources (MySQL-style Debezium) get 2-part ids
            # (db.table), matching TableId.parse conventions so 2-part
            # route/transform selectors still apply to discovered tables
            if sc:
                tid = TableId(db or "", sc, tbl)
            else:
                tid = TableId("", db or "", tbl)
            if str(tid) in tables:
                continue
            known = self.registry.original_schema(tid)
            if known is not None:
                # registry knows it (e.g. discovered before a restart) but the
                # caller's table dict doesn't — re-add so the decode loop
                # doesn't silently drop its data
                tables[str(tid)] = known
                continue
            mine = data_df.where(
                (F.col("__src_tbl") == tbl)
                & F.col("__src_db").eqNullSafe(F.lit(db))
                & F.col("__src_schema").eqNullSafe(F.lit(sc))
            )
            after_json = mine.select(payload_p.alias("payload")) \
                .where(F.col("payload").isNotNull())
            if not after_json.head(1):
                # first sighting carries no image (a MongoDB delete ships
                # only documentKey): defer discovery to a later batch — a
                # delete for a never-materialized key is a no-op, and
                # registering an empty schema would poison-pill the stream
                continue
            inferred = self.spark.read.json(
                after_json.rdd.map(lambda row: row["payload"]))
            schema = Schema.from_struct_type(inferred.schema)
            if not schema.column_names():
                continue
            if self.serialization == "mongodb-json":
                # documentKey names the shard key/_id fields — without
                # them the discovered table has no PK, key-only deletes
                # can't upsert-match, and the sink appends forever
                import json as _json

                key_row = mine.select(
                    F.get_json_object(F.col(value_col), "$.documentKey")
                    .alias("k")).where(F.col("k").isNotNull()).head(1)
                try:
                    parsed = _json.loads(key_row[0]["k"]) if key_row else None
                except ValueError:
                    parsed = None  # degenerate documentKey -> fallback PK
                pks = tuple(parsed) if isinstance(parsed, (dict, list)) \
                    else ("_id",)
                schema = schema.with_primary_keys(
                    [p for p in pks if p in schema.column_names()]
                    or [schema.column_names()[0]])
            self.register_table(tid, schema)
            tables[str(tid)] = schema

    @staticmethod
    def _envelope_probes(value_col: str, serialization: str):
        """(db, schema, table, payload) JSON probes per serialization — the
        ONE place that knows each envelope's field layout. The routing
        projection (`enrich_batch`) takes the coordinates from it, and
        mid-stream discovery reads those enriched columns plus the payload
        probe, so the two cannot disagree on where a table's rows are."""
        v = F.col(value_col)
        null_s = F.lit(None).cast("string")
        if serialization == "mongodb-json":
            # MongoDBEnvelope: ns.db/ns.coll; fullDocument is the image
            return (F.get_json_object(v, "$.ns.db"), null_s,
                    F.get_json_object(v, "$.ns.coll"),
                    F.get_json_object(v, "$.fullDocument"))
        if serialization == "debezium-json":
            return (F.get_json_object(v, "$.source.db"),
                    F.get_json_object(v, "$.source.schema"),
                    F.get_json_object(v, "$.source.table"),
                    F.coalesce(F.get_json_object(v, "$.after"),
                               F.get_json_object(v, "$.before")))
        if serialization in ("sqlserver-cdc-json", "db2-cdc-json"):
            # change-table capture lines: {"db","schema","table","row"}
            return (F.get_json_object(v, "$.db"),
                    F.get_json_object(v, "$.schema"),
                    F.get_json_object(v, "$.table"),
                    F.get_json_object(v, "$.row"))
        if serialization == "vitess-json":
            # Debezium vitess: source.keyspace stands where others put db
            return (F.get_json_object(v, "$.source.keyspace"), null_s,
                    F.get_json_object(v, "$.source.table"),
                    F.coalesce(F.get_json_object(v, "$.after"),
                               F.get_json_object(v, "$.before")))
        # canal-json
        return (F.get_json_object(v, "$.database"), null_s,
                F.get_json_object(v, "$.table"),
                F.get_json_object(v, "$.data[0]"))

    # -- streaming loop ----------------------------------------------------
    @staticmethod
    def enrich_batch(batch_df: DataFrame, value_col: str,
                     serialization: str) -> DataFrame:
        """ONE projection computing every per-row JSON probe the micro-batch
        loop needs (__is_ddl flag + (db, schema, table) routing columns).
        The caller persists the result, so the JSON path extraction runs
        exactly once per row at cache-fill time (the DDL collect). The
        loop's distinct (db, schema, table) probe, mid-stream discovery and
        each ACTIVE table's slice are then column filters over the cached
        projection; registered tables absent from the probe are skipped
        without a Spark job."""
        db_p, schema_p, tbl_p, _ = StreamingPipeline._envelope_probes(
            value_col, serialization)
        is_ddl = F.get_json_object(F.col(value_col), "$.ddl").isNotNull()
        # BOTH namespace coordinates ride the projection (round-9 review:
        # collapsing them with coalesce cross-contaminated two schemas
        # that share a table name on real Debezium streams, where db AND
        # schema are both set)
        return (batch_df.withColumn("__is_ddl", is_ddl)
                .withColumn("__src_db", db_p)
                .withColumn("__src_schema", schema_p)
                .withColumn("__src_tbl", tbl_p))

    @staticmethod
    def _tid_match(tid: TableId):
        """Routing predicate over the enriched (__src_db, __src_schema,
        __src_tbl) columns for one registered table id. A 3-part id
        requires all three coordinates; a 2-part id binds its first part
        to whichever single namespace coordinate the source sets — and
        when a source sets BOTH (Debezium postgres/sqlserver/oracle), to
        the SCHEMA (TableId.parse puts a 2-part first element in
        schema_name; the finer coordinate)."""
        db = F.col("__src_db")
        sc = F.col("__src_schema")
        cond = F.col("__src_tbl") == tid.table_name
        if tid.namespace:
            return cond & (db == tid.namespace) & (sc == tid.schema_name)
        s = tid.namespace or tid.schema_name
        return cond & (
            ((db == s) & sc.isNull())
            | ((sc == s) & db.isNull())
            | (db.isNotNull() & sc.isNotNull() & (sc == s)))

    @staticmethod
    def _tid_match_py(tid: TableId, db: str | None, sc: str | None,
                      tbl: str | None) -> bool:
        """Driver-side twin of :meth:`_tid_match` for one probed
        (__src_db, __src_schema, __src_tbl) tuple: True exactly when the
        Column predicate keeps a row with those coordinates. SQL ``=``
        with a null side is null and WHERE drops null; the predicate is a
        monotone AND/OR of such comparisons, so reading each null
        comparison as False gives the same answer. The loop skips a
        table this returns False for, so a disagreement would silently
        drop its rows — equivalence is pinned by a differential test."""
        def eq(a, b):
            return a is not None and b is not None and a == b

        if not eq(tbl, tid.table_name):
            return False
        if tid.namespace:
            return eq(db, tid.namespace) and eq(sc, tid.schema_name)
        s = tid.namespace or tid.schema_name
        return ((eq(db, s) and sc is None)
                or (eq(sc, s) and db is None)
                or (db is not None and sc is not None and eq(sc, s)))

    def start(self, raw_stream: DataFrame, tables: dict[str, Schema],
              value_col: str = "value"):
        """Attach to a stream of Debezium-JSON records and start the query.

        ``tables``: table-id string -> payload Schema (with primary keys).
        """
        # restore FIRST, then register declared tables the checkpoint does
        # not know yet — the other order wipes tables added to the config
        # after a restart and their data would be silently skipped
        registry_ckpt = os.path.join(self.checkpoint_dir, "schema_registry.json")
        if os.path.exists(registry_ckpt):
            self.registry = SchemaRegistry.restore(registry_ckpt)
        for tid_str, schema in tables.items():
            self.register_table(TableId.parse(tid_str), schema)
        # tables discovered mid-stream in a PRIOR run live in the restored
        # registry but not in the caller's dict — seed them back, or the
        # decode loop (which iterates `tables`) would silently drop their data
        for tid in self.registry.known_tables():
            tables.setdefault(str(tid), self.registry.original_schema(tid))
        # snapshot high watermarks (initial_load): stream records already
        # reflected in the snapshot are filtered per table
        import json as _json

        watermarks: dict[str, int] = {}
        if os.path.exists(self._watermarks_path()):
            with open(self._watermarks_path()) as f:
                watermarks = {k: int(v) for k, v in _json.load(f).items()}

        if self.serialization == "vitess-json":
            vs = self._load_vitess_state()
            if vs.stopped:
                # restarting the pipeline IS the operator action after a
                # stopOnReshard halt (reference: the Flink job restarts
                # from the stored offset): clear the halt flag and arm
                # ``resuming`` — the failed (uncommitted) boundary batch
                # re-delivers and is ADOPTED (splits/merges/pending all
                # handled by the normal adopt path) instead of re-halting,
                # so the halt fires exactly once per reshard
                from dataclasses import replace as _dc_replace

                self._save_vitess_state(_dc_replace(
                    vs, stopped=False, resuming=True))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            from ..common.events_json import schema_events_from_json
            from ..sources.base import ChangeBatch

            vstate = None
            if self.serialization == "vitess-json":
                from ..sources.vitess import StopOnReshardHalt

                vstate = self._load_vitess_state()
                if vstate.stopped:
                    # halted at a reshard boundary: nothing may be
                    # processed under the old topology, and the epoch must
                    # NOT commit (a silent return would mark the batch
                    # consumed and lose it) — a restart re-reads the
                    # state, adopts the children, and clears the flag
                    raise StopOnReshardHalt(
                        "vitess stream is halted at a reshard boundary "
                        "(stop-on-reshard); restart the pipeline to adopt "
                        "the new shard set and resume")
            batch_df = self.enrich_batch(batch_df, value_col,
                                         self.serialization)
            batch_df.persist()
            try:
                exe = self._execution()
                exe.batches_run = batch_id
                # Pin ONE DDL ctx for the whole micro-batch: data-time sink
                # evolution inside a segmented _process_data would otherwise
                # stamp the segment-scoped id and clobber the spool marker's
                # parent-ctx group list that replay detection depends on
                exe.ddl_batch_ctx = exe._sink_batch_id()
                # new delivery of this micro-batch: sinks reset per-delivery
                # state (DDL spool ordinals) so a same-process re-delivery
                # compares against the spool marker exactly like a
                # fresh-process replay would
                self.sink.begin_batch(batch_id)
                # 1. in-stream DDL control records (Debezium schema-change
                #    topic analog) — rare, collected to the driver, applied
                #    FIRST so the whole batch decodes with the newest schema
                #    (LENIENT add-only evolution makes that sound: earlier
                #    rows null-fill the new columns). The collect is the
                #    cache-fill action: the enriched projection materializes
                #    here once; later slices are cached-column filters.
                has_offset = "offset" in batch_df.columns
                ddl_raw = batch_df.where(F.col("__is_ddl")) \
                    .select(value_col, *(
                        ["offset"] if has_offset else [])).collect()
                # the batch's active tables: one distinct collect over the
                # cached routing columns. Registered tables with no
                # coordinates here are skipped below without a Spark job
                # (event-driven like the reference: an idle table costs
                # nothing), and discovery reads new tables from it.
                # coalesce(1) lets the distinct run in one task of one job
                # instead of a shuffle stage plus a result stage: measured
                # 123 -> 87 ms (800 rows) and 92 -> 81 ms (50k rows) per
                # probe (local[2] on a 4-vCPU VM)
                data_df = batch_df.where(~F.col("__is_ddl"))
                active = [tuple(r) for r in data_df
                          .select("__src_db", "__src_schema", "__src_tbl")
                          .where(F.col("__src_tbl").isNotNull())
                          .coalesce(1).distinct().collect()]
                # by table name: the match needs equal names first, so a
                # registered table is checked against its namesakes only
                active_by_name: dict[str, list[tuple]] = {}
                for c in active:
                    active_by_name.setdefault(c[2], []).append(c)
                # Destructive table-level DDL (TRUNCATE/DROP) must respect
                # intra-batch ORDER: rows before the statement belong to the
                # old table state. Column DDL stays apply-first (sound under
                # LENIENT add-only: earlier rows null-fill). Destructive
                # events are deferred to the per-table loop, segmented by
                # the records' ts_ms against each row's __seq.
                from ..common.events import DropTableEvent, TruncateTableEvent

                destructive: dict[str, list] = {}
                for r in ddl_raw:
                    rec = _json.loads(r[value_col])
                    # destructive-DDL ordering coordinate: it must use
                    # the SAME precedence decode_debezium gives the data
                    # rows' __seq — transport offset first (round-9
                    # review: with an offset column present the ts_ms
                    # fallback compared epoch-millis against small
                    # Kafka offsets and wiped post-truncate rows), then
                    # the wire bridges' "seq", then ts_ms
                    if has_offset and r["offset"] is not None:
                        ts = r["offset"]
                    else:
                        ts = rec.get("seq", rec.get("ts_ms"))
                    for ev in schema_events_from_json(rec):
                        if isinstance(ev, (TruncateTableEvent, DropTableEvent)):
                            destructive.setdefault(str(ev.table_id), []).append((ts, ev))
                        else:
                            exe._handle_schema_events(
                                ChangeBatch(ev.table_id, [ev], None))
                # 2. data records: route by the (db, schema, table) columns
                #    the enriched projection already materialized, then run
                #    the full from_json decode only on each ACTIVE table's
                #    own slice — the batch is parsed once total, and idle
                #    registered tables cost nothing (O(batch + active
                #    tables), not O(tables × batch))
                from ..sources.debezium import decode_canal

                decode = (decode_debezium
                          if self.serialization == "debezium-json"
                          else decode_canal)
                if self.serialization == "sqlserver-cdc-json":
                    from ..sources.sqlserver import decode_sqlserver_cdc

                    def decode(raw, struct_type, vc, _s=None):
                        return decode_sqlserver_cdc(raw, struct_type, vc)
                if self.serialization == "db2-cdc-json":
                    from ..sources.db2 import decode_db2_cdc

                    def decode(raw, struct_type, vc, _s=None):
                        return decode_db2_cdc(raw, struct_type, vc)
                if self.serialization == "vitess-json":
                    from ..sources.vitess import decode_vstream as decode
                if self.serialization == "mongodb-json":
                    # upsert-mode change streams: key-only -D tombstones and
                    # +U without before-images — exactly what the keyed sink
                    # merge consumes; changelog_normalize is available for
                    # consumers that need retractions. documentKey fields =
                    # the table's primary keys (MongoDB shard key / _id).
                    from ..sources.mongodb import decode_mongo_changestream

                    def decode(raw, struct_type, vc, _s=None):
                        pks = tuple((_s or ()))
                        return decode_mongo_changestream(
                            raw, struct_type, key_fields=pks or ("_id",),
                            value_col=vc)
                if vstate is not None:
                    # VGTID offset fold + stopOnReshard (VitessSource.java
                    # stopOnReshard / Debezium offset-store parity): one
                    # raw-JSON pass advances the persisted vector offset.
                    # At a reshard boundary with stop_on_reshard: persist
                    # the halted state (VGTID stays at the last committed
                    # position, completed-split children inherit the
                    # parent entry) and FAIL the batch before any write —
                    # the uncommitted epoch re-delivers in full after the
                    # operator restarts and adopts the children, so no
                    # boundary event is lost or written twice
                    from ..sources.vitess import (
                        StopOnReshardHalt, fold_vstream_batch,
                    )

                    vstate, halt = fold_vstream_batch(
                        data_df, value_col, vstate,
                        stop_on_reshard=self.stop_on_reshard)
                    if halt:
                        self._save_vitess_state(vstate)
                        raise StopOnReshardHalt(
                            "reshard boundary reached (stop-on-reshard); "
                            "resume VGTID persisted — restart the "
                            "pipeline to adopt the new shard set and "
                            "re-deliver this batch")
                if self.discover_tables:
                    self._discover_new_tables(data_df, tables, value_col,
                                              active)
                for tid_str in tables:
                    tid = TableId.parse(tid_str)
                    schema = self.registry.original_schema(tid)
                    if schema is None:
                        continue  # dropped mid-stream
                    destr = destructive.pop(tid_str, None)
                    decoded = None
                    if any(self._tid_match_py(tid, *c) for c in
                           active_by_name.get(tid.table_name, ())):
                        mine_raw = data_df.where(
                            self._tid_match(tid)
                        ).drop("__src_db", "__src_schema", "__src_tbl",
                               "__is_ddl")
                        if self.serialization == "mongodb-json":
                            decoded = decode(mine_raw, schema.struct_type(),
                                             value_col,
                                             _s=schema.primary_keys)
                        else:
                            decoded = decode(mine_raw, schema.struct_type(),
                                             value_col)
                        wm = watermarks.get(tid_str)
                        if wm is not None:
                            # high-watermark stitch: drop records the
                            # snapshot already contains; unknown (null)
                            # seq is kept
                            decoded = decoded.where(F.coalesce(
                                F.col(SEQ_COL) > F.lit(wm), F.lit(True)))
                    elif not destr:
                        continue  # idle: no rows, no TRUNCATE/DROP
                    if not destr:
                        exe._process_data(ChangeBatch(tid, [], decoded))
                        continue
                    # segment the table's rows around each destructive event
                    # (ts-less events apply before any data — old behavior);
                    # distinct sub-batch ids keep sink replay markers sound
                    destr.sort(key=lambda p: (p[0] is not None, p[0] or 0))
                    base_bid, seg, prev_ts = exe.batches_run, 0, None

                    def emit(df_seg):
                        nonlocal seg
                        # segment ids scope the DATA idempotence markers
                        # only; every DDL apply — including data-time sink
                        # evolution inside _process_data — uses the pinned
                        # parent ddl_batch_ctx (set at batch start above)
                        exe.batches_run = f"{base_bid}s{seg}"
                        seg += 1
                        exe._process_data(ChangeBatch(tid, [], df_seg))
                        exe.batches_run = base_bid

                    # an idle table (decoded is None) applies its
                    # TRUNCATE/DROP here, in the same loop order, with no
                    # data segments to write
                    for ts, ev in destr:
                        if ts is not None and decoded is not None:
                            cond = F.coalesce(F.col(SEQ_COL) <= F.lit(ts), F.lit(False))
                            if prev_ts is not None:
                                cond = cond & (F.col(SEQ_COL) > F.lit(prev_ts))
                            emit(decoded.where(cond))
                            prev_ts = ts
                        exe._handle_schema_events(ChangeBatch(ev.table_id, [ev], None))
                        if self.registry.original_schema(tid) is None:
                            decoded = None  # table dropped: discard the rest
                            break
                    if decoded is not None:
                        tail = (decoded.where(
                            F.coalesce(F.col(SEQ_COL) > F.lit(prev_ts), F.lit(True)))
                            if prev_ts is not None else decoded)
                        emit(tail)
                    exe.batches_run = base_bid
                # destructive DDL for tables the loop above never saw
                # (unregistered, or dropped earlier)
                for evs in destructive.values():
                    for _, ev in evs:
                        exe._handle_schema_events(ChangeBatch(ev.table_id, [ev], None))
                self.registry.checkpoint(registry_ckpt)
                if vstate is not None:
                    # offset commit AFTER the data lands (at-least-once,
                    # same discipline as the snapshot watermarks)
                    self._save_vitess_state(vstate)
                if self.connector_offset:
                    self._fold_connector_offset(data_df, value_col)
            finally:
                batch_df.unpersist()

        return (
            raw_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, "stream"))
            .trigger(availableNow=True)
            .start()
        )


def kafka_stream_source(spark: SparkSession, bootstrap_servers: str, topics: str,
                        startup: "StartupOptions | None" = None,
                        options: dict[str, str] | None = None) -> DataFrame:
    """Kafka changelog stream (production source). Keeps ``value`` and
    ``offset`` (used as the per-key ``__seq``). Requires the spark-sql-kafka
    package on the classpath; the decode path is shared with the file
    source, so everything downstream is broker-independent."""
    from ..sources.jdbc import StartupOptions

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", (startup or StartupOptions()).kafka_starting_offsets())
    )
    if startup and startup.mode == "timestamp":
        reader = reader.option("startingTimestamp", str(startup.timestamp_ms))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load().select(F.col("value").cast("string"), F.col("offset"))


def file_stream_source(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Debezium-JSON-lines file stream (test stand-in for Kafka; the decode
    path is identical)."""
    reader = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
    )
    df = reader.load(path)
    return df.select(F.col("value"))
