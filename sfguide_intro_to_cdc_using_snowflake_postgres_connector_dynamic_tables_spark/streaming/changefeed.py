"""CDC change feed: envelope encoding, file-backed source, pipeline.

The reference's transport is Postgres WAL -> connector agent ->
Snowflake (SURVEY.md section 3.1); the Spark-first collapse is a
Structured Streaming source emitting envelope rows

    (op, lsn, commit_ts, table_name, after_json)

``after`` travels as a JSON string so one feed carries all tables'
changes in commit (lsn) order -- exactly what a consistent multi-table
snapshot needs (one offset frontier across tables, SURVEY.md section
4.2).  Per micro-batch, the pipeline parses each table's rows with its
declared schema (``from_json``) and runs the keyed apply.  In
production the same envelope would arrive from Kafka/Debezium; the
file feed keeps tests hermetic and replayable.

Bootstrap (C2) is snapshot-then-tail: seed tables are committed to the
store first, then the stream starts from offset 0 of the feed
directory -- the classic backfill-then-tail handoff, made exactly-once
by the store's versioned commits + the stream's checkpoint.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.cdc_schemas import PRIMARY_KEYS, TABLE_SCHEMAS
from .cdc_apply import apply_changes, split_changes
from .store import ParquetTableStore

FEED_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("after_json", T.StringType(), True),
    ]
)

#: transactional feeds: rows of one source transaction share a tx_id
#: and are followed (in lsn order) by an op='C' commit marker; NULL =
#: non-transactional row, always applied.  Feed files written without
#: the field parse with tx_id NULL, so one stream can mix both.
FEED_SCHEMA_TXN = T.StructType(
    FEED_SCHEMA.fields + [T.StructField("tx_id", T.LongType(), True)]
)

#: table_name carried by op='C' commit-marker rows (never a real table)
TXN_COMMIT_TABLE = "_commit"

#: lsn carried by commit-marker rows synthesized from a DUAL-TOPIC
#: source (e.g. a Debezium transaction-metadata END event): such
#: markers have no WAL lsn of their own and must never be dropped by
#: the snapshot-LSN watermark, so they ride above any real lsn.  The
#: complete-transaction gate also uses it to tell dual-topic markers
#: (which MUST declare an event_count -- NULL means malformed) from
#: single-feed WAL commit records (which legitimately have none).
TXN_MARKER_LSN = 1 << 62

#: group name under which the pipeline publishes consistent multi-table
#: snapshots (ParquetTableStore.read_group(spark, CDC_GROUP, table))
CDC_GROUP = "cdc"

#: store table buffering data rows of transactions whose commit marker
#: has not arrived yet (bounded by open transactions, not history)
TXN_PENDING_TABLE = "_txn_pending"

#: op carried by schema-change (DDL) envelope rows.  ``after_json``
#: holds ``{"add_columns": [{"name": ..., "type": <Spark DDL type
#: string>}, ...]}``; ``table_name`` is the table the DDL targets;
#: ``lsn`` is the DDL's WAL position.  Postgres logs DDL in commit
#: order with the data, so rows that USE a new column always follow
#: the op='S' row that declares it -- applying every batch's DDL
#: before its data parse is therefore order-safe (pre-DDL rows simply
#: parse the new column as NULL under the widened schema).
SCHEMA_CHANGE_OP = "S"


def write_feed_ddl(
    feed_dir: str,
    table: str,
    add_columns: list[tuple[str, str]],
    lsn: int,
    alter_columns: list[tuple[str, str]] = (),
) -> str:
    """Append one schema-change event to the feed.

    ``add_columns``: ``[(column_name, spark_ddl_type), ...]`` --
    e.g. ``[("loyalty_tier", "string"), ("points", "int")]``.  The
    consumer widens its runtime parse schema for ``table`` from this
    row on (see :meth:`CDCPipeline.apply_envelope_batch`).
    ``alter_columns``: same shape, for TYPE WIDENING of existing
    columns (Postgres ``ALTER TABLE ... ALTER COLUMN ... TYPE bigint``)
    -- lossless widenings only; the consumer cast-rewrites the stored
    table once.
    """
    os.makedirs(feed_dir, exist_ok=True)
    spec: dict = {
        "add_columns": [{"name": n, "type": t} for n, t in add_columns]
    }
    if alter_columns:
        spec["alter_columns"] = [
            {"name": n, "type": t} for n, t in alter_columns
        ]
    record = {
        "op": SCHEMA_CHANGE_OP,
        "lsn": lsn,
        "commit_ts": dt.datetime.now(dt.timezone.utc).isoformat(),
        "table_name": table,
        "after_json": json.dumps(spec),
    }
    tmp = os.path.join(feed_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(json.dumps(record) + "\n")
    final = os.path.join(feed_dir, f"ddl-{lsn}-{uuid.uuid4().hex[:8]}.json")
    os.replace(tmp, final)
    return final


def write_feed_batch(feed_dir: str, batch: dict[str, list[tuple]]) -> str:
    """Append one change batch to the feed as a JSON-lines file.

    ``batch`` is ``{table_name: [(op, lsn, row_dict), ...]}`` (the
    fixture change-log shape).  One file per call = one atomic unit
    for the file source's discovery, like one committed transaction.
    """
    os.makedirs(feed_dir, exist_ok=True)
    records = []
    for table, rows in batch.items():
        for op, lsn, row in rows:
            records.append(
                {
                    "op": op,
                    "lsn": lsn,
                    "commit_ts": dt.datetime.now(dt.timezone.utc).isoformat(),
                    "table_name": table,
                    "after_json": json.dumps(row, default=str),
                }
            )
    records.sort(key=lambda r: r["lsn"])
    tmp = os.path.join(feed_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    final = os.path.join(feed_dir, f"batch-{records[0]['lsn'] if records else 0}-{uuid.uuid4().hex[:8]}.json")
    os.replace(tmp, final)  # file appears atomically
    return final


def write_feed_transactions(
    feed_dir: str,
    committed: list[tuple[int, dict[str, list[tuple]]]],
    open_txs: list[tuple[int, dict[str, list[tuple]]]] = (),
    marker_lsns: dict[int, int] | None = None,
) -> str:
    """Append transactional change batches to the feed.

    ``committed``: ``[(tx_id, {table: [(op, lsn, row), ...]}), ...]`` --
    each transaction's data rows are written with its tx_id, followed by
    an op='C' commit marker at the transaction's max lsn (the WAL shape:
    the commit record trails every change it covers).  ``open_txs``:
    same shape but NO marker is written -- their commit must arrive in a
    later file, and the consumer defers the rows until it does.

    A committed tx with NO data rows in this file (its rows went out
    earlier as ``open_txs``) MUST provide its commit lsn via
    ``marker_lsns[tx_id]``: a marker defaulting to lsn 0 would be
    silently dropped by a snapshot-LSN watermark and the buffered
    transaction would never apply.
    """
    os.makedirs(feed_dir, exist_ok=True)
    records = []

    def _data_rows(tx_id, changes):
        out = []
        for table, rows in changes.items():
            for op, lsn, row in rows:
                out.append(
                    {
                        "op": op,
                        "lsn": lsn,
                        "commit_ts": dt.datetime.now(dt.timezone.utc).isoformat(),
                        "table_name": table,
                        "after_json": json.dumps(row, default=str),
                        "tx_id": tx_id,
                    }
                )
        return out

    for tx_id, changes in committed:
        rows = _data_rows(tx_id, changes)
        if not rows and tx_id not in (marker_lsns or {}):
            raise ValueError(
                f"committed tx {tx_id} has no data rows in this file; "
                "pass its commit lsn via marker_lsns"
            )
        records.extend(rows)
        records.append(
            {
                "op": "C",
                "lsn": (marker_lsns or {}).get(
                    tx_id, max(r["lsn"] for r in rows) if rows else 0
                ),
                "commit_ts": dt.datetime.now(dt.timezone.utc).isoformat(),
                "table_name": TXN_COMMIT_TABLE,
                "after_json": None,
                "tx_id": tx_id,
            }
        )
    for tx_id, changes in open_txs:
        records.extend(_data_rows(tx_id, changes))
    records.sort(key=lambda r: (r["lsn"], r["op"] == "C"))
    tmp = os.path.join(feed_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
    final = os.path.join(
        feed_dir,
        f"batch-{records[0]['lsn'] if records else 0}-{uuid.uuid4().hex[:8]}.json",
    )
    os.replace(tmp, final)
    return final


def split_complete_transactions(envelope: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ready, deferred) rows of an envelope batch under
    complete-transaction semantics.

    Ready = rows with no tx_id (non-transactional sources) plus data
    rows of ASSEMBLED transactions: an op='C' commit marker is present
    in the envelope set AND, when the marker declares an
    ``event_count`` (in its ``after_json``, as Debezium END events do),
    at least that many distinct data rows of the tx have arrived.
    Commit markers themselves never reach the apply path.

    Deferred = everything still waiting, and it now carries BOTH kinds
    of state across micro-batches (the pipeline buffers it in
    ``_txn_pending`` and re-presents it unioned with the next batch):

    * data rows of transactions whose marker hasn't arrived or whose
      ``event_count`` isn't yet satisfied;
    * unmatched commit markers.  The Debezium transaction-metadata
      topic has NO cross-topic ordering guarantee with the data topic,
      so an END marker can be consumed a batch BEFORE (some of) its
      tx's data -- dropping it would strand those rows in the pending
      buffer forever.  Markers with an ``event_count`` are therefore
      retained until satisfied; once satisfied they persist ONE more
      batch as a ``done`` tombstone so a replayed micro-batch (Spark
      re-executes the last uncommitted foreachBatch) re-admits the
      tx's rows instead of re-deferring them.  Markers WITHOUT an
      ``event_count`` (single-feed WAL sources, where a commit record
      trails every change it covers by construction) keep the original
      match-in-batch semantics and are never buffered.  EXCEPTION: a
      DUAL-TOPIC marker (lsn == ``TXN_MARKER_LSN``, i.e. synthesized
      from a Debezium transaction-metadata END event) whose
      ``event_count`` parsed as NULL is MALFORMED, not a WAL marker --
      match-in-batch semantics would silently lose atomicity and
      strand any later-arriving data rows with no signal.  Such
      markers are never treated as assembled; they carry forward with
      ``malformed: true`` in ``after_json`` so
      :func:`~.monitoring.txn_pending_state` surfaces the stuck tx
      (with its buffered rows) instead of half-applying it.

    The ``event_count`` gate also upgrades atomicity for dual-topic
    sources: a tx whose data straddles micro-batches applies all at
    once when fully assembled, never half.

    Ordering assumption (holds for any row-locking source, e.g.
    Postgres): two transactions cannot hold uncommitted writes to the
    SAME key concurrently -- the second writer blocks until the first
    commits -- so within a key, lsn order equals commit order, and a
    deferred row applying in a later micro-batch can never overwrite a
    younger committed value of its key."""
    data = envelope.filter(F.col("op") != "C")
    tx_rows = data.filter(F.col("tx_id").isNotNull())
    # one marker row per tx: event_count/done travel in after_json so
    # buffered markers round-trip through the pending table unchanged
    markers = (
        envelope.filter(F.col("op") == "C")
        .select(
            "tx_id",
            "lsn",
            "commit_ts",
            F.get_json_object("after_json", "$.event_count")
            .cast("long")
            .alias("event_count"),
            F.coalesce(
                F.get_json_object("after_json", "$.done").cast("boolean"),
                F.lit(False),
            ).alias("done"),
        )
        .groupBy("tx_id")
        .agg(
            F.max("lsn").alias("lsn"),
            F.max("commit_ts").alias("commit_ts"),
            F.max("event_count").alias("event_count"),
            F.max("done").alias("done"),
        )
        # dual-topic markers ride the sentinel lsn; a NULL event_count
        # on one is a parse failure, not WAL match-in-batch semantics
        .withColumn(
            "malformed",
            (F.col("lsn") >= F.lit(TXN_MARKER_LSN))
            & F.col("event_count").isNull()
            & ~F.col("done"),
        )
    )
    # distinct-lsn count per tx: replay can duplicate a row between the
    # pending buffer and the re-presented source batch, and a duplicate
    # must not satisfy event_count for a row that never arrived
    counts = tx_rows.groupBy("tx_id").agg(
        F.count_distinct("lsn").alias("n_rows")
    )
    status = markers.join(counts, "tx_id", "left").withColumn(
        "assembled",
        F.coalesce(
            F.col("done")
            | (F.col("event_count").isNull() & ~F.col("malformed"))
            | (F.coalesce(F.col("n_rows"), F.lit(0)) >= F.col("event_count")),
            F.lit(False),  # malformed: NULL event_count comparison
        ),
    )
    ready_tx = status.filter(F.col("assembled")).select("tx_id")
    ready = data.filter(F.col("tx_id").isNull()).unionByName(
        tx_rows.join(ready_tx, "tx_id", "left_semi")
    )
    # carry forward: waiting markers verbatim; newly-assembled counted
    # markers once more as done tombstones; malformed dual-topic
    # markers indefinitely (surfaced, never half-applied); done/WAL
    # markers drop
    carry = status.filter(
        (F.col("event_count").isNotNull() | F.col("malformed"))
        & ~F.col("done")
    ).select(
        F.lit("C").alias("op"),
        F.col("lsn"),
        F.col("commit_ts"),
        F.lit(TXN_COMMIT_TABLE).alias("table_name"),
        F.to_json(
            F.struct(
                F.col("event_count"),
                F.col("assembled").alias("done"),
                F.col("malformed"),
            )
        ).alias("after_json"),
        F.col("tx_id"),
    )
    deferred = tx_rows.join(ready_tx, "tx_id", "left_anti").unionByName(carry)
    return ready, deferred


def parse_table_changes(
    envelope: DataFrame, table: str, schema: T.StructType | None = None
) -> DataFrame:
    """Extract one table's typed change rows from an envelope batch.

    ``schema`` defaults to the table's declared bootstrap schema; the
    pipeline passes its RUNTIME schema instead, which widens as op='S'
    schema-change rows arrive (rows written before an ADD COLUMN parse
    the new column as NULL -- ``from_json`` treats missing fields as
    NULL under any schema that contains them)."""
    schema = schema or TABLE_SCHEMAS[table]
    return (
        envelope.filter(F.col("table_name") == table)
        .select("op", "lsn", F.from_json("after_json", schema).alias("after"))
        .select("op", "lsn", "after.*")
    )


class CDCPipeline:
    """Snapshot-then-tail replication of the 4 CDC tables into a store."""

    def __init__(
        self,
        spark: SparkSession,
        store: ParquetTableStore,
        partition_spec: dict[str, int] | None = None,
        zone_spec: dict[str, list[str]] | None = None,
        schemas: dict[str, T.StructType] | None = None,
        primary_keys: dict[str, str] | None = None,
        fact_tables: tuple[str, ...] = ("transactions",),
    ) -> None:
        """``partition_spec``: {table: n_buckets} -- tables listed here
        are stored hash-partitioned on their primary key, so each apply
        rewrites only the buckets the batch touches (O(delta) write
        I/O) instead of the whole snapshot.  ``zone_spec``: {table:
        [columns]} -- record per-bucket min/max zone maps for the named
        non-key columns at bootstrap (sticky through every subsequent
        merge), so analysts can range-scan the replica via
        ``store.read_pruned`` (e.g. transactions by date) without
        touching every bucket.

        ``schemas`` / ``primary_keys``: the replicated-table registry,
        defaulting to the reference's 4-table CDC domain.  The
        reference connector replicates ARBITRARY published tables, so
        the pipeline is not bound to that domain: pass any
        {table: StructType} / {table: pk column} pair to replicate a
        different set.  ``fact_tables`` names the tables applied LAST
        within a batch (dim rows land before fact rows referencing
        them -- SURVEY.md section 4.2); every other registered table
        is a dimension and applies concurrently."""
        self.spark = spark
        self.store = store
        self.partition_spec = partition_spec or {}
        self.zone_spec = zone_spec or {}
        self.schemas = dict(schemas) if schemas is not None else dict(TABLE_SCHEMAS)
        self.primary_keys = (
            dict(primary_keys) if primary_keys is not None else dict(PRIMARY_KEYS)
        )
        # batch apply order: registered dims (registry order), then facts
        self._fact_tables = tuple(t for t in fact_tables if t in self.schemas)
        self._apply_order = tuple(
            [t for t in self.schemas if t not in self._fact_tables]
            + list(self._fact_tables)
        )
        self._on_batch_applied: list = []  # hooks: fn(batch_id, deltas dict)
        # offset handoff contract (see bootstrap_then_tail): changes with
        # lsn <= snapshot_lsn are already reflected in the snapshot and
        # MUST be skipped on apply, or a replayed/overlapping tail would
        # regress newer snapshot values under latest-wins
        self.snapshot_lsn: int = self._read_offset()
        # schema evolution: columns added beyond the declared bootstrap
        # schemas, [(name, ddl_type), ...] per table, in DDL order.
        # Persisted next to the offset so a RESTARTED pipeline parses
        # evolved columns without replaying the op='S' rows that
        # declared them (the stream checkpoint skips consumed files).
        self.schema_extras: dict[str, list[tuple[str, str]]] = {}
        #: columns whose type was WIDENED by DDL, {table: {name: ddl
        #: type}} -- persisted with the extras; reference parity: the
        #: connector also survives Postgres ALTER TYPE int -> bigint
        #: (SURVEY.md section 1.3).
        self.schema_widenings: dict[str, dict[str, str]] = {}
        self._read_schema_state()

    def table_schema(self, table: str) -> T.StructType:
        """The table's RUNTIME parse schema: declared bootstrap columns
        plus every column added by schema-change events so far, with
        DDL type widenings applied."""
        base = self.schemas[table]
        have = {f.name for f in base.fields}
        fields = list(base.fields)
        for name, ddl_type in self.schema_extras.get(table, []):
            if name not in have:
                fields.append(
                    T.StructField(name, T.DataType.fromDDL(ddl_type), True)
                )
                have.add(name)
        widened = self.schema_widenings.get(table, {})
        if widened:
            fields = [
                T.StructField(
                    f.name,
                    T.DataType.fromDDL(widened[f.name])
                    if f.name in widened
                    else f.dataType,
                    f.nullable,
                )
                for f in fields
            ]
        return T.StructType(fields)

    # -- evolved-schema persistence ------------------------------------------

    def _schema_path(self) -> str:
        return os.path.join(self.store.root, "_cdc_schemas.json")

    def _read_schema_state(self) -> None:
        try:
            with open(self._schema_path()) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            return
        try:
            # current format: {"extras": {...}, "widenings": {...}};
            # pre-widening files were the bare extras map
            extras = raw.get("extras", raw) if isinstance(raw, dict) else {}
            widenings = raw.get("widenings", {}) if isinstance(raw, dict) else {}
            self.schema_extras = {
                t: [(c["name"], c["type"]) for c in cols]
                for t, cols in extras.items()
                if t != "widenings" and t != "extras"
            }
            self.schema_widenings = {
                t: dict(cols) for t, cols in widenings.items()
            }
        except (KeyError, TypeError, AttributeError):
            self.schema_extras = {}
            self.schema_widenings = {}

    def _write_schema_extras(self) -> None:
        tmp = self._schema_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "extras": {
                        t: [{"name": n, "type": ty} for n, ty in cols]
                        for t, cols in self.schema_extras.items()
                    },
                    "widenings": self.schema_widenings,
                },
                f,
            )
        os.replace(tmp, self._schema_path())

    #: legal DDL type widenings (narrow -> {wider, ...}): the lossless
    #: lattice only.  Postgres int -> bigint is the reference case;
    #: bigint -> double is NOT here (loses precision past 2^53) and
    #: raises instead of silently corrupting keys.
    _WIDENINGS: dict[str, tuple[str, ...]] = {
        "tinyint": ("smallint", "int", "bigint"),
        "smallint": ("int", "bigint"),
        "int": ("bigint",),
        "float": ("double",),
    }

    def _apply_ddl(
        self,
        table: str,
        add_columns: list[dict],
        alter_columns: list[dict] = (),
    ) -> list[str]:
        """Widen ``table``'s runtime schema; idempotent (a replayed
        micro-batch re-presents its op='S' rows).  ``alter_columns``
        (``[{"name": ..., "type": <wider ddl type>}, ...]``) widens an
        EXISTING column's type along the lossless lattice; anything
        else -- unknown column, narrowing, cross-family -- raises.
        Returns the column names newly widened by this call (the
        caller rewrites the stored table for them exactly once)."""
        declared = {f.name for f in self.schemas[table].fields}
        extras = self.schema_extras.setdefault(table, [])
        have = declared | {n for n, _ in extras}
        for col in add_columns:
            name, ddl_type = col["name"], col["type"]
            if name in have:
                continue
            T.DataType.fromDDL(ddl_type)  # validate before recording
            extras.append((name, ddl_type))
            have.add(name)
        newly_widened: list[str] = []
        if alter_columns:
            current = {
                f.name: f.dataType.simpleString()
                for f in self.table_schema(table).fields
            }
            for col in alter_columns:
                name, ddl_type = col["name"], col["type"]
                if name not in current:
                    raise ValueError(
                        f"ALTER COLUMN {table}.{name}: unknown column"
                    )
                new = T.DataType.fromDDL(ddl_type).simpleString()
                old = current[name]
                if new == old:
                    continue  # replayed DDL: already widened
                if new not in self._WIDENINGS.get(old, ()):
                    raise ValueError(
                        f"ALTER COLUMN {table}.{name}: {old} -> {new} is "
                        "not a lossless widening"
                    )
                self.schema_widenings.setdefault(table, {})[name] = new
                newly_widened.append(name)
        return newly_widened

    def _rewrite_widened(self, table: str) -> None:
        """One-time cast-rewrite of the stored table after a widening
        DDL, so stored buckets and future deltas share one physical
        type (parquet mergeSchema cannot reconcile int32 vs int64
        files).  O(table) once -- the same cost the upstream Postgres
        ALTER TYPE table rewrite already paid; subsequent applies are
        O(delta) again."""
        if not self.store.exists(table):
            return
        cur = self.store.read(self.spark, table)
        target = {f.name: f.dataType for f in self.table_schema(table).fields}
        cols = [
            F.col(f.name).cast(target[f.name]).alias(f.name)
            if f.name in target and f.dataType != target[f.name]
            else F.col(f.name)
            for f in cur.schema.fields
        ]
        # overwrite keeps the stored partition spec and zone_cols
        self.store.overwrite(table, cur.select(*cols))

    # -- snapshot-LSN offset persistence ------------------------------------

    def _offset_path(self) -> str:
        return os.path.join(self.store.root, "_cdc_offset.json")

    def _read_offset(self) -> int:
        try:
            with open(self._offset_path()) as f:
                return int(json.load(f)["snapshot_lsn"])
        except (OSError, ValueError, KeyError):
            return -1

    def _write_offset(self, snapshot_lsn: int) -> None:
        tmp = self._offset_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"snapshot_lsn": snapshot_lsn}, f)
        os.replace(tmp, self._offset_path())

    # -- bootstrap (C2) ------------------------------------------------------

    def bootstrap(
        self, seed: dict[str, DataFrame], snapshot_lsn: int | None = None
    ) -> None:
        """Initial snapshot load (SCHEMA_INTROSPECTION + SNAPSHOT phase).

        ``snapshot_lsn``: the WAL position at which the snapshot is
        consistent (Postgres: the replication slot's ``consistent_point``
        from ``CREATE_REPLICATION_SLOT``, captured BEFORE the snapshot
        read).  Persisted next to the store so a restarted pipeline
        keeps the same skip-below watermark.
        """
        extras_changed = False
        for table, df in seed.items():
            if table in self.partition_spec:
                self.store.overwrite(
                    table,
                    df,
                    partition_key=self.primary_keys[table],
                    n_buckets=self.partition_spec[table],
                    zone_cols=self.zone_spec.get(table),
                )
            else:
                self.store.overwrite(table, df)
            # a seed snapshotted AFTER upstream DDL already carries the
            # added columns -- record them as runtime-schema extras so
            # tail rows that use them parse with values, not NULLs
            declared = {f.name for f in self.schemas[table].fields}
            extras = self.schema_extras.setdefault(table, [])
            have = declared | {n for n, _ in extras}
            for f in df.schema.fields:
                if f.name not in have:
                    extras.append((f.name, f.dataType.simpleString()))
                    have.add(f.name)
                    extras_changed = True
        if extras_changed:
            self._write_schema_extras()
        if snapshot_lsn is not None:
            self.snapshot_lsn = snapshot_lsn
            self._write_offset(snapshot_lsn)
        else:
            # a re-seed WITHOUT an offset invalidates any previously
            # persisted watermark: the new feed's LSNs may restart from
            # 0, and a stale high watermark would silently drop every
            # subsequent tail change
            self.snapshot_lsn = -1
            try:
                os.unlink(self._offset_path())
            except OSError:
                pass

    def bootstrap_then_tail(
        self,
        snapshot: dict[str, DataFrame],
        snapshot_lsn: int,
        feed_dir: str,
        checkpoint_dir: str,
        trigger: dict | None = None,
    ):
        """Snapshot-then-tail with the exact offset handoff contract
        (the production seam ``sources/jdbc_source.py`` documents;
        README "Connecting a real Postgres" walks the full recipe).

        Contract:
        1. create the replication slot FIRST; record its consistent
           point as ``snapshot_lsn`` (so no change between snapshot
           and slot creation can be lost);
        2. snapshot every table (``jdbc_source.read_jdbc_snapshot``)
           under a transaction pinned at that point (Postgres: the
           slot's exported snapshot);
        3. hand both to this method.  The tail may replay changes with
           ``lsn <= snapshot_lsn`` (slots resend after unclean
           shutdown); the pipeline drops them -- they are already in
           the snapshot -- so the handoff is idempotent, not
           at-least-once-visible.

        Returns the started StreamingQuery.
        """
        self.bootstrap(snapshot, snapshot_lsn=snapshot_lsn)
        return self.start_stream(feed_dir, checkpoint_dir, trigger)

    # -- batch apply (C3), shared by streaming + tests ----------------------

    def apply_envelope_batch(self, envelope: DataFrame, batch_id: int = -1) -> dict[str, DataFrame]:
        """Apply one envelope micro-batch to every affected table.

        Dimensions apply before the fact table so a batch that inserts
        a dim row + a fact row referencing it lands consistently
        (SURVEY.md section 4.2).  Returns per-table typed deltas for
        downstream incremental view maintenance.

        Changes at or below the persisted ``snapshot_lsn`` watermark
        are dropped (already reflected in the bootstrap snapshot --
        see ``bootstrap_then_tail``); the filter compiles to a codegen
        comparison, zero cost when no watermark is set.

        Transactional envelopes (a ``tx_id`` column is present): only
        COMPLETE transactions apply -- rows whose commit marker hasn't
        arrived are buffered in ``_txn_pending`` and re-presented with
        the next batch, so a transaction split across micro-batches is
        never half-applied.  After the per-table merges the pipeline
        publishes a ``CDC_GROUP`` snapshot
        (``store.read_group(spark, CDC_GROUP, table)``), which flips
        atomically: a reader joining two tables through the group sees
        every transaction of a batch entirely or not at all, even
        between the batch's individual merge commits.
        """
        deferred = None
        pre_split = None
        if "tx_id" in envelope.columns:
            if self.store.exists(TXN_PENDING_TABLE):
                envelope = envelope.unionByName(
                    self.store.read(self.spark, TXN_PENDING_TABLE)
                )
            # The split's two outputs (ready, deferred) traverse the
            # same gate subtree; cache the unioned input ONCE so
            # writing the pending buffer re-runs only the delta-sized
            # gate aggregations, not the source + pending scans.
            envelope = pre_split = envelope.cache()
            # Gate BEFORE the snapshot watermark: a replayed tx can
            # straddle the handoff (slots resend after unclean
            # shutdown), and its pre-snapshot rows must still COUNT
            # toward the marker's event_count or the marker would wait
            # forever.  They are then dropped from the apply side below
            # -- assembly semantics ("every event arrived") and
            # application semantics ("only post-snapshot changes
            # apply") are distinct.
            envelope, deferred = split_complete_transactions(envelope)
        if self.snapshot_lsn >= 0:
            envelope = envelope.filter(F.col("lsn") > F.lit(self.snapshot_lsn))
        envelope = cached = envelope.cache()
        deltas: dict[str, DataFrame] = {}
        try:
            # ONE metadata job per batch: the affected table set, the
            # batch's op='S' schema-change rows (collect_list drops the
            # NULLs non-DDL rows produce; DDL events are rare and tiny),
            # AND each partitioned table's touched bucket ids, so its
            # merge skips its own bucket-id collect.  The buckets hash
            # the RAW batch keys (a superset of the upsert keys, which
            # is merge's touched_buckets contract), each table's key
            # parsed in its own branch under its own schema -- folding
            # keys of different types into one column first would cast
            # and re-hash them.  A DDL batch does not use them: a key
            # widening changes the key's type, and so its hash.
            # DDL applies first -- it sits in the READY set, so a DDL
            # inside an open transaction stays deferred with its data --
            # widening runtime schemas in lsn order before the batch's
            # data rows are parsed under them.
            bucket_of = F.lit(None).cast("int")
            for table in self._apply_order:
                spec = self.store.partition_spec(table)
                if not spec:
                    continue
                key, n_buckets = spec
                bucket_of = F.when(
                    (F.col("table_name") == table)
                    & (F.col("op") != SCHEMA_CHANGE_OP),
                    ParquetTableStore.bucket_expr(
                        F.from_json("after_json", self.table_schema(table))[key],
                        n_buckets,
                    ),
                ).otherwise(bucket_of)
            meta = envelope.groupBy("table_name").agg(
                F.collect_list(
                    F.when(
                        F.col("op") == SCHEMA_CHANGE_OP,
                        F.struct("lsn", "after_json"),
                    )
                ).alias("ddl"),
                F.collect_set(bucket_of).alias("buckets"),
            ).collect()
            ddl_rows = sorted(
                ((r["table_name"], d["lsn"], d["after_json"]) for r in meta for d in r["ddl"]),
                key=lambda t: t[1],
            )
            touched_buckets = (
                {}
                if ddl_rows
                else {r["table_name"]: r["buckets"] for r in meta if r["buckets"]}
            )
            if ddl_rows:
                widened: dict[str, bool] = {}
                for table, _lsn, after_json in ddl_rows:
                    spec = json.loads(after_json or "{}")
                    if self._apply_ddl(
                        table,
                        spec.get("add_columns", []),
                        spec.get("alter_columns", []),
                    ):
                        widened[table] = True
                self._write_schema_extras()
                # type widenings rewrite the stored table ONCE (cast to
                # the widened physical type) before this batch's data
                # rows -- parsed under the widened schema -- merge in
                for table in widened:
                    self._rewrite_widened(table)
                envelope = envelope.filter(F.col("op") != SCHEMA_CHANGE_OP)
            tables = [r["table_name"] for r in meta]
            ordered = [t for t in self._apply_order if t in tables]

            def _apply_one(table: str) -> None:
                # not cached: a narrow from_json over the cached
                # envelope, and each cache would run its own jobs
                changes = parse_table_changes(
                    envelope, table, self.table_schema(table)
                )
                key = self.primary_keys[table]
                if self.store.exists(table) and self.store.partition_spec(table):
                    # partition-pruned MERGE: only touched buckets rewrite
                    upserts, touched = split_changes(changes, key)
                    self.store.merge(
                        self.spark,
                        table,
                        upserts,
                        touched,
                        touched_buckets=touched_buckets.get(table),
                    )
                else:
                    current = (
                        self.store.read(self.spark, table) if self.store.exists(table) else None
                    )
                    self.store.overwrite(table, apply_changes(current, changes, key))
                deltas[table] = changes

            # Dimensions still apply BEFORE the fact (the dim+fact
            # consistency contract above), but the dims themselves are
            # mutually independent -- disjoint table directories,
            # disjoint version pointers -- so their merge jobs run
            # CONCURRENTLY (SparkSession actions are thread-safe; on a
            # cluster this overlaps three tables' shuffle+write I/O
            # instead of serializing it through the driver loop).
            dims = [t for t in ordered if t not in self._fact_tables]
            if len(dims) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(dims)) as pool:
                    # list() re-raises the first worker exception
                    list(pool.map(_apply_one, dims))
            else:
                for table in dims:
                    _apply_one(table)
            for table in self._fact_tables:
                if table in ordered:
                    _apply_one(table)
            if deferred is not None:
                # buffer open transactions (bounded by in-flight txs,
                # not history); written before the group commit so a
                # replayed batch re-derives the same ready set
                self.store.overwrite(TXN_PENDING_TABLE, deferred)
            # atomic multi-table visibility: pin every replicated
            # table's post-merge version under one group pointer
            members = [t for t in self._apply_order if self.store.exists(t)]
            if members:
                self.store.commit_group(CDC_GROUP, members)
            for hook in self._on_batch_applied:
                hook(batch_id, deltas)
        finally:
            cached.unpersist()
            if pre_split is not None:
                pre_split.unpersist()
        return deltas

    def on_batch_applied(self, hook) -> None:
        """Register ``fn(batch_id, deltas)`` to run after each apply --
        the seam where dynamic-table incremental refresh plugs in."""
        self._on_batch_applied.append(hook)

    # -- streaming tail (C1) -------------------------------------------------

    def start_stream(
        self,
        feed_dir: str,
        checkpoint_dir: str,
        trigger: dict | None = None,
        transactional: bool = False,
    ):
        """Tail the feed directory; one micro-batch per trigger tick.

        ``trigger`` defaults to ``availableNow`` (drain-and-stop, used
        by tests); pass ``{"processingTime": "60 seconds"}`` for the
        reference's 1-minute freshness SLO (C5).  ``transactional``
        parses the feed with :data:`FEED_SCHEMA_TXN` and turns on
        complete-transaction gating (see ``apply_envelope_batch``);
        non-transactional feed files still work (tx_id parses NULL).
        """
        os.makedirs(feed_dir, exist_ok=True)  # tailing an empty feed is valid
        stream = (
            self.spark.readStream.schema(
                FEED_SCHEMA_TXN if transactional else FEED_SCHEMA
            )
            .json(feed_dir)
        )
        writer = (
            stream.writeStream.option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda batch, bid: self.apply_envelope_batch(batch, bid))
        )
        if trigger:
            writer = writer.trigger(**trigger)
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()
