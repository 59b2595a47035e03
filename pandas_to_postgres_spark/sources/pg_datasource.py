"""Spark 4 Python DataSource: read FROM PostgreSQL over the pure-Python
wire client — `spark.read.format("pgwire")`.

The reference only loads INTO Postgres; this closes the loop so a loaded
table can be read back, verified, or joined as a Spark source without a
JDBC driver (none ships in this container — the same gap `sinks/pgwire.py`
fills on the write side).

Scale shape:

- **Partitioned reads**: with ``partitionColumn`` + ``numPartitions``,
  partition i issues ``WHERE mod(abs(<col>), N) = i`` — N executors each
  pull a disjoint slice over their own connection, the same
  one-connection-per-task discipline as the COPY sink. NULL keys ride
  partition 0.
- **Filter pushdown** (`pushFilters`, Spark 4.1): opt in with
  ``option("pushdown", "true")`` on a session where
  ``spark.sql.python.filterPushdown.enabled=true`` (the option exists
  because ``reader()`` runs in Spark's session-less planning worker and
  cannot read the conf). EqualTo on any type and inequalities on
  NON-string values compile into the WHERE clause so the SERVER prunes
  rows before they cross the wire; string inequalities stay Spark-side
  (server collation vs binary ordering), as does everything else the API
  hands back.
- Schema comes from ``information_schema.columns`` at plan time; pgwire
  returns text, and each column is converted by declared type in the
  reader (BIGINT/INT → int, DOUBLE/REAL → float, BOOLEAN → 't'/'f',
  DATE/TIMESTAMP → datetime, NUMERIC → Decimal).

- **Streaming reads** (``spark.readStream.format("pgwire")``): polling
  CDC over an append-only table with a monotonic BIGINT
  ``option("seqColumn", ...)`` — offsets are high-water marks in
  Spark's checkpoint, each micro-batch's (lo, hi] interval fans out as
  ``streamPartitions`` modulo-slices, one executor connection each
  (see PostgresStreamReader).

Usage::

    spark.dataSource.register(PostgresDataSource)
    df = (spark.read.format("pgwire")
          .option("host", sockdir).option("port", 5432)
          .option("user", "spark").option("dbname", "spark")
          .option("table", "lineitem")
          .option("partitionColumn", "l_orderkey")
          .option("numPartitions", "8")
          .load())
"""

from __future__ import annotations

import datetime
import uuid
from decimal import Decimal
from typing import Iterator, List

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from pandas_to_postgres_spark.sinks.postgres_copy import (
    StageMessage,
    TargetTable,
    _copy_task,
    _stage_plan,
    abort_stages,
    join_stage_drops,
    publish_stages,
)

#: information_schema data_type → (Spark DDL type, python converter)
_PG_TYPES = {
    "bigint": ("bigint", int),
    "integer": ("int", int),
    "smallint": ("smallint", int),
    "double precision": ("double", float),
    "real": ("float", float),
    "numeric": ("decimal(38,18)", Decimal),
    "text": ("string", str),
    "character varying": ("string", str),
    "character": ("string", str),
    "boolean": ("boolean", lambda v: v == "t"),
    "date": ("date", datetime.date.fromisoformat),
    "timestamp without time zone": (
        "timestamp_ntz",
        datetime.datetime.fromisoformat,
    ),
}


def _conn_params(options) -> dict:
    params = {
        "user": options.get("user", "spark"),
        "dbname": options.get("dbname", "spark"),
    }
    if options.get("host"):
        params["host"] = options["host"]
    if options.get("port"):
        params["port"] = int(options["port"])
    return params


def _connect(options):
    from pandas_to_postgres_spark.sinks import pgwire  # noqa: PLC0415

    return pgwire.connect(**_conn_params(options))


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"'{v.isoformat()}'"
    return str(v)


class PostgresReaderNoPushdown(DataSourceReader):
    """Partitioned reader WITHOUT pushFilters: merely DEFINING pushFilters
    makes Spark raise [DATA_SOURCE_PUSHDOWN_DISABLED] at plan time when
    ``spark.sql.python.filterPushdown.enabled`` is false (the default) —
    so readers built without ``option("pushdown", "true")`` use this class
    and evaluate filters Spark-side."""

    def __init__(self, options, columns, converters):
        self.options = dict(options)
        self.columns = columns
        self.converters = converters
        self.pushed: List[str] = []

    def partitions(self):
        n = int(self.options.get("numpartitions", "1"))
        return [InputPartition(i) for i in range(max(1, n))]

    def _where(self, pid: int) -> str:
        preds = list(self.pushed)
        n = int(self.options.get("numpartitions", "1"))
        pcol = self.options.get("partitioncolumn")
        if n > 1 and pcol:
            part = f'mod(abs("{pcol}"), {n}) = {pid}'
            if pid == 0:  # NULL keys ride partition 0
                part = f'({part} OR "{pcol}" IS NULL)'
            preds.append(part)
        return (" WHERE " + " AND ".join(preds)) if preds else ""

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        schema = self.options.get("schema", "public")
        table = self.options["table"]
        cols = ", ".join(f'"{c}"' for c in self.columns)
        sql = (
            f'SELECT {cols} FROM "{schema}"."{table}"'
            + self._where(partition.value)
        )
        conn = _connect(self.options)
        try:
            with conn, conn.cursor() as cur:
                cur.execute(sql)
                convs = self.converters
                for row in cur.fetchall():
                    yield tuple(
                        None if v is None else conv(v)
                        for v, conv in zip(row, convs)
                    )
        finally:
            conn.close()


class PostgresReader(PostgresReaderNoPushdown):
    _OPS = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }

    def pushFilters(self, filters):  # noqa: N802 - API name
        import pyspark.sql.datasource as _ds  # noqa: PLC0415

        null_ops = {
            getattr(_ds, "IsNull", ()): "IS NULL",
            getattr(_ds, "IsNotNull", ()): "IS NOT NULL",
        }
        for f in filters:
            if type(f) in null_ops and len(f.attribute) == 1:
                self.pushed.append(f'"{f.attribute[0]}" {null_ops[type(f)]}')
                continue
            op = self._OPS.get(type(f))
            # only plain top-level columns ride the WHERE clause — and
            # inequality only on NON-string values: string ordering on the
            # server follows the database collation (often linguistic,
            # e.g. en_US.UTF-8) while Spark compares binary codepoints, so
            # a pushed "name > 'a'" could return rows Spark would exclude.
            # Equality is collation-safe under Postgres's default
            # deterministic collations.
            if (
                op is not None
                and len(f.attribute) == 1
                and (op == "=" or not isinstance(f.value, str))
            ):
                col = f.attribute[0]
                self.pushed.append(f'"{col}" {op} {_sql_literal(f.value)}')
            else:
                yield f


class PostgresDataSource(DataSource):
    """``spark.read.format("pgwire")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "pgwire"

    def _columns(self):
        conn = _connect(self.options)
        try:
            with conn, conn.cursor() as cur:
                cur.execute(
                    "SELECT column_name, data_type FROM information_schema.columns"
                    " WHERE table_schema = %s AND table_name = %s"
                    " ORDER BY ordinal_position",
                    (self.options.get("schema", "public"), self.options["table"]),
                )
                rows = cur.fetchall()
        finally:
            conn.close()
        if not rows:
            raise ValueError(f"table {self.options['table']!r} does not exist")
        cols, ddl, convs = [], [], []
        for name, dtype in rows:
            spark_t, conv = _PG_TYPES.get(dtype, ("string", str))
            cols.append(name)
            ddl.append(f"{name} {spark_t}")
            convs.append(conv)
        return cols, ", ".join(ddl), convs

    def schema(self) -> str:
        self._cols, ddl, self._convs = self._columns()
        return ddl

    def writer(self, schema, overwrite: bool):
        """``df.write.format("pgwire").mode("append"|"overwrite")`` —
        staged, atomic, retry-safe write path (see PostgresArrowWriter)."""
        return PostgresArrowWriter(
            self.options, [f.name for f in schema.fields], overwrite
        )

    def streamWriter(self, schema, overwrite: bool):
        """``df.writeStream.format("pgwire")`` — exactly-once staged
        append per epoch (see PostgresStreamWriter). Append-only."""
        if overwrite:
            raise ValueError(
                "pgwire streaming sink is append-only; use foreachBatch"
                " + staged_full_refresh for replace semantics"
            )
        return PostgresStreamWriter(
            self.options, [f.name for f in schema.fields]
        )

    def streamReader(self, schema):
        """``spark.readStream.format("pgwire")`` — incremental CDC-style
        reads over a MONOTONIC sequence column (see PostgresStreamReader).
        Requires ``option("seqColumn", ...)``."""
        all_cols, _, all_convs = self._columns()
        cols, convs = [], []
        for name in schema.fieldNames():
            idx = all_cols.index(name)
            cols.append(name)
            convs.append(all_convs[idx])
        return PostgresStreamReader(self.options, cols, convs)

    def reader(self, schema) -> PostgresReaderNoPushdown:
        all_cols, _, all_convs = self._columns()
        # honor a user-supplied .schema(...): Spark skips calling schema()
        # and hands the user's StructType here — project and convert ONLY
        # those fields (in the user's order), instead of yielding
        # full-width tuples against a narrower expected schema
        conv_by_name = dict(zip(all_cols, all_convs))
        cols, convs = [], []
        for name in schema.fieldNames():
            if name not in conv_by_name:
                raise ValueError(
                    f"column {name!r} not in table "
                    f"{self.options['table']!r} ({all_cols})"
                )
            cols.append(name)
            convs.append(conv_by_name[name])
        # reader() runs in Spark's spawned planning worker, which has NO
        # SparkSession/SparkContext — the conf is unreadable here, so the
        # pushdown-capable reader is opted into via option("pushdown",
        # "true") (requires spark.sql.python.filterPushdown.enabled=true
        # on the session, else Spark raises DATA_SOURCE_PUSHDOWN_DISABLED
        # at plan time). A getActiveSession()-based probe would silently
        # always pick the no-pushdown reader.
        enabled = str(self.options.get("pushdown", "false")).lower() == "true"
        cls = PostgresReader if enabled else PostgresReaderNoPushdown
        return cls(self.options, cols, convs)


class _StagedWriter:
    """Task side shared by both pgwire writers: each task stages its
    partition's Arrow batches through the staged-publish core of
    `sinks/postgres_copy` (DROP-IF-EXISTS + CREATE + COPY of its stage in
    one transaction, so a retried or speculative attempt replaces its
    stage) and returns the stage's :class:`StageMessage`. Commit and abort
    are the core's publish and sweep; a commit also waits for the publish's
    deferred stage drop, because Spark may end the process that ran it
    right after. The core's module comment describes the one residual
    caveat (orphans of a driver that died before commit or abort). The
    stage scope is minted per writer on the driver and pickled into every
    task."""

    def __init__(self, options, columns):
        self.params = _conn_params(options)
        self.target = TargetTable(
            schema=options.get("schema", "public"),
            name=options["table"],
            columns=list(columns),
        )
        self.scope = uuid.uuid4().hex[:8]

    def write(self, iterator) -> StageMessage:
        plan = _stage_plan(self.target, self.scope)
        return _copy_task(self.params, plan, iterator)


class PostgresArrowWriter(_StagedWriter, DataSourceArrowWriter):
    """``df.write.format("pgwire")`` — Spark's writer commit protocol on
    the staged core: ``commit`` publishes every task's stage in ONE
    transaction (after a TRUNCATE in overwrite mode), ``abort`` sweeps
    the job's scope — the writer is pickled into the commit, so a
    concurrent writer to the same table never sees this job's stages."""

    def __init__(self, options, columns, overwrite: bool):
        super().__init__(options, columns)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        publish_stages(
            self.params,
            self.target,
            messages,
            self.scope,
            truncate=self.overwrite,
        )
        join_stage_drops(self.params)  # the commit runner may exit right after

    def abort(self, messages) -> None:
        abort_stages(self.params, self.target, messages, self.scope)


@dataclass
class PgStreamPartition(InputPartition):
    """One micro-batch slice: rows with ``lo < seq <= hi`` and
    ``mod(abs(seq), n_slices) = slice`` — contiguous in offset space,
    sliced for executor parallelism within the batch."""

    lo: int
    hi: int
    slice: int
    n_slices: int


class PostgresStreamReader(DataSourceStreamReader):
    """Spark 4 streaming Python DataSource reader: incremental reads from
    an APPEND-ONLY Postgres table ordered by a monotonic BIGINT sequence
    column (``option("seqColumn", ...)``) — the polling-CDC ingest shape
    (outbox tables, audit logs, ledger feeds).

    Offsets are ``{"seq": N}`` = "everything with seq <= N has been
    emitted". ``latestOffset`` polls ``max(seq)`` on the driver;
    ``partitions(start, end)`` fans the (start, end] interval out as
    ``streamPartitions`` modulo-slices so each EXECUTOR pulls its share
    over its own connection (same discipline as the batch reader);
    ``read`` runs the per-slice SELECT. Exactly-once downstream comes
    from Spark's offset log + the sink's idempotency, exactly like a
    file source: a replayed batch re-issues the same (lo, hi] queries,
    and an append-only feed returns the same rows.

    Contract: ``seqColumn`` values must never decrease once visible (an
    outbox with a sequence/identity column). Rows that commit OUT of
    seq order can be missed if a poll observes a later seq first —
    the standard polling-CDC caveat; use a single-writer outbox or an
    insert trigger to guarantee visibility order.
    """

    def __init__(self, options, columns, converters):
        self.options = dict(options)
        self.columns = list(columns)
        self.converters = list(converters)
        self.table = options["table"]
        self.schema_name = options.get("schema", "public")
        self.seq_col = options["seqColumn"]
        self.n_slices = int(options.get("streamPartitions", "2"))
        self.start_seq = int(options.get("startSeq", "-1"))

    def _q(self) -> str:
        return f'"{self.schema_name}"."{self.table}"'

    def initialOffset(self) -> dict:
        return {"seq": self.start_seq}

    def latestOffset(self) -> dict:
        conn = _connect(self.options)
        try:
            with conn, conn.cursor() as cur:
                cur.execute(
                    f'SELECT coalesce(max("{self.seq_col}"), %s) FROM {self._q()}',
                    (self.start_seq,),
                )
                (mx,) = cur.fetchall()[0]
        finally:
            conn.close()
        return {"seq": int(mx)}

    def partitions(self, start: dict, end: dict):
        if int(end["seq"]) <= int(start["seq"]):
            return []
        return [
            PgStreamPartition(
                lo=int(start["seq"]),
                hi=int(end["seq"]),
                slice=i,
                n_slices=self.n_slices,
            )
            for i in range(self.n_slices)
        ]

    def read(self, part: PgStreamPartition) -> Iterator[tuple]:
        col_list = ", ".join(f'"{c}"' for c in self.columns)
        conn = _connect(self.options)
        try:
            with conn, conn.cursor() as cur:
                cur.execute(
                    f"SELECT {col_list} FROM {self._q()}"
                    f' WHERE "{self.seq_col}" > %s AND "{self.seq_col}" <= %s'
                    f' AND mod(abs("{self.seq_col}"), %s) = %s',
                    (part.lo, part.hi, part.n_slices, part.slice),
                )
                for row in cur.fetchall():
                    yield tuple(
                        None if v is None else conv(v)
                        for v, conv in zip(row, self.converters)
                    )
        finally:
            conn.close()

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; the source is passive


class PostgresStreamWriter(_StagedWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("pgwire")`` — exactly-once streaming
    append into Postgres through the writer-commit protocol on the staged
    core: ``commit`` (per epoch) publishes the epoch's stages together
    with its row in the epoch LEDGER (same convention as
    `sinks/postgres_copy.load_batch_exactly_once`), so a replayed epoch
    publishes nothing; ``abort`` drops the epoch's stages. Spark runs
    commit/abort in a separate commit-runner process with a freshly
    constructed writer, so no task-side state survives there: stages are
    addressed ONLY through the commit messages.

    The ledger is namespaced by ``option("runId", ...)`` — a stable
    per-query identity the caller derives from the CHECKPOINT location
    (restarts of the same checkpoint must pass the same runId so epoch
    replays are recognized; a NEW query with a fresh checkpoint must
    pass a new runId so its batchIds 0,1,2... don't collide with a
    previous run's ledger rows and silently drop every epoch). When
    runId is omitted it defaults to '' with a warning: safe for the
    first query against a table, unsafe for the second — clear
    ``stream_epochs`` or pass runId.

    Append-only by design (a streaming sink that TRUNCATEs per epoch
    would destroy history); use foreachBatch + `staged_full_refresh`
    for replace semantics.
    """

    def __init__(self, options, columns):
        import warnings  # noqa: PLC0415

        super().__init__(options, columns)
        self.epoch_table = options.get("epochTable", "stream_epochs")
        self.run_id = options.get("runId", "")
        if not self.run_id:
            warnings.warn(
                "pgwire streaming sink: no runId option — the epoch "
                "ledger is shared across queries, so starting a NEW "
                "query (fresh checkpoint) against a previously-written "
                "table would match the old run's batchIds and silently "
                "drop every epoch. Pass option('runId', <id derived "
                "from the checkpoint location>).",
                stacklevel=2,
            )

    def commit(self, messages, batchId) -> None:  # noqa: N803 — API name
        publish_stages(
            self.params,
            self.target,
            messages,
            ledger=(self.epoch_table, self.run_id, batchId),
        )
        join_stage_drops(self.params)  # the commit runner may exit right after

    def abort(self, messages, batchId) -> None:  # noqa: N803 — API name
        abort_stages(self.params, self.target, messages)
