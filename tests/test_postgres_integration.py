"""End-to-end Postgres COPY-sink integration: the reference's core workload
(`/root/reference/pandas_to_postgres/_base_copy.py:130-144` COPY FROM STDIN,
constraint drop/create bracket, TRUNCATE/ANALYZE) executed against a REAL
PostgreSQL server.

The container ships Postgres server binaries but no client library, so a
throwaway cluster is initdb'ed into a pytest tmp dir (run as ``nobody`` —
Postgres refuses root) listening on a unix socket only, and the sink talks
to it through the bundled pure-Python wire-protocol client
(sinks/pgwire.py). Skips cleanly where binaries or user-switching are
unavailable."""

from __future__ import annotations

import pytest

from pandas_to_postgres_spark.sinks import pglocal, pgwire
from pandas_to_postgres_spark.sinks.postgres_copy import (
    ForeignKey,
    TargetTable,
    copy_to_postgres,
    join_stage_drops,
    reflect_target_table,
)


@pytest.fixture(scope="module")
def pg():
    reason = pglocal.available()
    if reason:
        pytest.skip(reason)
    server = pglocal.start()
    yield server.conn_params
    join_stage_drops()  # no deferred stage drop outlives its server
    pglocal.stop(server)


@pytest.fixture(scope="module")
def schema(pg):
    """customer ← orders star slice with PK + FK, the reflection target."""
    conn = pgwire.connect(**pg)
    conn.autocommit = True
    with conn.cursor() as cur:
        cur.execute(
            """CREATE TABLE IF NOT EXISTS customer (
                   c_custkey BIGINT,
                   c_name TEXT,
                   c_acctbal DOUBLE PRECISION,
                   CONSTRAINT customer_pkey PRIMARY KEY (c_custkey))"""
        )
        cur.execute(
            """CREATE TABLE IF NOT EXISTS orders (
                   o_orderkey BIGINT,
                   o_custkey BIGINT,
                   o_status TEXT,
                   o_total DOUBLE PRECISION,
                   CONSTRAINT orders_pkey PRIMARY KEY (o_orderkey),
                   CONSTRAINT orders_cust_fk FOREIGN KEY (o_custkey)
                       REFERENCES customer (c_custkey))"""
        )
    conn.close()
    return pg


class TestPgWire:
    def test_roundtrip_query(self, pg):
        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT 1 + 1 AS two, NULL AS nothing, 'it''s' AS s")
            assert cur.fetchall() == [("2", None, "it's")]
        conn.close()

    def test_param_substitution(self, pg):
        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT %s::text, %s::bigint", ("a'b", 7))
            assert cur.fetchall() == [("a'b", "7")]
        conn.close()

    def test_error_surfaces_and_connection_survives(self, pg):
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        cur = conn.cursor()
        with pytest.raises(pgwire.PgError, match="does not exist"):
            cur.execute("SELECT * FROM no_such_table")
        cur.execute("SELECT 42")
        assert cur.fetchall() == [("42",)]
        conn.close()

    def test_rowcount_from_command_tag(self, pg):
        """``rowcount`` is the count of the CommandComplete tag, as in
        psycopg2: -1 for a statement whose tag carries none."""
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        cur = conn.cursor()
        cur.execute("CREATE TEMP TABLE rc (a INT)")
        assert cur.rowcount == -1
        cur.execute("INSERT INTO rc SELECT generate_series(1, 3)")
        assert cur.rowcount == 3
        cur.execute("UPDATE rc SET a = a + 1 WHERE a > 1")
        assert cur.rowcount == 2
        cur.execute("SELECT * FROM rc")
        assert cur.rowcount == 3
        conn.close()

    def test_copy_after_notice(self, pg):
        """A NOTICE (here: identifier truncation) may precede the server's
        CopyInResponse; the client must skip it, not desynchronize."""
        import io

        name = "notice_" + "x" * 60
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        cur = conn.cursor()
        cur.execute(f'CREATE TABLE IF NOT EXISTS "{name}" (a INT)')
        cur.copy_expert(f'COPY "{name}" (a) FROM STDIN WITH CSV', io.StringIO("1\n2\n"))
        cur.execute(f'SELECT count(*) FROM "{name}"')
        assert cur.fetchall() == [("2",)]
        conn.close()


class TestReflect:
    def test_reflects_columns_pk_fk(self, schema):
        t = reflect_target_table(schema, "public", "orders")
        assert list(t.columns) == ["o_orderkey", "o_custkey", "o_status", "o_total"]
        assert t.primary_key == ["o_orderkey"] and t.pk_name == "orders_pkey"
        assert [fk.name for fk in t.foreign_keys] == ["orders_cust_fk"]
        assert "REFERENCES customer" in t.foreign_keys[0].definition

    def test_missing_table_raises_reference_contract(self, schema):
        # same contract as `hdf_to_postgres.py:94-96`
        with pytest.raises(ValueError, match="does not exist"):
            reflect_target_table(schema, "public", "nope")


class TestCopyEndToEnd:
    def _counts(self, pg, sql):
        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute(sql)
            out = cur.fetchall()
        conn.close()
        return out

    def test_parallel_copy_with_constraint_bracket(self, spark, schema):
        cust = spark.createDataFrame(
            [(i, f"cust#{i}", float(i) * 1.5 if i % 7 else None) for i in range(1, 501)],
            "c_custkey long, c_name string, c_acctbal double",
        )
        target = reflect_target_table(schema, "public", "customer")
        copy_to_postgres(cust, schema, target, num_partitions=4)
        n = self._counts(schema, "SELECT count(*) FROM customer")[0][0]
        nulls = self._counts(
            schema, "SELECT count(*) FROM customer WHERE c_acctbal IS NULL"
        )[0][0]
        assert n == "500" and nulls == str(500 // 7)
        # PK survived the drop/create bracket
        (pk,) = self._counts(
            schema,
            "SELECT count(*) FROM pg_constraint WHERE conname = 'customer_pkey'",
        )[0]
        assert pk == "1"
        # full refresh: loading again replaces, not appends
        copy_to_postgres(cust, schema, target, num_partitions=2)
        assert self._counts(schema, "SELECT count(*) FROM customer")[0] == ("500",)

    def test_staged_full_refresh_is_atomic_and_leaves_no_stages(self, spark, schema):
        """staged=True: old rows are replaced in one commit, counts are
        exact, and no stage tables survive the publish."""
        from pandas_to_postgres_spark.sinks.postgres_copy import stage_name

        cust = spark.createDataFrame(
            [(i, f"old#{i}", float(i)) for i in range(1, 101)],
            "c_custkey long, c_name string, c_acctbal double",
        )
        target = reflect_target_table(schema, "public", "customer")
        copy_to_postgres(cust, schema, target, num_partitions=3)
        # keep keys 1..500 present: the freeze test's orders FK
        # references this domain
        new = spark.createDataFrame(
            [(i, f"new#{i}", float(i) * 2) for i in range(1, 501)],
            "c_custkey long, c_name string, c_acctbal double",
        )
        copy_to_postgres(new, schema, target, num_partitions=4, staged=True)
        assert self._counts(schema, "SELECT count(*) FROM customer")[0] == ("500",)
        assert self._counts(
            schema, "SELECT count(*) FROM customer WHERE c_name LIKE 'old%'"
        )[0] == ("0",)
        stages = (
            "SELECT count(*) FROM pg_tables "
            "WHERE tablename LIKE 'customer\\_\\_stg\\_%'"
        )
        # the publish's deferred drop removed every stage table
        join_stage_drops()
        assert self._counts(schema, stages)[0] == ("0",)
        # a leftover stage of a crashed refresh (another scope) is never
        # published, nor swept by a live refresh
        orphan = stage_name("customer", "crashed", 99)
        conn = pgwire.connect(**schema)
        with conn, conn.cursor() as cur:
            cur.execute(f"CREATE TABLE {orphan} (LIKE customer)")
            cur.execute(f"INSERT INTO {orphan} SELECT * FROM customer LIMIT 5")
        conn.close()
        copy_to_postgres(new, schema, target, num_partitions=2, staged=True)
        assert self._counts(schema, "SELECT count(*) FROM customer")[0] == ("500",)
        join_stage_drops()
        assert self._counts(schema, stages)[0] == ("1",)
        conn = pgwire.connect(**schema)
        with conn, conn.cursor() as cur:
            cur.execute(f"DROP TABLE {orphan}")
        conn.close()

    def test_freeze_single_transaction_path(self, spark, schema):
        orders = spark.createDataFrame(
            [(i, 1 + i % 500, "F" if i % 2 else "O", float(i)) for i in range(1, 301)],
            "o_orderkey long, o_custkey long, o_status string, o_total double",
        )
        # explicit descriptor (the reference's other construction path):
        # loading customer above dropped customer_pkey CASCADE, which took
        # orders_cust_fk with it — carrying the FK here recreates it
        target = TargetTable(
            schema="public",
            name="orders",
            columns=("o_orderkey", "o_custkey", "o_status", "o_total"),
            primary_key=("o_orderkey",),
            pk_name="orders_pkey",
            foreign_keys=(
                ForeignKey(
                    "orders_cust_fk",
                    "FOREIGN KEY (o_custkey) REFERENCES customer (c_custkey)",
                ),
            ),
        )
        copy_to_postgres(orders, schema, target, freeze=True)
        assert self._counts(schema, "SELECT count(*) FROM orders")[0] == ("300",)
        # FK recreated and actually enforced after the load
        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with pytest.raises(pgwire.PgError, match="violates foreign key"):
            conn.cursor().execute(
                "INSERT INTO orders VALUES (9999, 888888, 'X', 1.0)"
            )
        conn.close()
        # an empty input still leaves the target truncated
        copy_to_postgres(orders.limit(0), schema, target, freeze=True)
        assert self._counts(schema, "SELECT count(*) FROM orders")[0] == ("0",)

    def test_copy_reports_bad_rows(self, schema):
        import io

        conn = pgwire.connect(**schema)
        with pytest.raises(pgwire.PgError, match="invalid input syntax"):
            with conn, conn.cursor() as cur:
                cur.copy_expert(
                    'COPY "public"."customer" (c_custkey, c_name, c_acctbal) '
                    "FROM STDIN WITH CSV",
                    io.StringIO("not_a_number,x,1.0\n"),
                )
        conn.close()


class TestStagedCore:
    """The stage→publish core under conditions the bulk path never
    creates: retried task attempts, concurrent refreshes of one table,
    and target names near Postgres's 63-byte identifier limit."""

    def _table(self, pg, name, rows=()):
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute(f"DROP TABLE IF EXISTS {name}")
            cur.execute(f"CREATE TABLE {name} (k BIGINT, tag TEXT)")
            for r in rows:
                cur.execute(f"INSERT INTO {name} VALUES (%s, %s)", r)
        conn.close()

    def _q(self, pg, sql, params=None):
        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute(sql, params)
            out = cur.fetchall()
        conn.close()
        return out

    def _stages_left(self, pg, name):
        """Tables sharing the target's first 32 bytes (every stage name's
        head), other than the target itself, once the pending deferred
        stage drop is joined."""
        join_stage_drops()
        like = name[:32].replace("_", "\\_") + "%"
        return self._q(
            pg,
            "SELECT count(*) FROM pg_tables WHERE tablename LIKE %s"
            " AND tablename <> %s",
            (like, name),
        )[0][0]

    @pytest.mark.parametrize("shape", ["append", "truncate", "ledger"])
    def test_retried_attempt_lands_once(self, spark, schema, shape):
        """The same (scope, part) staged twice, as a retried task does:
        the second attempt replaces the first, and publishing its message
        lands the rows once."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            _run_copy_tasks,
            _stage_plan,
            publish_stages,
        )

        name = f"retry_{shape}"
        self._table(schema, name, [(-1, "old")])
        target = TargetTable("public", name, ["k", "tag"])
        plan = _stage_plan(target, "attempts")

        def attempt(tag):
            df = spark.createDataFrame(
                [(i, tag) for i in range(30)], "k long, tag string"
            )
            return _run_copy_tasks(df.coalesce(1), schema, plan)

        first, second = attempt("stale"), attempt("final")
        assert [m.stage for m in first] == [m.stage for m in second]
        ledger = ("retry_epochs", "run", 1) if shape == "ledger" else None

        def publish():
            return publish_stages(
                schema, target, second, "attempts",
                truncate=shape == "truncate", ledger=ledger,
            )

        assert publish() == 30
        if ledger:
            assert publish() == 0  # the replayed epoch publishes nothing
        kept = [] if shape == "truncate" else [("old", "1")]
        assert self._q(
            schema, f"SELECT tag, count(*) FROM {name} GROUP BY tag ORDER BY tag"
        ) == [("final", "30")] + kept
        assert self._stages_left(schema, name) == "0"

    def test_long_target_name_loses_no_rows(self, spark, schema):
        """A 52-byte target: per-partition stage names must stay distinct
        within 63 bytes, or two partitions share one truncated stage and
        the batch is lost."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            load_batch_exactly_once,
        )

        name = "long_" + "n" * 47
        assert len(name) == 52
        self._table(schema, name)
        target = TargetTable("public", name, ["k", "tag"])
        batch = spark.createDataFrame(
            [(i, "x") for i in range(40)], "k long, tag string"
        ).repartition(2)
        assert load_batch_exactly_once(
            batch, schema, target, 100, num_partitions=2
        ) == 40
        assert self._q(schema, f"SELECT count(*) FROM {name}") == [("40",)]
        assert self._stages_left(schema, name) == "0"

    def test_concurrent_staged_refreshes_publish_one(self, spark, schema):
        """Two staged refreshes of one table from two threads: no error,
        exactly one refresh's rows, no stage left."""
        import threading

        name = "conc_refresh"
        self._table(schema, name)
        target = reflect_target_table(schema, "public", name)
        frames = {
            tag: spark.createDataFrame(
                [(i, tag) for i in range(200)], "k long, tag string"
            ).repartition(4)
            for tag in ("a", "b")
        }
        for _ in range(3):
            errors = []

            def refresh(tag):
                try:
                    copy_to_postgres(
                        frames[tag], schema, target, num_partitions=4, staged=True
                    )
                except Exception as e:  # noqa: BLE001 - asserted below
                    errors.append(e)

            threads = [threading.Thread(target=refresh, args=(t,)) for t in frames]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert errors == []
            got = self._q(schema, f"SELECT tag, count(*) FROM {name} GROUP BY tag")
            assert got in ([("a", "200")], [("b", "200")])
            assert self._stages_left(schema, name) == "0"


class TestDeferredStageDrop:
    """A publish commits without dropping its stages; the drop follows on
    a helper thread, and the next publish joins it."""

    _table = TestStagedCore._table
    _q = TestStagedCore._q

    def _setup(self, pg, name):
        self._table(pg, name)
        return TargetTable("public", name, ["k", "tag"])

    def _stages(self, pg, name):
        return self._q(
            pg,
            "SELECT tablename FROM pg_tables WHERE tablename LIKE %s"
            " ORDER BY tablename",
            (name.replace("_", "\\_") + "\\_\\_stg\\_%",),
        )

    def _blocked_drop(self, pg, name):
        """The sessions of deferred stage drops of ``name`` waiting on a
        lock, polled for up to 60 s."""
        import time

        blocked, deadline = [], time.time() + 60
        while not blocked and time.time() < deadline:
            blocked = self._q(
                pg,
                "SELECT pid FROM pg_stat_activity WHERE wait_event_type"
                f" = 'Lock' AND query LIKE 'DROP TABLE IF EXISTS%{name}%'",
            )
            time.sleep(0.05)
        return blocked

    def _batch(self, spark, tag, n=20):
        return spark.createDataFrame(
            [(i, tag) for i in range(n)], "k long, tag string"
        )

    def test_publish_raises_when_a_stage_lost_rows(self, spark, schema):
        """A stage emptied between staging and publish: the publish raises,
        and the target and the ledger are unchanged."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            _run_copy_tasks,
            _stage_plan,
            abort_stages,
            publish_stages,
        )

        target = self._setup(schema, "guard_tgt")
        messages = _run_copy_tasks(
            self._batch(spark, "x").repartition(2), schema,
            _stage_plan(target, "guard"),
        )
        emptied = next(m.stage for m in messages if m.n_rows)
        self._q(schema, f'DELETE FROM "{emptied}" RETURNING 1')
        with pytest.raises(RuntimeError, match="held .* rows"):
            publish_stages(
                schema, target, messages, "guard",
                ledger=("guard_epochs", "run", 1),
            )
        assert self._q(schema, "SELECT count(*) FROM guard_tgt") == [("0",)]
        assert self._q(schema, "SELECT count(*) FROM guard_epochs") == [("0",)]
        abort_stages(schema, target, messages, "guard")
        assert self._stages(schema, "guard_tgt") == []

    def test_blocked_drop_is_off_the_batch_and_rerun_after_a_kill(
        self, spark, schema
    ):
        """The deferred DROP blocks on a lock a reader holds: the batch
        still returns, published. Its session is then killed, so the drop
        is lost; the next batch's publish re-runs it."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            _batch_scope,
            load_batch_exactly_once,
            stage_name,
        )

        target = self._setup(schema, "dd_tgt")
        # a crashed attempt's stage in batch 1's scope, which the deferred
        # scope sweep drops; a reader holds ACCESS SHARE on it
        held = stage_name("dd_tgt", _batch_scope("", 1), 99)
        reader = pgwire.connect(**schema)
        with reader.cursor() as cur:
            cur.execute(f'CREATE TABLE "{held}" (LIKE dd_tgt)')
            reader.commit()
            cur.execute(f'LOCK TABLE "{held}" IN ACCESS SHARE MODE')
        try:
            assert load_batch_exactly_once(
                self._batch(spark, "b1"), schema, target, 1, num_partitions=2
            ) == 20
            assert self._q(schema, "SELECT count(*) FROM dd_tgt") == [("20",)]
            assert self._q(
                schema,
                "SELECT n_rows FROM stream_epochs"
                " WHERE table_name = 'dd_tgt' AND batch_id = 1",
            ) == [("20",)]
            blocked = self._blocked_drop(schema, "dd_tgt")
            assert len(blocked) == 1
            self._q(schema, "SELECT pg_terminate_backend(%s)", (int(blocked[0][0]),))
        finally:
            reader.rollback()
            reader.close()
        assert held in [r[0] for r in self._stages(schema, "dd_tgt")]

        assert load_batch_exactly_once(
            self._batch(spark, "b2"), schema, target, 2, num_partitions=2
        ) == 20
        join_stage_drops()
        assert self._stages(schema, "dd_tgt") == []
        assert self._q(schema, "SELECT count(*) FROM dd_tgt") == [("40",)]

    def test_failed_rerun_raises_naming_the_stages(self, spark, schema):
        """A drop that fails again when re-run makes the next publish
        raise, naming the stages left."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            _batch_scope,
            abort_stages,
            load_batch_exactly_once,
        )

        target = self._setup(schema, "ddf_tgt")
        self._q(
            schema,
            """CREATE OR REPLACE FUNCTION ddf_block() RETURNS event_trigger
               LANGUAGE plpgsql AS $$ BEGIN
                 IF EXISTS (SELECT 1 FROM pg_event_trigger_dropped_objects()
                            WHERE object_name LIKE 'ddf\\_tgt\\_\\_stg\\_%')
                 THEN RAISE EXCEPTION 'stage drops are blocked'; END IF;
               END $$""",
        )
        self._q(
            schema,
            "CREATE EVENT TRIGGER ddf_block ON sql_drop"
            " EXECUTE FUNCTION ddf_block()",
        )
        try:
            assert load_batch_exactly_once(
                self._batch(spark, "b1"), schema, target, 1, num_partitions=2
            ) == 20
            left = [r[0] for r in self._stages(schema, "ddf_tgt")]
            assert left
            with pytest.raises(RuntimeError, match="could not drop") as err:
                load_batch_exactly_once(
                    self._batch(spark, "b2"), schema, target, 2,
                    num_partitions=2,
                )
            assert all(st in str(err.value) for st in left)
            # the raising publish published nothing
            assert self._q(schema, "SELECT count(*) FROM ddf_tgt") == [("20",)]
        finally:
            self._q(schema, "DROP EVENT TRIGGER ddf_block")
        for batch_id in (1, 2):
            abort_stages(schema, target, (), _batch_scope("", batch_id))
        assert self._stages(schema, "ddf_tgt") == []

    def test_a_gone_server_holds_up_no_other_server(self, spark, schema):
        """Server A's deferred drop blocks on a reader's lock, then A stops:
        a publish to another server still succeeds, and joining every
        server's drop raises, naming A's stages."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            _batch_scope,
            load_batch_exactly_once,
            stage_name,
        )

        a = pglocal.start(port=54339)
        reader = pgwire.connect(**a.conn_params)
        try:
            target = self._setup(a.conn_params, "gone_tgt")
            held = stage_name("gone_tgt", _batch_scope("", 1), 99)
            with reader.cursor() as cur:
                cur.execute(f'CREATE TABLE "{held}" (LIKE gone_tgt)')
                reader.commit()
                cur.execute(f'LOCK TABLE "{held}" IN ACCESS SHARE MODE')
            batch = self._batch(spark, "a").coalesce(1)
            assert load_batch_exactly_once(batch, a.conn_params, target, 1) == 20
            assert len(self._blocked_drop(a.conn_params, "gone_tgt")) == 1
        finally:
            pglocal.stop(a)
            reader.close()

        other = self._setup(schema, "gone_other")
        assert load_batch_exactly_once(
            self._batch(spark, "b"), schema, other, 1
        ) == 20
        with pytest.raises(RuntimeError, match="could not drop") as err:
            join_stage_drops()
        assert stage_name("gone_tgt", _batch_scope("", 1), 0) in str(err.value)
        assert self._stages(schema, "gone_other") == []

    def test_an_open_ledger_reader_does_not_stall_a_publish(self, spark, schema):
        """A session reading the ledger in an open transaction holds
        ACCESS SHARE on it: the next exactly-once batch still publishes."""
        import threading

        from pandas_to_postgres_spark.sinks.postgres_copy import (
            load_batch_exactly_once,
        )

        target = self._setup(schema, "lr_tgt")
        assert load_batch_exactly_once(
            self._batch(spark, "b1"), schema, target, 1
        ) == 20
        batch, published = self._batch(spark, "b2"), []
        t = threading.Thread(
            target=lambda: published.append(
                load_batch_exactly_once(batch, schema, target, 2)
            )
        )
        reader = pgwire.connect(**schema)
        try:
            with reader.cursor() as cur:
                cur.execute("SELECT count(*) FROM stream_epochs")
            t.start()
            t.join(60)
            assert published == [20]
        finally:
            reader.rollback()
            reader.close()
            t.join()
        assert self._q(schema, "SELECT count(*) FROM lr_tgt") == [("40",)]


class TestWriterRule:
    """One rule sets the writer count of every Postgres write: one COPY
    task per input partition, at most ``num_partitions``, and no shuffle."""

    _table = TestStagedCore._table

    def _runs(self, monkeypatch):
        """Record the plan of every frame handed to ``_run_copy_tasks``,
        with the messages its tasks returned."""
        from pandas_to_postgres_spark.sinks import postgres_copy

        runs, run = [], postgres_copy._run_copy_tasks

        def record(df, conn_params, plan):
            shape = df._jdf.queryExecution().executedPlan().toString()
            runs.append((shape, run(df, conn_params, plan)))
            return runs[-1][1]

        monkeypatch.setattr(postgres_copy, "_run_copy_tasks", record)
        return runs

    def test_one_file_parquet_is_one_writer_and_no_exchange(
        self, spark, schema, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "one_file.parquet")
        spark.range(300).selectExpr("id AS k", "'x' AS tag").coalesce(1).write.parquet(
            path
        )
        self._table(schema, "wr_parquet")
        target = reflect_target_table(schema, "public", "wr_parquet")
        runs = self._runs(monkeypatch)
        assert copy_to_postgres(
            spark.read.parquet(path), schema, target, num_partitions=4
        ) == 300
        ((shape, messages),) = runs
        assert "Exchange" not in shape
        assert [m.n_rows for m in messages] == [300]

    def test_writers_are_input_partitions_capped(
        self, spark, schema, tmp_path, monkeypatch
    ):
        import numpy as np
        import pandas as pd

        from pandas_to_postgres_spark.sinks.postgres_copy import append_to_postgres
        from pandas_to_postgres_spark.sources.hdf import scan_hdf
        from pandas_to_postgres_spark.sources.hdf5_writer import write_frame_table

        h5 = str(tmp_path / "six.h5")
        write_frame_table(
            h5, {"wr": pd.DataFrame({"k": np.arange(60, dtype=np.int64)})},
            chunk_rows=10,
        )
        self._table(schema, "wr_cap")
        target = TargetTable("public", "wr_cap", ["k", "tag"])
        six = scan_hdf(spark, [h5], "wr", chunk_rows=10)
        two = spark.range(0, 60, 1, numPartitions=2).withColumnRenamed("id", "k")
        assert six.rdd.getNumPartitions() == 6
        runs = self._runs(monkeypatch)
        assert append_to_postgres(six, schema, target, num_partitions=4) == 60
        assert append_to_postgres(two, schema, target, num_partitions=4) == 60
        assert [len(messages) for _, messages in runs] == [4, 2]
        assert not any("Exchange" in shape for shape, _ in runs)

    def test_freeze_is_one_task(self, spark, schema, monkeypatch):
        self._table(schema, "wr_freeze")
        target = TargetTable("public", "wr_freeze", ["k", "tag"])
        df = spark.range(0, 80, 1, numPartitions=4).selectExpr("id AS k", "'f' AS tag")
        runs = self._runs(monkeypatch)
        assert copy_to_postgres(df, schema, target, num_partitions=4, freeze=True) == 80
        ((_, messages),) = runs
        assert [m.n_rows for m in messages] == [80]


class TestDirectRefresh:
    """The default (direct) full refresh: its pre-load transaction commits
    beside the COPY job, and every task checks it landed in the storage
    that transaction's TRUNCATE created."""

    _q = TestStagedCore._q

    def _table(self, pg, name, rows=()):
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute(f"DROP TABLE IF EXISTS {name}")
            cur.execute(f"CREATE TABLE {name} (k BIGINT PRIMARY KEY, tag TEXT)")
            for r in rows:
                cur.execute(f"INSERT INTO {name} VALUES (%s, %s)", r)
        conn.close()
        return reflect_target_table(pg, "public", name)

    def _has_pk(self, pg, name):
        return self._q(
            pg, "SELECT count(*) FROM pg_constraint WHERE conname = %s",
            (f"{name}_pkey",),
        ) == [("1",)]

    def _frame(self, spark, tag, keys=range(200)):
        return spark.createDataFrame([(k, tag) for k in keys], "k long, tag string")

    def test_returns_rows_on_every_path(self, spark, schema):
        target = self._table(schema, "direct_rows")
        df = self._frame(spark, "a", range(50))
        assert copy_to_postgres(df, schema, target, num_partitions=3) == 50
        assert copy_to_postgres(df, schema, target, staged=True) == 50
        assert copy_to_postgres(df, schema, target, freeze=True) == 50
        assert copy_to_postgres(df.limit(0), schema, target) == 0
        assert self._q(schema, "SELECT count(*) FROM direct_rows") == [("0",)]
        assert self._has_pk(schema, "direct_rows")

    def test_failed_copy_leaves_no_session(self, spark, schema):
        """A job that fails mid-COPY still closes the DDL connection, even
        while the caller holds the traceback (and so the call's frame)."""
        import time

        target = self._table(schema, "direct_fail")
        bad = spark.createDataFrame(
            [("x" if k == 7 else str(k), "t") for k in range(20)],
            "k string, tag string",
        )
        with pytest.raises(Exception, match="invalid input syntax") as err:
            copy_to_postgres(bad, schema, target, num_partitions=2)
        others = (
            "SELECT count(*) FROM pg_stat_activity"
            " WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()"
        )
        deadline = time.monotonic() + 10
        while self._q(schema, others) != [("0",)] and time.monotonic() < deadline:
            time.sleep(0.1)
        assert err.tb is not None
        assert self._q(schema, others) == [("0",)]

    def test_rolled_back_bracket_copies_nothing(self, spark, schema, monkeypatch):
        """The pre-load transaction rolls back instead of committing: every
        task's storage check fails, so no row lands in the old storage, and
        the constraint drop rolled back with the TRUNCATE."""
        from pandas_to_postgres_spark.sinks import postgres_copy

        target = self._table(schema, "direct_rollback", [(k, "old") for k in range(10)])
        monkeypatch.setattr(postgres_copy, "_commit_bracket", lambda c: c.rollback())
        new = self._frame(spark, "new", range(100, 130))
        with pytest.raises(Exception, match="did not commit"):
            copy_to_postgres(new, schema, target, num_partitions=2)
        assert self._q(
            schema, "SELECT tag, count(*) FROM direct_rollback GROUP BY tag"
        ) == [("old", "10")]
        assert self._has_pk(schema, "direct_rollback")

    def test_concurrent_direct_refreshes_keep_one(self, spark, schema):
        """Two direct refreshes of one table from two threads: no error, no
        deadlock, exactly one refresh's rows and the PK."""
        import threading

        target = self._table(schema, "direct_conc")
        frames = {tag: self._frame(spark, tag) for tag in ("a", "b")}
        for _ in range(3):
            errors = []

            def refresh(tag):
                try:
                    copy_to_postgres(frames[tag], schema, target, num_partitions=4)
                except Exception as e:  # noqa: BLE001 - asserted below
                    errors.append(e)

            threads = [threading.Thread(target=refresh, args=(t,)) for t in frames]
            for t in threads:
                t.start()
            for t in threads:
                t.join(120)
            assert not any(t.is_alive() for t in threads)
            assert errors == []
            got = self._q(schema, "SELECT tag, count(*) FROM direct_conc GROUP BY tag")
            assert got in ([("a", "200")], [("b", "200")])
            assert self._has_pk(schema, "direct_conc")


class TestReferenceApiToPostgres:
    """The reference's flagship verb driven end-to-end: a user of
    cid-harvard/pandas-to-postgres switches `ParquetCopy` to this engine
    and lands rows in a real Postgres table, formatter hook included
    (`copy_parquet.py:14-126`, `_base_copy.py:146-167`)."""

    def test_parquet_copy_to_real_postgres(self, spark, schema):
        from pyspark.sql import functions as F

        from pandas_to_postgres_spark.compat import ParquetCopy

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute(
                """CREATE TABLE IF NOT EXISTS nation_copy (
                       n_nationkey BIGINT, n_name TEXT, n_regionkey BIGINT)"""
            )
        conn.close()

        target = reflect_target_table(schema, "public", "nation_copy")

        def pg_sink(table_name, df):
            copy_to_postgres(df, schema, target)

        def upper_name(df):
            # a user formatter hook: df -> df, chained pre-sink
            return df.withColumn("n_name", F.upper("n_name"))

        c = ParquetCopy(
            "/root/testdata/sf0.001/nation.parquet",
            spark=spark,
            sink=pg_sink,
            table_name="nation_copy",
            formatters=[upper_name],
        )
        c.copy()
        assert c.rows == 25
        conn = pgwire.connect(**schema)
        with conn, conn.cursor() as cur:
            cur.execute(
                "SELECT count(*), min(n_name), max(n_nationkey) FROM nation_copy"
            )
            n, first, maxkey = cur.fetchall()[0]
        conn.close()
        assert n == "25" and first == first.upper() and maxkey == "24"


class TestExactlyOnceStreaming:
    def test_stream_publishes_once_and_replays_are_noops(self, spark, schema, tmp_path):
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            load_batch_exactly_once,
        )
        from pandas_to_postgres_spark.sources.parquet import normalize_event_ts
        from pandas_to_postgres_spark.streaming.sink import (
            stream_to_postgres_exactly_once,
        )

        conn_params = schema
        with pgwire.connect(**conn_params) as conn, conn.cursor() as cur:
            cur.execute(
                """CREATE TABLE ev_sink (
                       event_id BIGINT, user_id BIGINT, event_type TEXT,
                       value DOUBLE PRECISION)"""
            )
        target = TargetTable(
            schema="public",
            name="ev_sink",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        sf = "/root/testdata/sf0.001"
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        static = spark.read.parquet(f"{sf}/events.parquet")
        stream = (
            spark.readStream.schema(static.schema)
            .format("parquet")
            .load(f"{sf}/events.parque[t]")
        )
        q = stream_to_postgres_exactly_once(
            stream.select("event_id", "user_id", "event_type", "value"),
            conn_params,
            target,
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_partitions=4,
        )
        q.awaitTermination(120)
        expected = static.count()
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink")
            assert int(cur.fetchall()[0][0]) == expected
            cur.execute("SELECT count(*) FROM stream_epochs WHERE table_name = 'ev_sink'")
            n_epochs = int(cur.fetchall()[0][0])
            assert n_epochs >= 1
        conn.close()

        # replay every published epoch by hand (same run_id, as a
        # restarted query would): all must be no-ops
        batch = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id", "user_id", "event_type", "value"
        )
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute(
                "SELECT run_id, batch_id FROM stream_epochs"
                " WHERE table_name = 'ev_sink'"
            )
            ledger = [(r[0], int(r[1])) for r in cur.fetchall()]
        conn.close()
        epochs = [bid for _, bid in ledger]
        assert all(rid for rid, _ in ledger)  # checkpoint-derived run id
        for rid, bid in ledger:
            assert (
                load_batch_exactly_once(
                    batch, conn_params, target, bid, run_id=rid
                )
                == 0
            )
        join_stage_drops()
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink")
            assert int(cur.fetchall()[0][0]) == expected  # unchanged
            cur.execute(
                "SELECT count(*) FROM pg_tables"
                " WHERE tablename LIKE 'ev\\_sink\\_\\_stg\\_%'"
            )
            assert int(cur.fetchall()[0][0]) == 0  # no stage leftovers
        conn.close()

        # a genuinely new epoch appends exactly once
        n = load_batch_exactly_once(batch.limit(10), conn_params, target, max(epochs) + 1000)
        assert n == 10
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink")
            assert int(cur.fetchall()[0][0]) == expected + 10
        conn.close()

    def test_orphan_stage_from_crashed_batch_is_recovered(self, spark, schema):
        """A crash AFTER staging but BEFORE publish leaves orphan stage
        tables and no ledger row; the replayed batch must rebuild its
        stage, publish exactly once, and sweep the crashed attempt's
        higher-numbered partition it no longer has."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            _batch_scope,
            load_batch_exactly_once,
            stage_name,
        )

        stale = [stage_name("ev_sink2", _batch_scope("", 7), p) for p in (0, 5)]

        conn_params = schema
        with pgwire.connect(**conn_params) as conn, conn.cursor() as cur:
            cur.execute(
                """CREATE TABLE IF NOT EXISTS ev_sink2 (
                       event_id BIGINT, user_id BIGINT, event_type TEXT,
                       value DOUBLE PRECISION)"""
            )
            # simulate the crash artifact: stale per-partition stages with
            # garbage rows (partitions 0 and 5 of a died batch-7 attempt)
            for st in stale:
                cur.execute(f"DROP TABLE IF EXISTS {st}")
                cur.execute(f"CREATE TABLE {st} (LIKE ev_sink2)")
                cur.execute(
                    f"INSERT INTO {st} VALUES (999, 999, 'stale', 0.0)"
                )
        target = TargetTable(
            schema="public",
            name="ev_sink2",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        batch = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select("event_id", "user_id", "event_type", "value")
            .limit(20)
        )
        assert load_batch_exactly_once(batch, conn_params, target, 7) == 20
        join_stage_drops()
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink2")
            assert int(cur.fetchall()[0][0]) == 20  # stale rows never published
            cur.execute(
                "SELECT count(*) FROM ev_sink2 WHERE event_type = 'stale'"
            )
            assert int(cur.fetchall()[0][0]) == 0
            cur.execute(
                "SELECT count(*) FROM pg_tables"
                " WHERE tablename LIKE 'ev\\_sink2\\_\\_stg\\_%'"
            )
            assert int(cur.fetchall()[0][0]) == 0  # both stale stages swept
        conn.close()

    def test_legacy_ledger_without_run_id_is_migrated(self, spark, schema):
        """ADVICE r5: a stream_epochs table created BEFORE the run_id
        column existed (old PK (table_name, batch_id)) must be migrated
        in place on the first post-upgrade publish — not break it with
        UndefinedColumn — and its old rows must keep their replay
        protection under the '' run_id the legacy path used."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            load_batch_exactly_once,
        )

        conn_params = schema
        ledger = "legacy_epochs"
        with pgwire.connect(**conn_params) as conn, conn.cursor() as cur:
            cur.execute(
                """CREATE TABLE IF NOT EXISTS ev_sink_lgc (
                       event_id BIGINT, user_id BIGINT, event_type TEXT,
                       value DOUBLE PRECISION)"""
            )
            cur.execute(f"DROP TABLE IF EXISTS {ledger}")
            # the pre-run_id ledger shape, with batch 3 already published
            cur.execute(
                f"""CREATE TABLE {ledger} (
                        table_name TEXT NOT NULL,
                        batch_id BIGINT NOT NULL,
                        n_rows BIGINT NOT NULL,
                        PRIMARY KEY (table_name, batch_id))"""
            )
            cur.execute(
                f"INSERT INTO {ledger} VALUES ('ev_sink_lgc', 3, 20)"
            )
        target = TargetTable(
            schema="public",
            name="ev_sink_lgc",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        batch = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select("event_id", "user_id", "event_type", "value")
            .limit(20)
        )
        # replay of the legacy-published batch 3 (legacy callers pass no
        # run_id → ''): recognized through the migrated column's default
        assert (
            load_batch_exactly_once(
                batch, conn_params, target, 3, epoch_table=ledger
            )
            == 0
        )
        # a NEW batch publishes through the migrated ledger
        assert (
            load_batch_exactly_once(
                batch, conn_params, target, 4, epoch_table=ledger, run_id="q1"
            )
            == 20
        )
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink_lgc")
            assert int(cur.fetchall()[0][0]) == 20  # batch 3 NOT re-published
            cur.execute(
                f"SELECT run_id, batch_id FROM {ledger}"
                " WHERE table_name = 'ev_sink_lgc' ORDER BY batch_id"
            )
            assert [(r[0], int(r[1])) for r in cur.fetchall()] == [
                ("", 3),
                ("q1", 4),
            ]
        conn.close()

    def test_new_run_reusing_legacy_batch_id_publishes(self, spark, schema):
        """ADVICE r6: migrating only the COLUMN left the legacy 2-column
        PK (table_name, batch_id) in place, so a NEW run — fresh
        checkpoint ⇒ new run_id, batch_ids restarting where the legacy
        run already published — passed the 3-column replay SELECT and
        then crash-looped on the PK at its ledger INSERT. The PK must
        migrate to (table_name, run_id, batch_id)."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            load_batch_exactly_once,
        )

        conn_params = schema
        ledger = "legacy_epochs2"
        with pgwire.connect(**conn_params) as conn, conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS ev_sink_lgc2")
            cur.execute(
                """CREATE TABLE ev_sink_lgc2 (
                       event_id BIGINT, user_id BIGINT, event_type TEXT,
                       value DOUBLE PRECISION)"""
            )
            cur.execute(f"DROP TABLE IF EXISTS {ledger}")
            cur.execute(
                f"""CREATE TABLE {ledger} (
                        table_name TEXT NOT NULL,
                        batch_id BIGINT NOT NULL,
                        n_rows BIGINT NOT NULL,
                        PRIMARY KEY (table_name, batch_id))"""
            )
            # the legacy run already published batch 0
            cur.execute(
                f"INSERT INTO {ledger} VALUES ('ev_sink_lgc2', 0, 5)"
            )
        target = TargetTable(
            schema="public",
            name="ev_sink_lgc2",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        batch = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select("event_id", "user_id", "event_type", "value")
            .limit(15)
        )
        # new run, batch_id 0 — collided with the legacy PK before the fix
        assert (
            load_batch_exactly_once(
                batch, conn_params, target, 0, epoch_table=ledger,
                run_id="fresh_run",
            )
            == 15
        )
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink_lgc2")
            assert int(cur.fetchall()[0][0]) == 15
            # the PK is now the 3-column identity
            cur.execute(
                "SELECT a.attname FROM pg_constraint c"
                " JOIN LATERAL unnest(c.conkey) AS k(attnum) ON TRUE"
                " JOIN pg_attribute a"
                "   ON a.attrelid = c.conrelid AND a.attnum = k.attnum"
                f" WHERE c.conrelid = '{ledger}'::regclass"
                "   AND c.contype = 'p'"
            )
            assert {r[0] for r in cur.fetchall()} == {
                "table_name", "run_id", "batch_id"
            }
            # and its replay protection works: same (run, batch) again
        conn.close()
        assert (
            load_batch_exactly_once(
                batch, conn_params, target, 0, epoch_table=ledger,
                run_id="fresh_run",
            )
            == 0
        )


class TestPostgresDataSource:
    """spark.read.format("pgwire"): the Spark 4 Python DataSource reading
    back from a REAL server — schema inference, typed conversion,
    modulo-partitioned parallel reads, and WHERE-clause filter pushdown."""

    def _seed(self, conn_params):
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS ds_src")
            cur.execute(
                """CREATE TABLE ds_src (
                       id BIGINT, name TEXT, val DOUBLE PRECISION,
                       flag BOOLEAN, d DATE, ts TIMESTAMP)"""
            )
            for i in range(50):
                cur.execute(
                    "INSERT INTO ds_src VALUES (%s, %s, %s, %s, %s, %s)",
                    (
                        i,
                        f"row'{i}",
                        i * 1.5,
                        i % 2 == 0,
                        f"2024-01-{1 + i % 28:02d}",
                        f"2024-01-01 10:00:{i % 60:02d}.25",
                    ),
                )
            # NULLs everywhere incl. the partition key
            cur.execute(
                "INSERT INTO ds_src VALUES (NULL, NULL, NULL, NULL, NULL, NULL)"
            )
        conn.close()

    def _reader(self, spark, conn_params, **opts):
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        spark.dataSource.register(PostgresDataSource)
        r = (
            spark.read.format("pgwire")
            .option("host", conn_params["host"])
            .option("port", str(conn_params["port"]))
            .option("user", conn_params["user"])
            .option("dbname", conn_params["dbname"])
            .option("table", "ds_src")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def test_schema_types_and_roundtrip(self, spark, schema):
        import datetime

        self._seed(schema)
        df = self._reader(spark, schema)
        assert dict(df.dtypes) == {
            "id": "bigint", "name": "string", "val": "double",
            "flag": "boolean", "d": "date", "ts": "timestamp_ntz",
        }
        rows = {r["id"]: r for r in df.collect()}
        assert len(rows) == 51 and None in rows
        assert rows[3]["name"] == "row'3" and rows[3]["val"] == 4.5
        assert rows[4]["flag"] is True and rows[5]["flag"] is False
        assert rows[7]["d"] == datetime.date(2024, 1, 8)
        assert rows[9]["ts"] == datetime.datetime(2024, 1, 1, 10, 0, 9, 250000)

    def test_partitioned_read_equals_single_and_covers_nulls(self, spark, schema):
        self._seed(schema)
        single = sorted(map(str, self._reader(spark, schema).collect()))
        parted = self._reader(
            spark, schema, partitionColumn="id", numPartitions="4"
        )
        assert parted.rdd.getNumPartitions() == 4
        assert sorted(map(str, parted.collect())) == single

    def test_filter_pushdown_prunes_on_server(self, spark, schema):
        self._seed(schema)
        df = self._reader(
            spark, schema, partitionColumn="id", numPartitions="3",
            pushdown="true",
        ).filter("val > 30.0 AND flag = true")
        got = sorted(r["id"] for r in df.collect())
        assert got == [i for i in range(50) if i * 1.5 > 30.0 and i % 2 == 0]
        # pushdown ENGAGED: both predicates were accepted by pushFilters,
        # so the optimized plan carries no Spark-side Filter at all —
        # without the option (or with a string inequality) it would
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Filter" not in optimized

    def test_string_inequality_stays_spark_side(self, spark, schema):
        self._seed(schema)
        df = self._reader(spark, schema, pushdown="true").filter("name > 'row'")
        # collation-unsafe pushdown refused -> Spark evaluates it
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Filter" in optimized
        assert df.count() == 50  # every non-null name starts with 'row'

    def test_user_supplied_schema_projects_columns(self, spark, schema):
        self._seed(schema)
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        spark.dataSource.register(PostgresDataSource)
        conn_params = schema
        df = (
            spark.read.format("pgwire")
            .schema("val double, id bigint")  # subset, reordered
            .option("host", conn_params["host"])
            .option("port", str(conn_params["port"]))
            .option("user", conn_params["user"])
            .option("dbname", conn_params["dbname"])
            .option("table", "ds_src")
            .load()
        )
        assert df.columns == ["val", "id"]
        rows = {r["id"]: r["val"] for r in df.collect()}
        assert rows[4] == 6.0 and rows[None] is None


class TestExactlyOnceIsolation:
    def test_other_batches_and_lookalike_tables_survive(self, spark, schema):
        """Batch-scoped cleanup: another batch's in-flight stage and a user
        table that merely shares the stage naming shape must be neither
        dropped nor published."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            _batch_scope,
            load_batch_exactly_once,
            stage_name,
        )

        inflight = stage_name("ev_sink3", _batch_scope("", 9), 0)
        lookalike = stage_name("ev_sink3", _batch_scope("", 8), 0) + "_preview"
        conn_params = schema
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute(
                """CREATE TABLE IF NOT EXISTS ev_sink3 (
                       event_id BIGINT, user_id BIGINT, event_type TEXT,
                       value DOUBLE PRECISION)"""
            )
            for tbl in (inflight, lookalike):
                cur.execute(f"DROP TABLE IF EXISTS {tbl}")
            # batch 9's in-flight stage (a CONCURRENT loader's work)
            cur.execute(f"CREATE TABLE {inflight} (LIKE ev_sink3)")
            cur.execute(
                f"INSERT INTO {inflight} VALUES (111, 1, 'inflight', 1.0)"
            )
            # user table that merely shares batch 8's stage prefix
            cur.execute(f"CREATE TABLE {lookalike} (x INT)")
        conn.close()

        target = TargetTable(
            schema="public",
            name="ev_sink3",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        batch = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select("event_id", "user_id", "event_type", "value")
            .limit(8)
        )
        assert load_batch_exactly_once(batch, conn_params, target, 8) == 8

        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ev_sink3")
            assert int(cur.fetchall()[0][0]) == 8  # only batch 8's rows
            cur.execute(
                "SELECT count(*) FROM ev_sink3 WHERE event_type = 'inflight'"
            )
            assert int(cur.fetchall()[0][0]) == 0  # batch 9 not published
            cur.execute(f"SELECT count(*) FROM {inflight}")
            assert int(cur.fetchall()[0][0]) == 1  # batch 9 stage intact
            cur.execute(
                "SELECT count(*) FROM pg_tables WHERE tablename = %s",
                (lookalike,),
            )
            assert int(cur.fetchall()[0][0]) == 1  # lookalike untouched
        conn.close()


class TestRoundTrip:
    def test_copy_out_then_datasource_read_back_is_identity(self, spark, schema):
        """The full loop the engine now closes: Spark frame → parallel COPY
        into Postgres → read back via the pgwire DataSource (partitioned)
        → identical multiset, typed."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            append_to_postgres,
        )
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )
        from pandas_to_postgres_spark.sources.parquet import load_table

        conn_params = schema
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS li_rt")
            cur.execute(
                """CREATE TABLE li_rt (
                       l_orderkey BIGINT, l_linenumber INT,
                       l_quantity DOUBLE PRECISION, l_returnflag TEXT)"""
            )
        conn.close()
        src = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        )
        target = TargetTable(
            schema="public",
            name="li_rt",
            columns=["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
        )
        n = append_to_postgres(src, conn_params, target, num_partitions=4)
        assert n == src.count()

        spark.dataSource.register(PostgresDataSource)
        back = (
            spark.read.format("pgwire")
            .option("host", conn_params["host"])
            .option("port", str(conn_params["port"]))
            .option("user", conn_params["user"])
            .option("dbname", conn_params["dbname"])
            .option("table", "li_rt")
            .option("partitionColumn", "l_orderkey")
            .option("numPartitions", "4")
            .load()
        )
        assert dict(back.dtypes) == dict(src.dtypes)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, src.collect())
        )


class TestStreamCheckpointResume:
    def test_restarted_drain_publishes_nothing_new(self, spark, schema, tmp_path):
        """AvailableNow drain, then a SECOND start on the SAME checkpoint:
        the source offsets say everything was processed, so no batch runs
        and the sink is byte-identical — restart semantics end-to-end."""
        from pandas_to_postgres_spark.sinks.postgres_copy import TargetTable
        from pandas_to_postgres_spark.streaming.sink import (
            stream_to_postgres_exactly_once,
        )

        conn_params = schema
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS ev_resume")
            cur.execute(
                """CREATE TABLE ev_resume (
                       event_id BIGINT, user_id BIGINT,
                       event_type TEXT, value DOUBLE PRECISION)"""
            )
        conn.close()
        target = TargetTable(
            schema="public",
            name="ev_resume",
            columns=["event_id", "user_id", "event_type", "value"],
        )
        sf = "/root/testdata/sf0.001"
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        static = spark.read.parquet(f"{sf}/events.parquet")
        ckpt = str(tmp_path / "ckpt")

        def drain():
            stream = (
                spark.readStream.schema(static.schema)
                .format("parquet")
                .load(f"{sf}/events.parque[t]")
            )
            q = stream_to_postgres_exactly_once(
                stream.select("event_id", "user_id", "event_type", "value"),
                conn_params,
                target,
                checkpoint_dir=ckpt,
                num_partitions=2,
            )
            q.awaitTermination(120)

        def counts():
            conn = pgwire.connect(**conn_params)
            with conn, conn.cursor() as cur:
                cur.execute("SELECT count(*) FROM ev_resume")
                n = int(cur.fetchall()[0][0])
                cur.execute(
                    "SELECT count(*) FROM stream_epochs "
                    "WHERE table_name = 'ev_resume'"
                )
                e = int(cur.fetchall()[0][0])
            conn.close()
            return n, e

        drain()
        n1, e1 = counts()
        assert n1 == static.count() and e1 >= 1
        drain()  # restart on the same checkpoint: a no-op
        assert counts() == (n1, e1)


class TestUpsertSink:
    def test_upsert_inserts_new_and_updates_existing(self, spark, schema):
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            append_to_postgres,
            upsert_to_postgres,
        )

        conn_params = schema
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS kv_up")
            cur.execute(
                """CREATE TABLE kv_up (
                       k BIGINT, v TEXT, score DOUBLE PRECISION,
                       CONSTRAINT kv_up_pk PRIMARY KEY (k))"""
            )
        conn.close()
        target = TargetTable(
            schema="public", name="kv_up", columns=["k", "v", "score"]
        )
        base = spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(100)],
            "k long, v string, score double",
        )
        assert append_to_postgres(base, conn_params, target, 4) == 100

        # batch: 50 updates (even keys), 20 inserts, plus an intra-batch
        # dup for k=0 where the LAST row must win
        batch = spark.createDataFrame(
            [(i, f"new{i}", -1.0) for i in range(0, 100, 2)]
            + [(i, f"v{i}", float(i)) for i in range(100, 120)]
            + [(0, "loser", 9.9), (0, "winner", -1.0)],
            "k long, v string, score double",
        ).coalesce(1)  # one partition → deterministic stage ctid order
        upsert_to_postgres(batch, conn_params, target, ["k"], num_partitions=None)

        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM kv_up")
            assert int(cur.fetchall()[0][0]) == 120
            cur.execute("SELECT v FROM kv_up WHERE k = 2")
            assert cur.fetchall() == [("new2",)]
            cur.execute("SELECT v FROM kv_up WHERE k = 1")
            assert cur.fetchall() == [("v1",)]  # odd keys untouched
            cur.execute("SELECT v FROM kv_up WHERE k = 0")
            assert cur.fetchall() == [("winner",)]
            cur.execute("SELECT v FROM kv_up WHERE k = 110")
            assert cur.fetchall() == [("v110",)]  # fresh insert
        conn.close()


class TestPostgresStreamSource:
    def test_incremental_stream_reads_with_checkpoint(self, spark, schema, tmp_path):
        """spark.readStream.format("pgwire"): incremental polling over a
        monotonic seq column. First AvailableNow drain pulls the whole
        feed (across 3 modulo-sliced partitions); new rows inserted
        after the drain arrive on the NEXT drain over the SAME
        checkpoint with no duplicates — Spark's offset log carries the
        high-water mark."""
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS feed_src")
            cur.execute(
                "CREATE TABLE feed_src (seq BIGINT, k BIGINT, v TEXT)"
            )
            for i in range(100):
                cur.execute(
                    "INSERT INTO feed_src VALUES (%s, %s, %s)",
                    (i, i % 10, f"v{i}"),
                )
        conn.close()

        spark.dataSource.register(PostgresDataSource)
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def drain():
            stream = (
                spark.readStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "feed_src")
                .option("seqColumn", "seq")
                .option("streamPartitions", "3")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        got = spark.read.parquet(out)
        assert got.count() == 100
        assert got.select("seq").distinct().count() == 100

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            for i in range(100, 150):
                cur.execute(
                    "INSERT INTO feed_src VALUES (%s, %s, %s)",
                    (i, i % 10, f"v{i}"),
                )
        conn.close()
        drain()
        got = spark.read.parquet(out)
        assert got.count() == 150  # only the delta arrived — no dupes
        assert got.agg({"seq": "max"}).collect()[0][0] == 149
        drain()  # third drain with nothing new: a no-op
        assert spark.read.parquet(out).count() == 150


class TestPostgresStreamSink:
    def test_stream_pg_to_pg_exactly_once(self, spark, schema, tmp_path):
        """The full streaming loop: pgwire STREAM source → pgwire STREAM
        sink. Each AvailableNow drain moves exactly the delta into the
        target through staged epochs recorded in the ledger; re-drains
        add nothing."""
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS loop_src")
            cur.execute("DROP TABLE IF EXISTS loop_tgt")
            cur.execute("CREATE TABLE loop_src (seq BIGINT, v TEXT)")
            cur.execute("CREATE TABLE loop_tgt (seq BIGINT, v TEXT)")
            for i in range(80):
                cur.execute(
                    "INSERT INTO loop_src VALUES (%s, %s)", (i, f"v{i}")
                )
        conn.close()

        spark.dataSource.register(PostgresDataSource)
        ckpt = str(tmp_path / "loop_ckpt")

        def drain():
            stream = (
                spark.readStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "loop_src")
                .option("seqColumn", "seq")
                .load()
            )
            q = (
                stream.writeStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "loop_tgt")
                .option("runId", "loop-run-1")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def q1(sql):
            conn = pgwire.connect(**schema)
            with conn, conn.cursor() as cur:
                cur.execute(sql)
                out = cur.fetchall()
            conn.close()
            return out

        drain()
        assert q1("SELECT count(*), count(DISTINCT seq) FROM loop_tgt") == [
            ("80", "80")
        ]
        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            for i in range(80, 120):
                cur.execute(
                    "INSERT INTO loop_src VALUES (%s, %s)", (i, f"v{i}")
                )
        conn.close()
        drain()
        assert q1("SELECT count(*), count(DISTINCT seq) FROM loop_tgt") == [
            ("120", "120")
        ]
        drain()  # idle drain: no-op
        assert q1("SELECT count(*) FROM loop_tgt") == [("120",)]
        # epochs recorded; no stage tables left behind
        assert int(
            q1(
                "SELECT count(*) FROM stream_epochs"
                " WHERE table_name = 'loop_tgt'"
            )[0][0]
        ) >= 1
        assert q1(
            "SELECT count(*) FROM pg_tables"
            " WHERE tablename LIKE 'loop\\_tgt\\_\\_stg\\_%'"
        ) == [("0",)]

    def test_sink_migrates_legacy_ledger(self, spark, schema, tmp_path):
        """ADVICE r5 (sink side): a pre-run_id stream_epochs table is
        ALTERed in place on the first commit instead of failing with
        UndefinedColumn."""
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS lgl_src")
            cur.execute("DROP TABLE IF EXISTS lgl_tgt")
            cur.execute("DROP TABLE IF EXISTS lgl_epochs")
            cur.execute("CREATE TABLE lgl_src (seq BIGINT, v TEXT)")
            cur.execute("CREATE TABLE lgl_tgt (seq BIGINT, v TEXT)")
            # legacy ledger shape: no run_id column
            cur.execute(
                """CREATE TABLE lgl_epochs (
                       table_name TEXT NOT NULL,
                       batch_id BIGINT NOT NULL,
                       n_rows BIGINT NOT NULL,
                       PRIMARY KEY (table_name, batch_id))"""
            )
            # the legacy run already published a batch 0: the new run's
            # batch 0 collides with the 2-column PK unless the migration
            # also moves the PK to (table_name, run_id, batch_id) —
            # ADVICE r6's crash-loop scenario
            cur.execute("INSERT INTO lgl_epochs VALUES ('lgl_tgt', 0, 99)")
            for i in range(30):
                cur.execute("INSERT INTO lgl_src VALUES (%s, %s)", (i, f"v{i}"))
        conn.close()

        spark.dataSource.register(PostgresDataSource)
        stream = (
            spark.readStream.format("pgwire")
            .option("host", schema["host"])
            .option("port", str(schema["port"]))
            .option("user", schema["user"])
            .option("dbname", schema["dbname"])
            .option("table", "lgl_src")
            .option("seqColumn", "seq")
            .load()
        )
        q = (
            stream.writeStream.format("pgwire")
            .option("host", schema["host"])
            .option("port", str(schema["port"]))
            .option("user", schema["user"])
            .option("dbname", schema["dbname"])
            .option("table", "lgl_tgt")
            .option("epochTable", "lgl_epochs")
            .option("runId", "lgl-run-1")
            .option("checkpointLocation", str(tmp_path / "lgl_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        conn = pgwire.connect(**schema)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM lgl_tgt")
            assert int(cur.fetchall()[0][0]) == 30
            cur.execute(
                "SELECT run_id FROM lgl_epochs WHERE table_name = 'lgl_tgt'"
            )
            # legacy row kept (under '' run_id) AND the new run published
            assert {r[0] for r in cur.fetchall()} == {"", "lgl-run-1"}
            cur.execute(
                "SELECT a.attname FROM pg_constraint c"
                " JOIN LATERAL unnest(c.conkey) AS k(attnum) ON TRUE"
                " JOIN pg_attribute a"
                "   ON a.attrelid = c.conrelid AND a.attnum = k.attnum"
                " WHERE c.conrelid = 'lgl_epochs'::regclass"
                "   AND c.contype = 'p'"
            )
            assert {r[0] for r in cur.fetchall()} == {
                "table_name", "run_id", "batch_id"
            }
        conn.close()


class TestCdcApplySink:
    def test_apply_changes_insert_update_delete_atomic(self, spark, schema):
        """CDC delete-apply: an I/U/D feed with a seq column applies
        atomically — deletes remove rows, upserts land, the LAST change
        per key (by seq, ctid tie-break) wins, and a key deleted then
        re-inserted at higher seq survives with the new values."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            append_to_postgres,
            apply_changes_to_postgres,
        )

        conn_params = schema
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS kv_cdc")
            cur.execute(
                """CREATE TABLE kv_cdc (
                       k BIGINT, v TEXT, score DOUBLE PRECISION,
                       CONSTRAINT kv_cdc_pk PRIMARY KEY (k))"""
            )
        conn.close()
        target = TargetTable(
            schema="public", name="kv_cdc", columns=["k", "v", "score"]
        )
        base = spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(50)],
            "k long, v string, score double",
        )
        assert append_to_postgres(base, conn_params, target, 4) == 50

        feed = spark.createDataFrame(
            # deletes: keys 0-9; update: k=10; insert: k=100;
            # churn on k=20: update seq 1, delete seq 2 -> gone;
            # churn on k=30: delete seq 1, re-insert seq 2 -> back new
            [(k, None, None, "D", 1) for k in range(10)]
            + [
                (10, "upd10", -1.0, "U", 1),
                (100, "new100", 100.0, "I", 1),
                (20, "upd20", -2.0, "U", 1),
                (20, None, None, "D", 2),
                (30, None, None, "D", 1),
                (30, "back30", 30.5, "I", 2),
            ],
            "k long, v string, score double, op string, seq long",
        )
        apply_changes_to_postgres(
            feed, conn_params, target, ["k"], op_col="op", seq_col="seq"
        )
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM kv_cdc")
            # 50 - 10 deletes - k20 + k100 insert (k30 deleted+reborn)
            assert int(cur.fetchall()[0][0]) == 50 - 10 - 1 + 1
            cur.execute("SELECT count(*) FROM kv_cdc WHERE k < 10")
            assert cur.fetchall() == [("0",)]
            cur.execute("SELECT v FROM kv_cdc WHERE k = 10")
            assert cur.fetchall() == [("upd10",)]
            cur.execute("SELECT v FROM kv_cdc WHERE k = 100")
            assert cur.fetchall() == [("new100",)]
            cur.execute("SELECT count(*) FROM kv_cdc WHERE k = 20")
            assert cur.fetchall() == [("0",)]
            cur.execute("SELECT v, score FROM kv_cdc WHERE k = 30")
            assert cur.fetchall() == [("back30", "30.5")]
            cur.execute("SELECT v FROM kv_cdc WHERE k = 25")
            assert cur.fetchall() == [("v25",)]  # untouched
            # no stage left behind once the deferred drop is joined
            join_stage_drops()
            cur.execute(
                "SELECT count(*) FROM pg_tables"
                " WHERE tablename LIKE 'kv\\_cdc\\_\\_stg\\_%'"
            )
            assert cur.fetchall() == [("0",)]
        conn.close()


class TestPostgresDataSourceWriter:
    """df.write.format("pgwire"): the WRITE half of the Python DataSource —
    staged per-task COPY + atomic commit against a REAL server."""

    def _writer(self, df, conn_params, table, mode):
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        df.sparkSession.dataSource.register(PostgresDataSource)
        (
            df.write.format("pgwire")
            .option("host", conn_params["host"])
            .option("port", str(conn_params["port"]))
            .option("user", conn_params["user"])
            .option("dbname", conn_params["dbname"])
            .option("table", table)
            .mode(mode)
            .save()
        )

    def _q(self, conn_params, sql):
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute(sql)
            out = cur.fetchall()
        conn.close()
        return out

    def _q_exec(self, conn_params, sql):
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute(sql)
        conn.close()

    def test_append_overwrite_and_stage_cleanup(self, spark, schema):
        from pandas_to_postgres_spark.sinks.postgres_copy import stage_name

        ghost = stage_name("dsw_tgt", "deadbeef", 0)
        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS dsw_tgt")
            cur.execute(
                "CREATE TABLE dsw_tgt (id BIGINT, name TEXT,"
                " val DOUBLE PRECISION)"
            )
            # stage owned by a DIFFERENT job (its id is not ours): the next
            # commit must neither publish it NOR drop it — it could be a
            # concurrent writer's live stage (job-scoped sweep contract)
            cur.execute(f"CREATE TABLE {ghost} (LIKE dsw_tgt)")
            cur.execute(f"INSERT INTO {ghost} VALUES (999, 'ghost', 0)")
        conn.close()

        df = spark.createDataFrame(
            [(i, f"n{i}", i * 0.5) for i in range(1, 201)],
            "id long, name string, val double",
        ).repartition(4)
        self._writer(df, schema, "dsw_tgt", "append")
        assert self._q(schema, "SELECT count(*) FROM dsw_tgt")[0] == ("200",)
        assert self._q(
            schema, "SELECT count(*) FROM dsw_tgt WHERE name = 'ghost'"
        )[0] == ("0",)
        # none of THIS job's stages survive the commit; the foreign job's
        # stage is untouched (exactly one stage table remains: the ghost's)
        assert self._q(
            schema,
            "SELECT count(*) FROM pg_tables"
            " WHERE tablename LIKE 'dsw\\_tgt\\_\\_stg\\_%'",
        )[0] == ("1",)
        self._q_exec(schema, f"DROP TABLE {ghost}")

        # append mode appends; overwrite mode replaces atomically
        self._writer(df.limit(50), schema, "dsw_tgt", "append")
        assert self._q(schema, "SELECT count(*) FROM dsw_tgt")[0] == ("250",)
        self._writer(df.limit(30), schema, "dsw_tgt", "overwrite")
        assert self._q(schema, "SELECT count(*) FROM dsw_tgt")[0] == ("30",)

    def test_write_then_read_roundtrip(self, spark, schema):
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS dsw_rt")
            cur.execute("CREATE TABLE dsw_rt (id BIGINT, val DOUBLE PRECISION)")
        conn.close()
        df = spark.createDataFrame(
            [(i, float(i) * 1.25) for i in range(100)], "id long, val double"
        )
        self._writer(df, schema, "dsw_rt", "append")
        spark.dataSource.register(PostgresDataSource)
        back = (
            spark.read.format("pgwire")
            .option("host", schema["host"])
            .option("port", str(schema["port"]))
            .option("user", schema["user"])
            .option("dbname", schema["dbname"])
            .option("table", "dsw_rt")
            .load()
        )
        got = sorted((r.id, r.val) for r in back.collect())
        assert got == [(i, i * 1.25) for i in range(100)]


class TestStreamSinkRunId:
    def test_fresh_checkpoint_new_runid_publishes(self, spark, schema, tmp_path):
        """TWO streaming queries against the SAME target, each with a
        fresh checkpoint (so both emit batchId 0) and distinct runIds:
        both must publish. Without the run-id namespace the second
        query's batch 0 would match the first run's ledger row and be
        silently dropped — data loss in an exactly-once sink."""
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS rid_src")
            cur.execute("DROP TABLE IF EXISTS rid_tgt")
            cur.execute("CREATE TABLE rid_src (seq BIGINT, v TEXT)")
            cur.execute("CREATE TABLE rid_tgt (seq BIGINT, v TEXT)")
            for i in range(10):
                cur.execute(
                    "INSERT INTO rid_src VALUES (%s, %s)", (i, f"v{i}")
                )
        conn.close()
        spark.dataSource.register(PostgresDataSource)

        def drain(ckpt, run_id):
            stream = (
                spark.readStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "rid_src")
                .option("seqColumn", "seq")
                .load()
            )
            q = (
                stream.writeStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "rid_tgt")
                .option("runId", run_id)
                .option("checkpointLocation", str(tmp_path / ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def q1(sql):
            conn = pgwire.connect(**schema)
            with conn, conn.cursor() as cur:
                cur.execute(sql)
                out = cur.fetchall()
            conn.close()
            return out

        drain("ckpt_a", "run-a")
        assert q1("SELECT count(*) FROM rid_tgt") == [("10",)]
        # fresh checkpoint -> the source re-reads everything as batch 0
        drain("ckpt_b", "run-b")
        assert q1("SELECT count(*) FROM rid_tgt") == [("20",)]
        assert q1(
            "SELECT run_id, batch_id FROM stream_epochs"
            " WHERE table_name = 'rid_tgt' ORDER BY run_id"
        ) == [("run-a", "0"), ("run-b", "0")]


class TestCdcSeqColInTarget:
    def test_apply_changes_with_seq_col_in_target_schema(self, spark, schema):
        """CDC feeds commonly persist the sequence column in the target.
        When ``seq_col`` is itself a target column the stage must reuse
        it (not append a duplicate NULL column, which fails CREATE with
        'column specified more than once') and the final rows must carry
        the seq of the LAST applied change."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            append_to_postgres,
            apply_changes_to_postgres,
        )

        conn_params = schema
        conn = pgwire.connect(**conn_params)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS kv_seq")
            cur.execute(
                """CREATE TABLE kv_seq (
                       k BIGINT, v TEXT, seq BIGINT,
                       CONSTRAINT kv_seq_pk PRIMARY KEY (k))"""
            )
        conn.close()
        target = TargetTable(
            schema="public", name="kv_seq", columns=["k", "v", "seq"]
        )
        base = spark.createDataFrame(
            [(i, f"v{i}", 0) for i in range(5)],
            "k long, v string, seq long",
        )
        assert append_to_postgres(base, conn_params, target, 2) == 5

        feed = spark.createDataFrame(
            [
                (1, "u1", 10, "U"),
                (1, "u1b", 11, "U"),  # later seq wins
                (2, None, 12, "D"),
                (9, "n9", 13, "I"),
            ],
            "k long, v string, seq long, op string",
        )
        apply_changes_to_postgres(
            feed, conn_params, target, ["k"], op_col="op", seq_col="seq"
        )
        conn = pgwire.connect(**conn_params)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT v, seq FROM kv_seq WHERE k = 1")
            assert cur.fetchall() == [("u1b", "11")]  # seq persisted
            cur.execute("SELECT count(*) FROM kv_seq WHERE k = 2")
            assert cur.fetchall() == [("0",)]
            cur.execute("SELECT v, seq FROM kv_seq WHERE k = 9")
            assert cur.fetchall() == [("n9", "13")]
            cur.execute("SELECT v, seq FROM kv_seq WHERE k = 3")
            assert cur.fetchall() == [("v3", "0")]  # untouched
        conn.close()


class TestCdcLoopEndToEnd:
    def test_outbox_stream_to_cdc_apply_survives_epoch_retry(
        self, spark, schema, tmp_path
    ):
        """The COMPOSED loop a real user runs: I/U/D changes land in an
        OUTBOX table (pgwire stream source) -> transform -> CDC apply
        sink into a target table — with a crash injected AFTER the first
        apply but BEFORE Spark commits the epoch, so the restarted query
        REPLAYS the same batch and applies it a second time. The final
        target state must be exact (the apply is idempotent: same feed
        -> same collapse -> same deletes/upserts)."""
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            append_to_postgres,
            apply_changes_to_postgres,
        )
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS ob_src")
            cur.execute("DROP TABLE IF EXISTS ob_tgt")
            cur.execute(
                "CREATE TABLE ob_src (seq BIGINT, k BIGINT, v TEXT, op TEXT)"
            )
            cur.execute(
                """CREATE TABLE ob_tgt (
                       k BIGINT, v TEXT,
                       CONSTRAINT ob_tgt_pk PRIMARY KEY (k))"""
            )
        conn.close()
        target = TargetTable(schema="public", name="ob_tgt", columns=["k", "v"])
        base = spark.createDataFrame(
            [(i, f"old{i}") for i in range(10)], "k long, v string"
        )
        assert append_to_postgres(base, schema, target, 2) == 10

        # the change feed: delete 0-2, update 5, insert 100
        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            rows = [
                (1, 0, None, "D"),
                (2, 1, None, "D"),
                (3, 2, None, "D"),
                (4, 5, "upd5", "U"),
                (5, 100, "new100", "I"),
            ]
            for r in rows:
                cur.execute("INSERT INTO ob_src VALUES (%s, %s, %s, %s)", r)
        conn.close()

        spark.dataSource.register(PostgresDataSource)
        ckpt = str(tmp_path / "ob_ckpt")
        crash = {"armed": True}

        def run(arm):
            crash["armed"] = arm

            def apply_batch(bdf, bid):
                from pyspark.sql import functions as F

                # transform: uppercase the op (exercises a real map stage)
                feed = bdf.withColumn("op", F.upper("op"))
                apply_changes_to_postgres(
                    feed, schema, target, ["k"], op_col="op", seq_col="seq"
                )
                if crash["armed"]:
                    crash["armed"] = False
                    raise RuntimeError(
                        "injected crash after apply, before epoch commit"
                    )

            stream = (
                spark.readStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "ob_src")
                .option("seqColumn", "seq")
                .load()
            )
            q = (
                stream.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            return q

        from pyspark.errors.exceptions.captured import StreamingQueryException

        q = run(arm=True)
        with pytest.raises(StreamingQueryException, match="injected crash"):
            q.awaitTermination()
        q2 = run(arm=False)  # restart on the SAME checkpoint: replays batch
        q2.awaitTermination()

        conn = pgwire.connect(**schema)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*) FROM ob_tgt")
            assert cur.fetchall() == [("8",)]  # 10 - 3 deletes + 1 insert
            cur.execute("SELECT count(*) FROM ob_tgt WHERE k < 3")
            assert cur.fetchall() == [("0",)]
            cur.execute("SELECT v FROM ob_tgt WHERE k = 5")
            assert cur.fetchall() == [("upd5",)]
            cur.execute("SELECT v FROM ob_tgt WHERE k = 100")
            assert cur.fetchall() == [("new100",)]
            cur.execute("SELECT v FROM ob_tgt WHERE k = 7")
            assert cur.fetchall() == [("old7",)]  # untouched
            join_stage_drops()
            cur.execute(
                "SELECT count(*) FROM pg_tables"
                " WHERE tablename LIKE 'ob\\_tgt\\_\\_stg\\_%'"
            )
            assert cur.fetchall() == [("0",)]  # no stage left behind
        conn.close()


class TestStreamRestartResume:
    def test_kill_and_resume_in_new_session_pg_source_cdc_apply(
        self, spark, schema, tmp_path
    ):
        """Round-5 verdict #4: the untested exactly-once risk is a FULL
        DRIVER RESTART — not an epoch retry inside one query. Kill the
        running query with q.stop() at an arbitrary point (mid-batch or
        between batches, whichever the race gives — any kill point must
        be safe), then resume on the SAME checkpoint from a NEW
        SparkSession (spark.newSession(): fresh SQL conf/state, the
        closest one JVM gets to a new driver) while more changes landed
        in between. Final target state must be EXACT vs a SQL replay of
        the whole outbox — no loss, no duplication."""
        import time as _time

        from pandas_to_postgres_spark.sinks.postgres_copy import (
            TargetTable,
            apply_changes_to_postgres,
        )
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )

        conn = pgwire.connect(**schema)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS rr_src")
            cur.execute("DROP TABLE IF EXISTS rr_tgt")
            cur.execute(
                "CREATE TABLE rr_src (seq BIGINT, k BIGINT, v TEXT, op TEXT)"
            )
            cur.execute(
                """CREATE TABLE rr_tgt (
                       k BIGINT, v TEXT,
                       CONSTRAINT rr_tgt_pk PRIMARY KEY (k))"""
            )
        conn.close()
        target = TargetTable(schema="public", name="rr_tgt", columns=["k", "v"])
        seq_counter = {"n": 0}

        def emit(rows):
            conn = pgwire.connect(**schema)
            conn.autocommit = True
            with conn.cursor() as cur:
                for k, v, op in rows:
                    seq_counter["n"] += 1
                    cur.execute(
                        "INSERT INTO rr_src VALUES (%s, %s, %s, %s)",
                        (seq_counter["n"], k, v, op),
                    )
            conn.close()

        def apply_batch(bdf, _bid):
            apply_changes_to_postgres(
                bdf, schema, target, ["k"], op_col="op", seq_col="seq"
            )

        ckpt = str(tmp_path / "rr_ckpt")

        def _register(sess):
            """Spark 4.1 quirk: DataSourceRegistration.registerPython's
            duplicate check is context-global while RESOLUTION is
            session-scoped, so a newSession() can neither register (
            ALREADY_EXISTS) nor resolve (NOT_FOUND) a source the parent
            registered. Register straight into the session's own
            DataSourceManager."""
            from pyspark.sql.udf import _wrap_function

            try:
                sess.dataSource.register(PostgresDataSource)
                return
            except Exception:
                pass
            sc = sess.sparkContext
            wrapped = _wrap_function(sc, PostgresDataSource)
            jds = getattr(
                sc._jvm,
                "org.apache.spark.sql.execution.datasources"
                ".v2.python.UserDefinedPythonDataSource",
            )(wrapped)
            sess._jsparkSession.sessionState().dataSourceManager(
            ).registerDataSource("pgwire", jds)

        def start(sess, trigger):
            _register(sess)
            # full-drain semantics for availableNow over a Python source
            # (see session.get_spark) — set explicitly because the module
            # fixture's session may predate the default
            sess.conf.set(
                "spark.sql.streaming.triggerAvailableNowWrapper.enabled",
                "true",
            )
            stream = (
                sess.readStream.format("pgwire")
                .option("host", schema["host"])
                .option("port", str(schema["port"]))
                .option("user", schema["user"])
                .option("dbname", schema["dbname"])
                .option("table", "rr_src")
                .option("seqColumn", "seq")
                .load()
            )
            return (
                stream.writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt)
                .trigger(**trigger)
                .start()
            )

        def q1(sql):
            conn = pgwire.connect(**schema)
            with conn, conn.cursor() as cur:
                cur.execute(sql)
                out = cur.fetchall()
            conn.close()
            return out

        # wave A, then a continuously-triggered query we will KILL
        emit([(k, f"a{k}", "I") for k in range(50)])
        q = start(spark, {"processingTime": "200 milliseconds"})
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if int(q1("SELECT count(*) FROM rr_tgt")[0][0]) >= 50:
                break
            _time.sleep(0.2)
        # wave B lands WHILE the query runs; kill arrives an instant later
        emit(
            [(k, f"b{k}", "U") for k in range(0, 25)]
            + [(k, None, "D") for k in range(25, 30)]
            + [(k, f"b{k}", "I") for k in range(50, 60)]
        )
        _time.sleep(0.3)  # let a batch be mid-flight (either side is fine)
        q.stop()  # the "driver dies" moment

        # wave C lands while nothing is running
        emit(
            [(k, f"c{k}", "U") for k in range(10, 15)]
            + [(25, "c25", "I")]
        )
        # resume on the SAME checkpoint from a NEW session
        sess2 = spark.newSession()
        q2 = start(sess2, {"availableNow": True})
        q2.awaitTermination()

        got = q1("SELECT k, v FROM rr_tgt ORDER BY k")
        want = q1(
            """WITH latest AS (
                   SELECT DISTINCT ON (k) k, v, op
                   FROM rr_src ORDER BY k, seq DESC)
               SELECT k, v FROM latest WHERE op <> 'D' ORDER BY k"""
        )
        assert got == want, f"{len(got)} target rows vs {len(want)} expected"
        # no stage tables left behind by either incarnation
        join_stage_drops()
        assert q1(
            "SELECT count(*) FROM pg_tables"
            " WHERE tablename LIKE 'rr\\_tgt\\_\\_stg\\_%'"
        ) == [("0",)]


class TestHdfToPostgresE2E:
    """The reference's FLAGSHIP workload end-to-end with zero reference
    dependencies: an HDF5 file (written by the pure-Python writer) →
    `compat.hdf_to_postgres` discovery/routing → distributed pure-Python
    range scans (one Spark task per [start, stop) slice) → parallel COPY
    into a REAL PostgreSQL — `hdf_to_postgres.py:106-201` +
    `copy_hdf.py:175-230` as one executed pipeline."""

    def test_flagship_pipeline(self, pg, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from pandas_to_postgres_spark import compat
        from pandas_to_postgres_spark.sources.hdf5_writer import (
            write_frame_table,
        )

        # two HDF keys route to ONE SQL table via metadata, one key
        # stands alone — the reference's one:many routing
        def frame(lo, n, seed):
            rs = np.random.RandomState(seed)
            return pd.DataFrame(
                {
                    "id": np.arange(lo, lo + n, dtype=np.int64),
                    "val": rs.randn(n).round(6),
                    "tag": [f"t{i % 7}" for i in range(n)],
                }
            )

        h5 = str(tmp_path / "catalog.h5")
        write_frame_table(
            h5,
            {
                "m_part1": frame(0, 700, 1),
                "m_part2": frame(700, 500, 2),
                "solo": frame(0, 123, 3),
            },
            chunk_rows=64,
            complevel=4,
            group_meta={
                "m_part1": {"pg_meta": {"sql_table_name": "merged", "levels": 1}},
                "m_part2": {"pg_meta": {"sql_table_name": "merged", "levels": 1}},
            },
        )

        conn = pgwire.connect(**pg)
        conn.autocommit = True
        with conn.cursor() as cur:
            for t in ("merged", "solo"):
                cur.execute(f"DROP TABLE IF EXISTS {t}")
                cur.execute(
                    f"CREATE TABLE {t} (id BIGINT, val DOUBLE PRECISION, tag TEXT)"
                )
        conn.close()

        def sink(table_name: str, df):
            target = reflect_target_table(pg, "public", table_name)
            copy_to_postgres(df, pg, target, num_partitions=4)

        seen_meta = []

        def hook(df, hdf_table=None, levels=None, **kwargs):
            seen_meta.append((hdf_table, levels))
            return df

        compat.hdf_to_postgres(
            h5,
            spark,
            sink,
            metadata_attr="pg_meta",
            metadata_keys=("levels",),
            big=True,            # the distributed range-scan tier
            hdf_chunksize=100,   # 700-row key -> 7 Spark tasks
            formatters=[hook],
        )

        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT count(*), min(id), max(id) FROM merged")
            assert cur.fetchall() == [("1200", "0", "1199")]
            cur.execute("SELECT count(*) FROM solo")
            assert cur.fetchall() == [("123",)]
            # value fidelity through HDF5 bytes -> Spark -> COPY text
            cur.execute("SELECT val, tag FROM merged WHERE id = 701")
            val, tag = cur.fetchall()[0]
            import numpy as np

            rs = np.random.RandomState(2)
            expected = float(round(rs.randn(500)[1], 6))
            assert abs(float(val) - expected) < 1e-9
            assert tag == "t1"
        conn.close()
        # per-key metadata constants reached the formatter hooks
        assert ("/m_part1", 1) in seen_meta and ("/m_part2", 1) in seen_meta
        assert ("/solo", None) in seen_meta


class TestHdf5ToPostgresStreaming:
    """Round-5 composition: the HDF5 STREAMING source (new .h5 part files
    per micro-batch) feeding the pgwire exactly-once STREAM sink — a
    landing directory continuously ingested into Postgres with staged,
    ledgered epochs."""

    def test_landing_dir_to_postgres_exactly_once(self, pg, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource
        from pandas_to_postgres_spark.sources.pg_datasource import (
            PostgresDataSource,
        )
        from pandas_to_postgres_spark.sources.hdf5_writer import (
            write_frame_table,
        )

        for ds in (Hdf5DataSource, PostgresDataSource):
            try:
                spark.dataSource.register(ds)
            except Exception:
                pass

        land = str(tmp_path / "landing")
        ckpt = str(tmp_path / "ckpt")
        import os

        os.makedirs(land)

        def mk(name, lo, n):
            write_frame_table(
                os.path.join(land, name),
                {
                    "data": pd.DataFrame(
                        {
                            "id": np.arange(lo, lo + n, dtype=np.int64),
                            "v": [f"v{i}" for i in range(lo, lo + n)],
                        }
                    )
                },
                chunk_rows=32,
            )

        conn = pgwire.connect(**pg)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS h5_ingest")
            cur.execute("CREATE TABLE h5_ingest (id BIGINT, v TEXT)")
        conn.close()

        def drain():
            stream = (
                spark.readStream.format("hdf5")
                .option("path", land)
                .option("key", "data")
                .load()
            )
            q = (
                stream.writeStream.format("pgwire")
                .option("host", pg["host"])
                .option("port", str(pg["port"]))
                .option("user", pg["user"])
                .option("dbname", pg["dbname"])
                .option("table", "h5_ingest")
                .option("runId", "h5-land-1")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def q1(sql):
            conn = pgwire.connect(**pg)
            with conn, conn.cursor() as cur:
                cur.execute(sql)
                out = cur.fetchall()
            conn.close()
            return out

        mk("a.h5", 0, 90)
        drain()
        assert q1("SELECT count(*), count(DISTINCT id) FROM h5_ingest") == [
            ("90", "90")
        ]
        # two new files -> one more drain -> exactly the delta, once
        mk("b.h5", 90, 40)
        mk("c.h5", 130, 25)
        drain()
        assert q1("SELECT count(*), count(DISTINCT id), min(id), max(id) FROM h5_ingest") == [
            ("155", "155", "0", "154")
        ]
        # idle drain adds nothing (ledger + empty offset delta)
        drain()
        assert q1("SELECT count(*) FROM h5_ingest") == [("155",)]


class TestHdf5NaiveTimestampToPostgres:
    def test_naive_timestamp_lands_as_written(self, pg, spark, tmp_path):
        """A naive HDF5 ``datetime64`` read through ``format("hdf5")`` in a
        non-UTC session lands in a ``TIMESTAMP`` column as written, as the
        reference's CSV hand-off lands it."""
        from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource
        from tests.test_hdf5 import naive_ts_part

        naive_ts_part(tmp_path)
        spark.dataSource.register(Hdf5DataSource)
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS h5_ts")
            cur.execute("CREATE TABLE h5_ts (id BIGINT, ts TIMESTAMP)")
        conn.close()
        conf = "spark.sql.session.timeZone"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "America/New_York")
        try:
            df = spark.read.format("hdf5").option("path", str(tmp_path)).load()
            copy_to_postgres(df, pg, reflect_target_table(pg, "public", "h5_ts"))
        finally:
            spark.conf.set(conf, old)
        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT id, to_char(ts, 'YYYY-MM-DD HH24:MI') FROM h5_ts ORDER BY id")
            assert cur.fetchall() == [
                ("0", "2024-01-01 00:00"), ("1", "2024-01-01 01:00"), ("2", "2024-01-01 02:00")
            ]
        conn.close()


class TestHdf5WritePaths:
    """An HDF5 load reads its slices inside its COPY tasks and lands the
    same rows on every write path as the same frame loaded through
    ``createDataFrame``. The file holds three keys routed to one table,
    one of them with its columns stored in another order."""

    @staticmethod
    def _frame(lo, n, seed):
        import numpy as np
        import pandas as pd

        rs = np.random.RandomState(seed)
        return pd.DataFrame(
            {
                "k": np.arange(lo, lo + n, dtype=np.int64),
                "v": rs.randn(n).round(6),
                "s": [f"s{i % 11}" for i in range(n)],
                "b": np.arange(n) % 3 == 0,
            }
        )

    @pytest.fixture()
    def h5(self, tmp_path):
        import pandas as pd

        from pandas_to_postgres_spark.sources.hdf5_writer import write_frame_table

        keys = {
            "p1": self._frame(0, 70, 1),
            "p2": self._frame(70, 50, 2)[["s", "v", "k", "b"]],
            "p3": self._frame(120, 40, 3),
        }
        path = str(tmp_path / "three_keys.h5")
        write_frame_table(
            path, keys, chunk_rows=16, complevel=4,
            group_meta={k: {"pg_meta": {"sql_table_name": "hdf_paths"}} for k in keys},
        )
        return path, pd.concat([f[["k", "v", "s", "b"]] for f in keys.values()])

    @staticmethod
    def _target(pg):
        conn = pgwire.connect(**pg)
        conn.autocommit = True
        with conn.cursor() as cur:
            cur.execute("DROP TABLE IF EXISTS hdf_paths")
            cur.execute(
                "CREATE TABLE hdf_paths (k BIGINT PRIMARY KEY,"
                " v DOUBLE PRECISION, s TEXT, b BOOLEAN)"
            )
        conn.close()
        return reflect_target_table(pg, "public", "hdf_paths")

    @staticmethod
    def _rows(pg):
        conn = pgwire.connect(**pg)
        with conn, conn.cursor() as cur:
            cur.execute("SELECT k, v, s, b FROM hdf_paths ORDER BY k")
            rows = cur.fetchall()
        conn.close()
        return rows

    def _load(self, spark, h5, pg, target, **kw):
        from pandas_to_postgres_spark import compat

        def sink(_table, df):
            return copy_to_postgres(df, pg, target, num_partitions=3, **kw)

        compat.hdf_to_postgres(
            h5, spark, sink, metadata_attr="pg_meta", big=True, hdf_chunksize=16
        )

    @pytest.mark.parametrize("path", ["direct", "staged", "freeze", "exactly_once"])
    def test_every_path_lands_the_frames_rows(self, pg, spark, tmp_path, h5, path):
        from pandas_to_postgres_spark.sinks.hdf import load_hdf_dir, write_hdf_dir
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            load_batch_exactly_once,
            truncate_sql,
        )

        h5_path, frame = h5
        target = self._target(pg)
        assert copy_to_postgres(spark.createDataFrame(frame), pg, target) == 160
        want = self._rows(pg)
        if path == "exactly_once":
            d = str(tmp_path / "parts")
            write_hdf_dir(spark.createDataFrame(frame).repartition(3), d, key="data")
            conn = pgwire.connect(**pg)
            with conn, conn.cursor() as cur:
                cur.execute(truncate_sql(target))
            conn.close()
            scan = load_hdf_dir(spark, d, key="data", chunk_rows=20)
            assert load_batch_exactly_once(
                scan, pg, target, batch_id=0, epoch_table="hdf_paths_epochs",
                num_partitions=3, run_id=str(tmp_path),
            ) == 160
            join_stage_drops()
        else:
            self._load(spark, h5_path, pg, target, **({} if path == "direct" else {path: True}))
        assert self._rows(pg) == want

    def test_copy_task_reads_the_slices(self, pg, spark, h5, monkeypatch):
        """The frame an HDF5 load collects runs ONE ``mapInArrow``: the
        slice reader and the COPY task share a Python worker."""
        from pyspark.sql.classic.dataframe import DataFrame

        plans, collect = [], DataFrame.collect

        def recording(self):
            plans.append(self._jdf.queryExecution().analyzed().toString())
            return collect(self)

        target = self._target(pg)
        monkeypatch.setattr(DataFrame, "collect", recording)
        self._load(spark, h5[0], pg, target)
        assert [p.count("MapInArrow") for p in plans] == [1]
        assert len(self._rows(pg)) == 160

    def test_messages_carry_the_task_layers(self, pg, spark, h5):
        from pandas_to_postgres_spark.sinks.postgres_copy import (
            _run_copy_tasks,
            copy_sql,
        )
        from pandas_to_postgres_spark.sources.hdf import scan_hdf

        target = self._target(pg)
        scan = scan_hdf(spark, [h5[0]], "p1", 35)  # two tasks, one slice each
        messages = _run_copy_tasks(scan, pg, lambda _: (None, [], copy_sql(target)))
        assert [m.n_rows for m in messages] == [35, 35]
        for m in messages:
            assert m.bytes > 4 * m.n_rows and m.encode_s > 0
            # the wait for the task's one batch is its slice read, which
            # decodes deflated chunks: far above 0.1 ms
            assert m.source_s > 1e-4
