"""Streaming ETL sink: ``foreachBatch`` bridges a stream to any batch sink.

The reference's whole purpose is bulk-loading batches into Postgres
(`/root/reference/pandas_to_postgres/_base_copy.py:130-144`). Its streaming
twin is ``writeStream.foreachBatch``: each micro-batch arrives as a plain
batch DataFrame, so the SAME sink code (JDBC writer, psycopg2 COPY
``sinks/postgres_copy.copy_to_postgres``, partitioned parquet
``sinks/files``) loads it unchanged — no second sink implementation.

Semantics that matter in production:

- **Exactly-once is the sink's job.** Structured Streaming re-delivers a
  micro-batch after failure with the SAME ``batch_id``; an idempotent sink
  (e.g. DELETE-then-COPY keyed on batch_id, or overwrite of a
  batch-id-named partition directory) turns at-least-once delivery into
  exactly-once tables. The ``epoch_col`` option stamps the batch id into a
  column so the sink can key on it.
- **Truncate/FREEZE does not fit here.** The reference's TRUNCATE+COPY
  FREEZE is a full-refresh idiom; a stream is incremental by definition —
  use append COPY per micro-batch, constraints stay in place.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

BatchWriter = Callable[[DataFrame, int], None]


def stream_to_batch_sink(
    stream: DataFrame,
    writer: BatchWriter,
    checkpoint_dir: str,
    epoch_col: Optional[str] = None,
    available_now: bool = True,
    output_mode: str = "append",
) -> StreamingQuery:
    """Drive ``writer(batch_df, batch_id)`` for every micro-batch.

    ``available_now=True`` drains whatever input exists and stops — the
    batch-parity mode used in tests; ``False`` runs continuously. The
    checkpoint directory is what makes restarts resume instead of replay
    from scratch — at scale it lives on shared storage.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if epoch_col is not None:
            batch_df = batch_df.withColumn(epoch_col, F.lit(batch_id))
        writer(batch_df, batch_id)

    ws = (
        stream.writeStream.foreachBatch(_apply)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # Python DataSourceStreamReaders can't declare
        # SupportsTriggerAvailableNow; without the wrapper their
        # availableNow drain degrades to ONE batch (Trigger.Once
        # semantics) — a restart with a WAL-pending batch would replay it
        # and stop BEFORE data that arrived since (see session.get_spark).
        # Set here too so vanilla (non-get_spark) sessions drain fully.
        stream.sparkSession.conf.set(
            "spark.sql.streaming.triggerAvailableNowWrapper.enabled", "true"
        )
        ws = ws.trigger(availableNow=True)
    return ws.start()


def stream_to_postgres_exactly_once(
    stream: DataFrame,
    conn_params: dict,
    target,
    checkpoint_dir: str,
    epoch_table: str = "stream_epochs",
    num_partitions: Optional[int] = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream → Postgres with exactly-once tables: each micro-batch is
    staged by parallel COPY and atomically published together with its
    epoch-ledger row (`sinks/postgres_copy.load_batch_exactly_once`), so
    Structured Streaming's at-least-once redelivery (same ``batch_id``
    after failure) never duplicates or partially exposes a batch.

    Scale: the data plane is the same COPY used for bulk loads — one
    writer per partition of the micro-batch, at most ``num_partitions``,
    each on its own connection into its own stage table (a one-file batch
    stages once); only the publish (a metadata-sized transaction:
    INSERT..SELECT + ledger row) serializes per batch. The stages are dropped after the commit, off the
    batch's critical path; a crash before that drop leaves stages that the
    batch's replay sweeps, or that the ``<table>__stg_%`` bound of
    `sinks/postgres_copy` removes. The checkpoint directory carries the
    source offsets; the ledger carries the sink state — together they
    survive a restart of either side.

    The ledger is namespaced by a run id derived from
    ``checkpoint_dir`` (stable across restarts of the same query,
    distinct for a fresh checkpoint), so a NEW query writing to a
    previously-used target cannot match the old run's batch_ids and
    silently skip its epochs."""
    import hashlib  # noqa: PLC0415
    import os  # noqa: PLC0415

    from pandas_to_postgres_spark.sinks.postgres_copy import (  # noqa: PLC0415
        load_batch_exactly_once,
    )

    # realpath: the ledger's run namespace must be stable across every
    # spelling of the same checkpoint (relative vs absolute, trailing
    # slash, symlink) — a restart that resolves to the same checkpoint
    # but hashes a different string would miss the replay check and
    # double-load the redelivered epoch
    run_id = hashlib.sha256(
        os.path.realpath(checkpoint_dir).encode()
    ).hexdigest()[:16]

    def _writer(batch_df: DataFrame, batch_id: int) -> None:
        load_batch_exactly_once(
            batch_df,
            conn_params,
            target,
            batch_id,
            epoch_table,
            num_partitions,
            run_id=run_id,
        )

    return stream_to_batch_sink(
        stream, _writer, checkpoint_dir, available_now=available_now
    )


def snapshot_cdc_writer(
    path: str,
    key_cols: list,
    op_col: str = "op",
    seq_col: str = "seq",
) -> BatchWriter:
    """Stream a CDC change feed (I/U/D + sequence column) into the
    snapshot TABLE — the lakehouse twin of the Postgres CDC apply sink:
    each micro-batch folds to latest-change-per-key and lands as ONE
    copy-on-write version (`sources/manifest.apply_changes_to_snapshot`),
    so batch readers always see a fully-applied feed and can time-travel
    to any batch boundary. Composes with ``stream_to_batch_sink``;
    redelivered batches rewrite the same rows to the same values
    (content-idempotent under at-least-once foreachBatch delivery)."""
    from pandas_to_postgres_spark.sources.manifest import (
        apply_changes_to_snapshot,
    )

    def _writer(batch_df: DataFrame, _batch_id: int) -> None:
        apply_changes_to_snapshot(
            batch_df.sparkSession, path, batch_df, key_cols,
            op_col=op_col, seq_col=seq_col,
        )

    return _writer


def snapshot_table_writer(
    path: str,
    stat_cols: Optional[list] = None,
    stream_id: Optional[str] = None,
) -> BatchWriter:
    """Exactly-once streaming ingest into the manifest snapshot table
    (``sources/manifest``) — the streaming-lakehouse shape: every
    micro-batch lands as immutable ``part-e{epoch}-*.parquet`` files and
    publishes one snapshot version, so BATCH readers time-travel a
    consistent table WHILE the stream runs, and maintenance composes
    (``compact_snapshot`` rewrites the accumulated small epoch files,
    ``expire_snapshots`` reclaims).

    Exactly-once without a log: Structured Streaming re-delivers a failed
    micro-batch with the SAME batch_id, and the writer is idempotent per
    epoch — it first DELETES any ``part-e{N}-`` leftovers from a previous
    attempt of this epoch (a crash between write and publish leaves only
    unreferenced files, which ``expire_snapshots`` deliberately never
    touches), rewrites them from the delivered batch, and publishes
    HEAD-FILES + the epoch's files (``manifest.append_snapshot`` with this
    epoch's prefix dropped from the head, so a redelivery REPLACES rather
    than appends twice). Publishing the head list — never the raw
    directory listing — is what lets maintenance compose: files that
    compaction or a logical overwrite superseded stay on disk for
    time-travel but must not re-enter new snapshots, and crashed batch
    writers' orphans must not leak in (ADVICE r6). The publish is an
    atomic version claim, retried against a re-read head, so the stream
    can run concurrently with compaction or batch appends. Use through
    :func:`stream_to_batch_sink`.

    ``stream_id`` namespaces the epoch files (``part-e{id}-{epoch}-*``).
    Epoch numbers are unique PER CHECKPOINT, not per table: TWO streams
    ingesting the same table both start at batch 0, so without distinct
    ids one stream's leftover sweep would delete the other's PUBLISHED
    batch-0 files and its ``drop_prefix`` would evict them from the
    head. Pass an id that is deterministic across restarts of the same
    query — derive it from the checkpoint location (e.g.
    ``sha256(realpath(ckpt))[:8]``), never a fresh uuid, or a restarted
    query stops recognizing its own epochs and redelivery appends twice.
    Single-stream tables may omit it (the default keeps the historical
    ``part-e{epoch}-`` names).
    """
    import glob
    import os
    import re
    import shutil
    import tempfile

    from pandas_to_postgres_spark.sources.manifest import append_snapshot

    if stream_id is not None and not re.fullmatch(r"[A-Za-z0-9]+", stream_id):
        raise ValueError("stream_id must be [A-Za-z0-9]+")
    base = f"part-e{stream_id}-" if stream_id else "part-e"

    def _writer(batch_df: DataFrame, batch_id: int) -> None:
        pfx = f"{base}{batch_id}-"
        os.makedirs(path, exist_ok=True)
        for leftover in glob.glob(os.path.join(path, f"{pfx}*.parquet")):
            os.remove(leftover)
        stage = tempfile.mkdtemp(prefix=f"snap-epoch-{batch_id}-")
        moved = []
        try:
            batch_df.write.mode("overwrite").parquet(stage)
            parts = sorted(
                f for f in os.listdir(stage)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            for i, f in enumerate(parts):
                name = f"{pfx}{i:05d}.parquet"
                shutil.move(
                    os.path.join(stage, f), os.path.join(path, name)
                )
                moved.append(name)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        append_snapshot(
            path, moved, stat_cols=stat_cols,
            drop_prefix=pfx,
            spark=batch_df.sparkSession,  # CHECK-constraint validation
        )

    return _writer


def partitioned_snapshot_table_writer(
    path: str,
    spec: list,
    stat_cols: Optional[list] = None,
    stream_id: Optional[str] = None,
) -> BatchWriter:
    """Exactly-once streaming ingest into a HIDDEN-PARTITIONED snapshot
    table — :func:`snapshot_table_writer` composed with the Iceberg-style
    partition transforms of ``sources/partition_spec``: every micro-batch
    is clustered by the spec's transform values (one file never mixes
    partition tuples), lands as ``part-e{epoch}-*.parquet`` with its
    tuple recorded in the manifest ENTRIES, and the version publish
    carries/inherits the ``partition_spec`` — so raw-column predicates
    keep pruning (library reads AND the DataSource pushFilters path)
    while the stream runs, over every epoch appended so far.

    Same exactly-once contract as the flat writer: per-epoch leftover
    deletion + head-list publish with this epoch's prefix dropped, so a
    redelivered batch REPLACES its own files; the publish is an atomic
    version claim retried against the re-read head, composing with
    concurrent compaction/appends. First epoch stamps the spec via
    ``extra``; later epochs inherit it from the head. ``stream_id``
    namespaces epochs exactly as in :func:`snapshot_table_writer` —
    required (distinct, checkpoint-derived) when MULTIPLE streams
    ingest the same table, since epoch numbers are per-checkpoint."""
    import glob
    import os
    import re

    from pandas_to_postgres_spark.sources.manifest import (
        append_snapshot,
        snapshot_versions,
    )

    if stream_id is not None and not re.fullmatch(r"[A-Za-z0-9]+", stream_id):
        raise ValueError("stream_id must be [A-Za-z0-9]+")
    base = f"part-e{stream_id}-" if stream_id else "part-e"
    from pandas_to_postgres_spark.sources.partition_spec import (
        stage_partitioned_files,
    )

    def _writer(batch_df: DataFrame, batch_id: int) -> None:
        from pandas_to_postgres_spark.sources.partition_spec import (
            _canon_spec,
            _head_specs,
        )

        pfx = f"{base}{batch_id}-"
        os.makedirs(path, exist_ok=True)
        for leftover in glob.glob(os.path.join(path, f"{pfx}*.parquet")):
            os.remove(leftover)
        names, entries = stage_partitioned_files(
            batch_df,
            path,
            spec,
            stat_cols or (),
            prefix=pfx,
        )
        first = not snapshot_versions(path)
        # spec-evolution safety: once the table carries MULTIPLE specs
        # (someone evolved it while this stream runs), entries written
        # without a spec_id would resolve to the table's FIRST spec —
        # wrong pruning if this writer's spec registered later. Stamp
        # the writer's spec id whenever a registry exists.
        extra = None
        if first:
            extra = {"partition_spec": [dict(f) for f in spec]}
        else:
            specs, _d = _head_specs(path)
            if specs:
                canon = _canon_spec(spec)
                sid = next(
                    (
                        i
                        for i, s in specs.items()
                        if _canon_spec(s) == canon
                    ),
                    None,
                )
                if sid is None:
                    sid = str(max(int(i) for i in specs) + 1)
                    specs = dict(specs)
                    specs[sid] = [dict(f) for f in spec]
                    extra = {
                        "partition_specs": specs,
                        "default_spec_id": sid,
                        "partition_spec": [dict(f) for f in spec],
                    }
                for e in entries:
                    e["spec_id"] = sid
        append_snapshot(
            path,
            names,
            stat_cols=stat_cols,
            drop_prefix=pfx,
            known_entries=entries,
            spark=batch_df.sparkSession,  # CHECK-constraint validation
            extra=extra,
        )

    return _writer
