"""Structured Streaming re-casts of the event aggregations (SURVEY.md §2.9).

The reference is strictly batch; its bounded-memory chunk loops
(`/root/reference/pandas_to_postgres/utilities.py:112-116`) are the moral
ancestor of micro-batching. Here the same windowed aggregation runs as a real
stream: ``readStream`` over the events parquet, event-time tumbling windows
with a watermark, memory sink drained with ``Trigger.AvailableNow``.

Scale notes: in production the source would be Kafka/files-on-arrival; the
watermark bounds state (late rows beyond it are dropped); ``complete`` output
mode is used here because the memory sink collects the full small aggregate —
a real sink would use ``update``/``append`` with checkpointing.
"""

from __future__ import annotations

import glob
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandas_to_postgres_spark.sources.parquet import (
    normalize_event_ts,
    read_raw_events,
)


def windowed_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "10 minutes",
    watermark: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) per-type event counts computed
    by a genuine Structured Streaming query drained to completion
    (AvailableNow).

    Returns the final result as a static DataFrame: (window_start string,
    event_type, n, total_value)."""
    with _event_drain(spark, sf_dir) as drain:
        agg = _windowed_agg(drain.stream(), window_duration, watermark, slide)
        return _memory_drain(agg, "complete")


def _memory_drain(df: DataFrame, output_mode: str) -> DataFrame:
    """Run the streaming ``df`` to completion (AvailableNow) into a memory
    sink and return the sink's table as a static DataFrame."""
    table = f"stream_drain_{uuid.uuid4().hex[:8]}"
    (
        df.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(table)


#: rows per task for the microbatch widening: keeps tiny local batches
#: narrow while a genuinely large single-file batch still spreads
_TASK_ROWS = 65536

#: rows per STATE PARTITION for the stateful drains. Each state partition
#: is a separate state-store instance whose open/snapshot/commit runs PER
#: MICRO-BATCH (including the 0-input watermark-eviction batch); measured
#: at sf0.1, the stream-stream join spent ~4.7 s in a 0-row batch doing
#: nothing but 32 partitions x 2 sides of store maintenance — scaled to
#: the batch volume it ran 3.2 s end to end (was ~11.7 s). 64k
#: rows/partition amortizes a store's ~10-30 ms fixed cost well past it
#: (measured sweep: the 800k-row 8x drain ran 445k rows/s at 32
#: partitions, 597k at 13, 685k at 4; the 100k-row sf0.1 drain is flat
#: 78-84k across 2-7 partitions)
_STATE_ROWS = 65536

#: held by each drain from its volume probe to its conf restore, so two
#: drains in one session cannot interleave their shuffle.partitions swaps
#: (B saving A's narrowed value and restoring it after A has restored)
_SWAP_LOCK = threading.Lock()


def _batch_volume(
    path: str, pool: int, target_rows: int, parts: int
) -> tuple[int, int | None]:
    """One listing pass over a file-stream source: ``(files, rows)``, rows
    summed from the parquet footers (driver-side metadata, no job).

    Footers are read only until both gates below are settled, so at scale
    the probe reads few or none: the state-partition swap is a no-op once
    rows exceed ``(parts - 1) * _STATE_ROWS``; the widening needs no
    footer when ``files >= pool`` (or ``target_rows <= 0``) and is at
    full pool width once rows reach ``pool * target_rows``. ``rows`` is
    then a lower bound that decides both gates as the full sum would.
    ``rows`` is None when the source has no files or a needed footer is
    unreadable (non-parquet fixture, concurrent writer)."""
    import pyarrow.parquet as pq

    files: list[str] = []
    for p in glob.glob(path):
        if os.path.isdir(p):
            files.extend(
                os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
            )
        else:
            files.append(p)
    if not files:
        return 0, None
    widens = target_rows > 0 and len(files) < pool
    enough = max(
        (parts - 1) * _STATE_ROWS + 1 if parts > 1 else 0,
        pool * target_rows if widens else 0,
    )
    rows = 0
    for f in files:
        if rows >= enough:
            break
        try:
            rows += pq.ParquetFile(f).metadata.num_rows
        except Exception:
            return len(files), None
    return len(files), rows


def _gates(
    spark: SparkSession, sf_dir: str, target_rows: int, parts: int = 1
) -> tuple[int, int]:
    """``(state_parts, width)`` for an events drain, from one
    :func:`_batch_volume` probe; 0 means leave that gate alone.

    ``state_parts`` scales the state-store partition count (pinned from
    ``spark.sql.shuffle.partitions`` at query start, currently ``parts``)
    to the batch volume, ``ceil(rows / _STATE_ROWS)``, when that is
    narrower (guide §2: derive partitioning from the data; a 100k-row
    drain does not need 32 state stores ticking over per micro-batch).

    ``width`` repartitions a file-bound microbatch. A streaming file
    source parallelizes by FILE, so a batch over few files runs its
    scan→normalize→partial-aggregate pipeline on few cores (measured at
    sf0.1: the single-file events source put ~5.8 s of the 7.6 s drain in
    a one-task addBatch). Width is ``min(pool, ceil(rows / target_rows))``
    and fires only when it at least DOUBLES the file-granted parallelism —
    below that the raw-row exchange costs more than the extra tasks win
    back. ``target_rows`` lets per-row-heavy consumers (md5 sketch folds)
    widen sooner; ``target_rows <= 0`` disables the widening for
    consumers whose FIRST operator is a stateful exchange (the
    stream-stream join), where a pre-shuffle widening is pure cost.

    Unknown volume leaves both gates alone: spreading a batch of unknown
    size to the full pool makes a small batch pay a pool-wide raw-row
    shuffle that costs more than it buys (the r10 stream-tier regression,
    20%, had that shape)."""
    pool = spark.sparkContext.defaultParallelism
    files, rows = _batch_volume(
        f"{sf_dir}/events.parque[t]", pool, target_rows, parts
    )
    if rows is None:
        return 0, 0
    state = max(1, -(-rows // _STATE_ROWS))
    width = min(pool, -(-rows // target_rows)) if target_rows > 0 else 0
    return (
        state if state < parts else 0,
        width if files < pool and width >= 2 * files else 0,
    )


class _event_drain:
    """Context manager around one stateful events drain: probes the batch
    volume once (:func:`_gates`), narrows ``spark.sql.shuffle.partitions``
    to the state-partition gate for the drain and restores it on exit,
    and hands out event streams widened by the width gate
    (:meth:`stream`). At 100 TB the row count blows past both targets and
    the cluster's own shuffle.partitions and file parallelism stand.

    The swap is session-wide: anything else PLANNING in this session
    during the drain sees it. Drains serialize on ``_SWAP_LOCK`` (not
    reentrant: a drain must not start another drain inside its block)."""

    def __init__(
        self, spark: SparkSession, sf_dir: str, target_rows: int = _TASK_ROWS
    ):
        self.spark, self.sf_dir, self.target_rows = spark, sf_dir, target_rows
        self.old: str | None = None
        self.width = 0

    def __enter__(self):
        _SWAP_LOCK.acquire()
        try:
            conf = self.spark.conf
            old = conf.get("spark.sql.shuffle.partitions")
            state, self.width = _gates(
                self.spark, self.sf_dir, self.target_rows, int(old)
            )
            if state:
                self.old = old
                conf.set("spark.sql.shuffle.partitions", str(state))
        except BaseException:
            _SWAP_LOCK.release()
            raise
        return self

    def __exit__(self, *exc):
        try:
            if self.old is not None:
                self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        finally:
            _SWAP_LOCK.release()
        return False

    def stream(self) -> DataFrame:
        return _event_source(self.spark, self.sf_dir, self.width)


def _event_stream(
    spark: SparkSession, sf_dir: str, target_rows: int = _TASK_ROWS
) -> DataFrame:
    """The events stream for drains that keep the session's state sizing:
    widened by the width gate alone (see :func:`_gates`)."""
    return _event_source(spark, sf_dir, _gates(spark, sf_dir, target_rows)[1])


def _event_source(spark: SparkSession, sf_dir: str, width: int) -> DataFrame:
    """The events table as a streaming source: the raw schema comes from
    :func:`read_raw_events` (which sets the NANOS-as-long conf BEFORE the
    schema probe), the file source is glob-loaded, repartitioned to
    ``width`` when nonzero, and ``ts`` normalized to a watermark-eligible
    TIMESTAMP. Row placement is irrelevant to every consumer (grouped
    aggregates with decimal accumulation, key-equality joins,
    distinct-on-key dedup over full-row duplicates), so the repartition
    never changes results."""
    raw_schema = read_raw_events(spark, sf_dir).schema
    # the streaming file source needs a directory or glob, not a bare file
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(f"{sf_dir}/events.parque[t]")
    )
    if width:
        stream = stream.repartition(width)
    return normalize_event_ts(stream)


def _windowed_agg(
    stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    window_col = (
        F.window("ts", window_duration, slide) if slide else F.window("ts", window_duration)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(window_col.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based SESSION windows (dynamic, per-key window bounds) as a real
    Structured Streaming query: ``session_window`` merges events within
    ``gap`` of each other into one growing window per user; the watermark
    is what lets the state store finalize (and evict) sessions once event
    time passes their close. AvailableNow + complete output drains the
    static source, so the final state equals the batch session aggregation
    — verified against the same gaps-and-islands oracle as the batch
    ``session_windows`` query.

    Scale: state is keyed by (user, open session); the watermark bounds it
    to sessions whose close is within ``watermark`` of the stream's event
    time — without it, 100 TB of users would accumulate state forever."""
    with _event_drain(spark, sf_dir) as drain:
        stream = drain.stream()
        agg = (
            stream.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "session_start"
                ),
                "n",
            )
        )
        return _memory_drain(agg, "complete")


def windowed_event_counts_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.9's seventh operator: the same tumbling windowed aggregation
    delivered through the **foreachBatch** bridge (streaming/sink.py)
    instead of the memory sink — each micro-batch's complete aggregate
    overwrites a parquet dataset, the pattern that feeds streaming results
    into ANY batch sink (JDBC/COPY included). AvailableNow drains the
    static source, so the final parquet equals the batch aggregation and
    the stream_window_counts oracle applies verbatim."""
    import shutil
    import tempfile

    from pandas_to_postgres_spark.streaming.sink import stream_to_batch_sink

    base = tempfile.mkdtemp(prefix="stream_fb_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def writer(batch_df: DataFrame, batch_id: int) -> None:
        # complete mode: every batch carries the full aggregate — the last
        # overwrite wins and equals the drained-stream state
        batch_df.write.mode("overwrite").parquet(out)

    with _event_drain(spark, sf_dir) as drain:
        agg = _windowed_agg(drain.stream())
        q = stream_to_batch_sink(
            agg, writer, checkpoint_dir=ckpt, output_mode="complete"
        )
        q.awaitTermination()
    # localCheckpoint SEVERS lineage (cache() does not — an evicted
    # block would recompute from the deleted temp path); eager so the
    # materialization happens before the rmtree
    result = spark.read.parquet(out).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return result


def streaming_dedup_events(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful streaming deduplication: ``dropDuplicates`` on event_id
    under a watermark — the streaming twin of exact dedup (D1).

    The watermark bounds the dedup state: an id older than the watermark
    is evicted, so state is O(events within the watermark horizon), not
    O(stream) — the only formulation that survives an unbounded stream.
    Drained with AvailableNow + append mode; on this static source the
    result equals batch DISTINCT, which is the oracle."""
    with _event_drain(spark, sf_dir) as drain:
        stream = drain.stream()
        deduped = (
            stream.withWatermark("ts", watermark)
            .dropDuplicates(["event_id", "ts"])
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            )
        )
        return _memory_drain(deduped, "append")


def stream_static_enrichment(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static join: the event stream enriched with the (static)
    customer dimension, then aggregated per market segment and event type.

    The static side is re-read per micro-batch by Structured Streaming's
    stream-static join rules — no state is kept for it, and Catalyst
    broadcasts it when small. At 100 TB of stream: the stateful side is
    only the windowless global agg here; with event-time windows the
    watermark bounds state exactly as in `windowed_event_counts`.
    """
    from pandas_to_postgres_spark.sources.parquet import load_table

    with _event_drain(spark, sf_dir) as drain:
        stream = drain.stream()
        customers = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        joined = (
            stream.withWatermark("ts", watermark)
            .join(customers, stream.user_id == customers.c_custkey)
            .groupBy("c_mktsegment", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("total_value"),
            )
        )
        return _memory_drain(joined, "complete")


def stream_stream_purchase_clicks(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: purchases joined to the same user's clicks
    from the preceding hour — both sides are genuine streams with
    watermarks, so the join keeps bounded state (each side buffers only
    rows younger than watermark + the 1-hour join range; older state is
    evicted).

    At 100 TB of stream this is THE stateful operator to size carefully:
    state ~ (events/hour) x 2 sides x bytes/row per user partition; the
    time-range predicate is what lets Spark prune state — an unbounded
    condition would grow state forever.
    """
    # target_rows=0: no pre-join widening — the join's own stateful
    # exchange is this query's first real operator, so a widening
    # repartition ahead of it is a pure extra raw-row shuffle
    with _event_drain(spark, sf_dir, target_rows=0) as drain:

        def one_stream(alias: str) -> DataFrame:
            return drain.stream().withWatermark("ts", watermark).alias(alias)

        p = one_stream("p").filter(F.col("event_type") == "purchase")
        c = one_stream("c").filter(F.col("event_type") == "click")
        joined = p.join(
            c,
            F.expr(
                "p.user_id = c.user_id AND "
                "c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
            ),
        ).select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
        )
        return _memory_drain(joined, "append")


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup on event_id ALONE via Spark 3.5+
    ``dropDuplicatesWithinWatermark`` — the API for the real-world case
    classic ``dropDuplicates`` cannot bound: the same id re-sent with a
    JITTERED timestamp (retries, at-least-once producers). With ts out of
    the dedup key, plain dropDuplicates would keep every id in state
    forever; WithinWatermark instead guarantees dedup among arrivals
    whose event times fall within the watermark delay of each other and
    EVICTS ids once the watermark passes them — state is again
    O(watermark horizon), not O(stream).

    Output is the surviving event_id set (which copy wins is processing-
    order dependent; the id set is not), so the AvailableNow drain of
    this static source equals batch DISTINCT event_id — the oracle.
    """
    with _event_drain(spark, sf_dir) as drain:
        stream = drain.stream()
        deduped = (
            stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )
        return _memory_drain(deduped, "append")


def trending_event_types(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
    k: int = 3,
) -> DataFrame:
    """Per-window trending top-k: the STREAM maintains the (window x type)
    counts — the part that must be incremental and watermark-bounded —
    and the rank is applied to the drained sink table, exactly how a
    trending dashboard reads a streaming state store (rank windows are
    not allowed inside a streaming aggregation; ranking the emitted
    aggregate is both the legal and the cheap formulation: the sink holds
    windows x types rows, not events).

    Ties break by event_type so the top-k is deterministic and
    oracle-comparable. Returns (window_start, event_type, n, rank).
    """
    from pyspark.sql.window import Window

    counts = windowed_event_counts(spark, sf_dir, window_duration, watermark)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("window_start", "event_type", "n", "rank")
    )


def windowed_bin_psi(
    spark: SparkSession,
    sf_dir: str,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    bin_width: float = 50.0,
    num_bins: int = 10,
) -> DataFrame:
    """Continuous drift monitoring: the STREAM maintains per-window value
    histograms (the incremental, watermark-bounded part); after the drain
    each window's distribution is scored against the whole stream's with
    the PSI formula (Laplace +1 smoothing). A production monitor compares
    against a FROZEN training-time reference instead of the stream total —
    same joins, different reference frame.

    Returns one row per window: (window_start, psi). Scale: streaming
    state is windows x bins rows; the scoring joins are bins-sized.
    """
    with _event_drain(spark, sf_dir) as drain:
        stream = drain.stream()
        bin_col = F.least(
            F.floor(F.col("value") / bin_width), F.lit(num_bins - 1)
        ).alias("bin")
        agg = (
            stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_duration).alias("w"), bin_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "bin",
                "n",
            )
        )
        drained = _memory_drain(agg, "complete")
    # materialize: the window spine derives FROM the drained table and
    # joins back to it — on the raw memory-sink relation that is a
    # conflicting-reference self-join; the checkpointed copy self-joins
    # cleanly (and is windows x bins tiny)
    drained = drained.localCheckpoint(eager=True)

    from pyspark.sql.window import Window as W

    from pandas_to_postgres_spark.functions.agg import grid_round

    # dense (window x bin) spine so empty bins smooth to 1 on both sides
    windows = drained.select("window_start").distinct()
    bins = spark.range(num_bins).select(F.col("id").alias("bin"))
    spine = windows.crossJoin(F.broadcast(bins))
    cur = spine.join(drained, ["window_start", "bin"], "left").select(
        "window_start",
        "bin",
        (F.coalesce("n", F.lit(0)) + 1).alias("n_cur"),
    )
    ref = (
        drained.groupBy("bin")
        .agg(F.sum("n").alias("rn"))
        .join(bins, "bin", "right")
        .select("bin", (F.coalesce("rn", F.lit(0)) + 1).alias("n_ref"))
    )
    ref_tot = ref.agg(F.sum("n_ref").alias("rt"))
    joined = cur.join(F.broadcast(ref), "bin").crossJoin(F.broadcast(ref_tot))
    w_win = W.partitionBy("window_start")
    p = F.col("n_cur").cast("double") / F.sum("n_cur").over(w_win).cast("double")
    q_ = F.col("n_ref").cast("double") / F.col("rt").cast("double")
    term = (p - q_) * F.log(p / q_)
    return (
        joined.select("window_start", term.alias("t"))
        .groupBy("window_start")
        .agg(
            grid_round(
                F.sum(F.col("t").cast("decimal(18,12)")).cast("double"), 8
            ).alias("psi")
        )
    )


def stream_scd2_enrich(
    spark: SparkSession,
    sf_dir: str,
    change_ts: str = "2024-01-05 12:00:00",
) -> DataFrame:
    """Streaming POINT-IN-TIME dimension lookup: each event is enriched
    with the SCD2 dimension version valid AT THE EVENT'S TIMESTAMP — the
    temporal join every warehouse runs against slowly-changing dimensions,
    executed inside Structured Streaming as a stream-static join whose
    condition is (key equality AND valid_from <= ts < valid_to).

    The versioned dimension here is derived deterministically from the
    customer table (version 1 carries the market segment until
    ``change_ts``, version 2 carries the post-change label after), so the
    batch oracle replays the exact same lookup with a plain range join.

    Scale: the static SCD2 side is re-read per micro-batch under
    stream-static join rules — NO streaming state is kept for it (append
    mode, no watermark required for a stream-static inner join); Catalyst
    plans the key equality as the join condition and the validity range
    as a post-join filter, so the per-batch cost is one broadcast (or
    shuffled-hash at big-dim scale) equi-join. Exactly one version
    matches per event because SCD2 intervals partition time.
    """
    stream = _event_stream(spark, sf_dir)
    from pandas_to_postgres_spark.sources.parquet import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    chg = F.lit(change_ts).cast("timestamp")
    v1 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("tier"),
        F.lit("1970-01-01").cast("timestamp").alias("valid_from"),
        chg.alias("valid_to"),
    )
    v2 = cust.select(
        "c_custkey",
        F.concat(F.col("c_mktsegment"), F.lit("+")).alias("tier"),
        chg.alias("valid_from"),
        F.lit("2100-01-01").cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    joined = stream.join(
        dim,
        (stream.user_id == dim.c_custkey)
        & (stream.ts >= dim.valid_from)
        & (stream.ts < dim.valid_to),
    ).select("event_id", "user_id", "tier")
    return _memory_drain(joined, "append")
