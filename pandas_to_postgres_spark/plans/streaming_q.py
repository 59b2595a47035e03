"""Streaming query registration (SURVEY.md §2.9).

The batch-equivalent oracle works because AvailableNow drains the whole
(static) source and ``complete`` output mode emits every window regardless of
the watermark — so the stream's final state equals the batch aggregation,
which DuckDB can compute with time_bucket (10-minute buckets align on both
engines: both origins are at :00)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pandas_to_postgres_spark.functions.agg import dsum_sql
from pandas_to_postgres_spark.plans.analytics import (
    _CMS_ORACLE,
    _HLL_ORACLE,
    _cms_counters,
    _cms_topk,
    _hll_estimate,
    _hll_registers,
)
from pandas_to_postgres_spark.plans.registry import register
from pandas_to_postgres_spark.streaming.events import windowed_event_counts


@register(
    "stream_window_counts",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: tumbling event-time windows via a real Structured Streaming
    query (watermark + memory sink + AvailableNow), oracle-checked against
    the equivalent batch SQL."""
    return windowed_event_counts(spark, sf_dir)


@register(
    "stream_sliding_counts",
    oracle=f"""
    WITH contrib AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
               event_type, value
        FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM contrib GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: SLIDING event-time windows (10 min width, 5 min slide) — each
    event lands in exactly two windows; the oracle materializes the same
    two-bucket contribution with a UNION ALL."""
    return windowed_event_counts(spark, sf_dir, "10 minutes", "1 hour", "5 minutes")


@register(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9/X: custom stateful streaming operator
    (``applyInPandasWithState``) — per-user running totals with explicit
    state, drained to completion; final state equals the batch aggregation
    (the oracle)."""
    from pandas_to_postgres_spark.streaming.stateful import stateful_user_totals

    return stateful_user_totals(spark, sf_dir)


@register(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: stateful streaming dedup — dropDuplicates(event_id, ts) under
    a 1-hour watermark (bounded state), drained with AvailableNow. event_id
    is unique in the fixture, so the oracle is the full projection; the
    operator's job is the stateful plumbing, which pytest exercises with a
    planted-duplicate stream."""
    from pandas_to_postgres_spark.streaming.events import streaming_dedup_events

    return streaming_dedup_events(spark, sf_dir)


@register(
    "stream_static_join",
    oracle=f"""
    SELECT c_mktsegment, event_type,
           count(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: stream-static join — the event stream enriched with the
    static customer dimension inside a Structured Streaming query, then
    aggregated. Oracle-checked against the equivalent batch join SQL."""
    from pandas_to_postgres_spark.streaming.events import stream_static_enrichment

    return stream_static_enrichment(spark, sf_dir)


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: stream-stream inner join with watermarks and a time-range
    condition (bounded state, eviction past watermark + range) —
    oracle-checked against the equivalent batch range join."""
    from pandas_to_postgres_spark.streaming.events import (
        stream_stream_purchase_clicks,
    )

    return stream_stream_purchase_clicks(spark, sf_dir)


@register(
    "stream_foreachbatch_counts",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_foreachbatch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 (7th operator): the tumbling windowed aggregate delivered via
    the foreachBatch streaming→batch-sink bridge (checkpointed, epoch-aware
    — streaming/sink.py) rather than the memory sink; same oracle as
    stream_window_counts because AvailableNow drains the static source."""
    from pandas_to_postgres_spark.streaming.events import (
        windowed_event_counts_foreachbatch,
    )

    return windowed_event_counts_foreachbatch(spark, sf_dir)


@register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: gap-based session windows as a REAL streaming query
    (session_window + watermark state eviction + AvailableNow drain) —
    the dynamic-window counterpart of the fixed tumbling/sliding windows
    above, sharing the batch ``session_windows`` gaps-and-islands oracle."""
    from pandas_to_postgres_spark.streaming.events import session_window_counts

    return session_window_counts(spark, sf_dir)


@register(
    "stream_dedup_within_wm",
    oracle="SELECT DISTINCT event_id FROM events",
)
def stream_dedup_within_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: Spark 3.5+ ``dropDuplicatesWithinWatermark`` — dedup on
    event_id ALONE (timestamp excluded from the key, so retried ids with
    jittered timestamps collapse) with state still evicted by the
    watermark. Output is the surviving id set; pytest exercises the
    planted-jittered-duplicate stream, the driver checks the id set
    against batch DISTINCT."""
    from pandas_to_postgres_spark.streaming.events import (
        streaming_dedup_within_watermark,
    )

    return streaming_dedup_within_watermark(spark, sf_dir)


@register(
    "stream_trending_topk",
    oracle="""
    WITH counts AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                 AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT window_start, event_type, n,
             CAST(row_number() OVER (PARTITION BY window_start
                                     ORDER BY n DESC, event_type) AS BIGINT)
                 AS rank
      FROM counts)
    SELECT window_start, event_type, n, rank FROM ranked WHERE rank <= 3
    """,
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 composition: trending top-3 event types per tumbling hour —
    the stream maintains watermark-bounded (window x type) counts, the
    rank reads the drained sink (rank windows are illegal inside a
    streaming agg; ranking the emitted aggregate is the dashboard-side
    formulation and touches windows x types rows, never events)."""
    from pandas_to_postgres_spark.streaming.events import trending_event_types

    return trending_event_types(spark, sf_dir)


@register(
    "stream_psi_monitor",
    oracle="""
    WITH binned AS (
      SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S')
                 AS window_start,
             least(floor(value / 50), 9) AS bin
      FROM events),
    counts AS (SELECT window_start, bin, count(*) AS n
               FROM binned GROUP BY 1, 2),
    wins AS (SELECT DISTINCT window_start FROM counts),
    bins AS (SELECT b.b AS bin FROM range(0, 10) b(b)),
    cur AS (
      SELECT w.window_start, bins.bin,
             CAST(coalesce(c.n, 0) + 1 AS BIGINT) AS n_cur
      FROM wins w CROSS JOIN bins
      LEFT JOIN counts c
        ON c.window_start = w.window_start AND c.bin = bins.bin),
    ref AS (
      SELECT bins.bin, CAST(coalesce(r.rn, 0) + 1 AS BIGINT) AS n_ref
      FROM bins LEFT JOIN
           (SELECT bin, sum(n) AS rn FROM counts GROUP BY bin) r
        ON r.bin = bins.bin),
    rt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS rt FROM ref),
    ct AS (SELECT window_start, CAST(sum(n_cur) AS BIGINT) AS wt
           FROM cur GROUP BY window_start),
    terms AS (
      SELECT cur.window_start,
             (CAST(n_cur AS DOUBLE) / CAST(wt AS DOUBLE)
              - CAST(n_ref AS DOUBLE) / CAST(rt.rt AS DOUBLE))
             * ln((CAST(n_cur AS DOUBLE) / CAST(wt AS DOUBLE))
                  / (CAST(n_ref AS DOUBLE) / CAST(rt.rt AS DOUBLE))) AS t
      FROM cur
      JOIN ct ON ct.window_start = cur.window_start
      JOIN ref ON ref.bin = cur.bin
      CROSS JOIN rt)
    SELECT window_start,
           floor(CAST(sum(CAST(t AS DECIMAL(18,12))) AS DOUBLE) * 1e8 + 0.5)
             / 1e8 AS psi
    FROM terms GROUP BY window_start
    """,
)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + drift composition: continuous PSI monitoring — the stream
    maintains watermark-bounded per-day value histograms (windows x bins
    state rows), and each drained window's distribution is PSI-scored
    against the stream-wide reference (a production monitor freezes a
    training-time reference instead — same joins). Complements the batch
    `psi_drift_events` with the always-on form every deployed model
    wants; term sums go through DECIMAL so the per-window score is
    partition-invariant."""
    from pandas_to_postgres_spark.streaming.events import windowed_bin_psi

    return windowed_bin_psi(spark, sf_dir)


@register(
    "stream_scd2_enrich",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS tier,
             TIMESTAMP '1970-01-01 00:00:00' AS vf,
             TIMESTAMP '2024-01-05 12:00:00' AS vt
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment || '+',
             TIMESTAMP '2024-01-05 12:00:00',
             TIMESTAMP '2100-01-01 00:00:00'
      FROM customer)
    SELECT event_id, user_id, tier
    FROM events JOIN dim
      ON user_id = c_custkey AND ts >= vf AND ts < vt
    """,
)
def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 + SCD2 composition: streaming point-in-time dimension lookup —
    each event enriched with the dimension version valid at its event
    time via a stream-static join with a validity-range condition;
    oracle-checked against the equivalent batch range join."""
    from pandas_to_postgres_spark.streaming.events import (
        stream_scd2_enrich as _impl,
    )

    return _impl(spark, sf_dir)


def _stream_neardup_oracle() -> str:
    """DuckDB replay of the FULL streaming LSH pipeline — valid because
    the stream side only ever joins the STATIC corpus index, so the
    result is micro-batch-invariant and equals this batch computation.
    Same md5-basis MinHash replay as `minhash_lsh_checked`, made
    asymmetric: corpus side capped at 200/bucket (ordered by doc_id),
    batch side (60%-truncated planted twins, ids + 1e6) uncapped."""
    from pandas_to_postgres_spark.operators.dedup import (
        MINHASH_MD5_A,
        MINHASH_MD5_B,
    )

    a_lit = "[" + ",".join(str(v) for v in MINHASH_MD5_A) + "]"
    b_lit = "[" + ",".join(str(v) for v in MINHASH_MD5_B) + "]"
    toks = ("list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
            " x -> x <> '')")

    def pipe(src: str, pre: str) -> str:
        return f"""
    {pre}tok AS (
      SELECT doc_id, {toks} AS toks FROM {src}),
    {pre}sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN length(toks) >= 3 THEN
               list_transform(generate_series(1, length(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [array_to_string(toks, ' ')] END) AS sh
      FROM {pre}tok),
    {pre}ms AS (
      SELECT doc_id,
             list_transform(sh, s ->
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS ms
      FROM {pre}sh),
    {pre}sig AS (
      SELECT doc_id,
             list_transform(generate_series(0, 31), j ->
               list_min(list_transform(ms, m ->
                 ({a_lit}[j+1] * (m % 1073741824) + {b_lit}[j+1])
                 % 2147483647))) AS sig
      FROM {pre}ms),
    {pre}banded AS (
      SELECT doc_id, g.g AS band_idx,
             array_to_string(list_transform(
               sig[g.g*4+1 : g.g*4+4], x -> CAST(x AS VARCHAR)), '|')
               AS band_key
      FROM {pre}sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS g) g)"""

    return f"""
    WITH batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             substr(text, 1, CAST((n_chars * 6) // 10 AS INT)) AS text
      FROM documents),
    {pipe('documents', 'c')},
    {pipe('batch', 'b')},
    capped AS (
      SELECT doc_id, band_idx, band_key
      FROM (SELECT *, row_number() OVER (
              PARTITION BY band_idx, band_key ORDER BY doc_id) AS rn
            FROM cbanded)
      WHERE rn <= 200),
    cand AS (
      SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
      FROM bbanded b JOIN capped c
        ON b.band_idx = c.band_idx AND b.band_key = c.band_key),
    verified AS (
      SELECT cand.new_id, cand.corpus_id,
             length(list_intersect(mn.ms, mc.ms)) AS i,
             length(mn.ms) + length(mc.ms)
               - length(list_intersect(mn.ms, mc.ms)) AS u
      FROM cand
      JOIN bms mn ON mn.doc_id = cand.new_id
      JOIN cms mc ON mc.doc_id = cand.corpus_id)
    SELECT new_id, corpus_id,
           CAST(i * 1000000 // u AS BIGINT) AS jaccard_micro
    FROM verified
    WHERE i * 1000000 >= 400000 * u
    """


@register("stream_neardup_docs", oracle=_stream_neardup_oracle())
def stream_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 x §2.11 composition: ONLINE near-dup detection — a stream of
    new documents (planted 60%-truncated twins) LSH-matched per
    micro-batch against the static corpus MinHash index via
    stream-static band joins, verified with exact integer-micro Jaccard
    (`streaming/neardup.py`). The md5 signature basis makes the ENTIRE
    streaming pipeline DuckDB-replayable, so this is a value-checked
    streaming query, not rows-only — and because each new document
    matches only the static index, the result is provably micro-batch-
    boundary-invariant (the property the oracle relies on)."""
    from pandas_to_postgres_spark.streaming.neardup import (
        stream_neardup_against_corpus,
    )

    return stream_neardup_against_corpus(spark, sf_dir)


@register(
    "stream_incremental_mv",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY event_type
    """,
)
def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × snapshot-table composition: INCREMENTAL materialized-view
    maintenance over the snapshot change feed (the bronze→silver
    medallion pipeline, `streaming/mv.py`). Three bronze publishes, three
    delta-only availableNow refreshes on one checkpoint; each refresh
    folds the batch to per-key partials and lands through ONE
    copy-on-write merge into the silver rollup table, with a per-key
    applied_batch stamp making redelivery add nothing. The final silver
    content must equal the one-shot batch aggregate — which is the
    oracle. Refresh cost tracks the DELTA, not the table: at 100 TB the
    per-refresh work is the batch fold plus a touched-file-only merge,
    never a bronze re-aggregation."""
    from pandas_to_postgres_spark.streaming.mv import (
        incremental_event_rollup,
    )

    return incremental_event_rollup(spark, sf_dir)


@register("stream_hll_distinct", min_rows=1, oracle=_HLL_ORACLE)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketch composition: the HyperLogLog register table
    MAINTAINED BY A STREAM — a complete-mode ``groupBy(bucket).max(rho)``
    over the event stream IS the register state (per-bucket max is the
    HLL merge, so micro-batches fold associatively and the state is
    O(m) = 1024 rows regardless of stream length — the only
    cardinality-tracking formulation that survives an unbounded
    stream). AvailableNow drains the static source, so the final
    registers equal the batch sketch and ``hll_distinct_users``'s exact
    oracle applies verbatim — the estimator arithmetic is the same
    integer-exact fold."""
    import shutil
    import tempfile

    from pandas_to_postgres_spark.sources.parquet import load_table
    from pandas_to_postgres_spark.streaming.sink import stream_to_batch_sink

    # width-corrected shared source (streaming/events.py::_event_drain):
    # file-bound microbatches widen so the per-row hash fold below runs
    # pool-wide, not one task per source file (no-op at multi-file
    # scale); the ts normalization it adds is pruned away by the
    # optimizer when unused. The tight rows-per-task target reflects the
    # per-row md5+conv cost — far heavier than the windowed counts the
    # default target is sized for (r11: the volume-aware gate).
    from pandas_to_postgres_spark.streaming.events import _event_drain

    base = tempfile.mkdtemp(prefix="stream_hll_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def writer(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    with _event_drain(spark, sf_dir, target_rows=8192) as drain:
        regs = _hll_registers(drain.stream())
        q = stream_to_batch_sink(
            regs, writer, checkpoint_dir=ckpt, output_mode="complete"
        )
        q.awaitTermination()
    # Materialize the sketch-sized state (<=1024 register rows by
    # construction) into a SOURCE-INDEPENDENT frame before deleting the
    # temp dir — cache() is not a persistence guarantee; an evicted block
    # would recompute from the deleted path and fail.
    drained = spark.read.parquet(out)
    reg = spark.createDataFrame(drained.collect(), drained.schema)
    shutil.rmtree(base, ignore_errors=True)
    return _hll_estimate(reg, load_table(spark, sf_dir, "events"))


@register("stream_cms_topk", min_rows=10, oracle=_CMS_ORACLE)
def stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketch composition #2: the Count-Min counter table
    MAINTAINED BY A STREAM — a complete-mode ``groupBy(j, cell).count``
    over the event stream IS the sketch state (counters merge by ADD
    across micro-batches, so the state is ≤ d·w = 4096 rows forever —
    the frequency twin of ``stream_hll_distinct``'s register table).
    AvailableNow drains the static source, so the drained counters
    equal the batch sketch and ``cms_heavy_hitters``'s exact oracle
    applies verbatim: the 10 heaviest users' min-over-rows estimates
    beside their exact counts.

    Scale: per micro-batch the update is a map-combined fan-out of d=4
    cells/row; the complete-mode state and its per-epoch rewrite are
    sketch-sized, never data-sized — this is the shape of a streaming
    heavy-hitters monitor that runs forever on an unbounded topic."""
    import shutil
    import tempfile

    from pandas_to_postgres_spark.sources.parquet import load_table
    from pandas_to_postgres_spark.streaming.sink import stream_to_batch_sink

    # width-corrected shared source (streaming/events.py::_event_drain):
    # file-bound microbatches widen so the 4x per-row md5 cell hashing
    # below runs pool-wide, not one task per source file (no-op at
    # multi-file scale); the ts normalization it adds is pruned away by
    # the optimizer when unused. Tight rows-per-task target: the per-row
    # work here is 4 md5+conv folds, far heavier than a windowed count
    # (r11: the volume-aware gate).
    from pandas_to_postgres_spark.streaming.events import _event_drain

    base = tempfile.mkdtemp(prefix="stream_cms_")
    out, ckpt = f"{base}/out", f"{base}/ckpt"

    def writer(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    with _event_drain(spark, sf_dir, target_rows=8192) as drain:
        counters_stream = _cms_counters(drain.stream())
        q = stream_to_batch_sink(
            counters_stream,
            writer,
            checkpoint_dir=ckpt,
            output_mode="complete",
        )
        q.awaitTermination()
    # Materialize the sketch-sized state (<=4096 counter rows by
    # construction) into a SOURCE-INDEPENDENT frame before deleting the
    # temp dir — cache() is not a persistence guarantee; an evicted block
    # would recompute from the deleted path and fail.
    drained = spark.read.parquet(out)
    counters = spark.createDataFrame(drained.collect(), drained.schema)
    shutil.rmtree(base, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return _cms_topk(counters, ev)
