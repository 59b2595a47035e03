"""Round-3 analytics operators: entity resolution, time-series repair,
cohort analysis, robust stats, LM-based quality scoring, semantic dedup.

Each query is registered past the driver's 50-slot window (the window
composition is held fixed for round-over-round comparability — see
plans/__init__.py); the oracle check runs in tests/test_correctness.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pandas_to_postgres_spark.functions.agg import davg, davg_sql, dsum_sql, grid_round
from pandas_to_postgres_spark.functions.text import tokens_expr
from pandas_to_postgres_spark.operators.joins import interval_overlap_pairs
from pandas_to_postgres_spark.operators.kmeans import semantic_near_duplicates
from pandas_to_postgres_spark.plans.registry import register
from pandas_to_postgres_spark.sources.parquet import load_table

_RAW_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')"
)


@register(
    "fuzzy_join_parts",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    keys AS (
        SELECT p_name, 'F' || substr(p_name, 1, 1) AS bk FROM names
        UNION ALL
        SELECT p_name, 'L' || right(p_name, 1) AS bk FROM names),
    pairs AS (
        SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
        FROM keys a JOIN keys b USING (bk)
        WHERE a.p_name < b.p_name)
    SELECT name_a, name_b, levenshtein(name_a, name_b) AS edit_dist
    FROM pairs
    WHERE levenshtein(name_a, name_b) <= 4
    """,
)
def fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: fuzzy self-join of part names under edit distance,
    with multi-pass blocking (first-char AND last-char keys, unioned) so no
    all-pairs comparison ever runs — the record-linkage primitive for
    catalog/vendor-feed reconciliation.

    Scale: names are collapsed to DISTINCT first (the 100 TB fact table
    never enters the pair space), each blocking pass is an equi-join on its
    block key, and the two passes union+distinct BEFORE the O(len^2)
    levenshtein runs once per distinct candidate pair. Recall is the usual
    blocking contract: a matching pair is found iff it agrees on first OR
    last character — multi-pass blocking exists precisely to stack such
    passes until the miss rate is acceptable."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    fkey = F.concat(F.lit("F"), F.substring("p_name", 1, 1))
    lkey = F.concat(F.lit("L"), F.expr("right(p_name, 1)"))
    keys = names.select(F.col("p_name"), fkey.alias("bk")).unionAll(
        names.select(F.col("p_name"), lkey.alias("bk"))
    )
    a = keys.select(F.col("p_name").alias("name_a"), "bk")
    b = keys.select(F.col("p_name").alias("name_b"), "bk")
    pairs = (
        a.join(b, "bk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return pairs.filter(dist <= 4).select(
        "name_a", "name_b", dist.alias("edit_dist")
    )


@register(
    "interpolate_events",
    oracle=f"""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
    daily AS (SELECT user_id, day, {davg_sql('value', 6)} AS v
              FROM ev GROUP BY user_id, day),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             FROM ev GROUP BY user_id),
    spine AS (SELECT user_id, CAST(d AS DATE) AS day
              FROM (SELECT user_id,
                           unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                  CAST(d1 AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS d
                    FROM span)),
    g AS (SELECT s.user_id, s.day, daily.v
          FROM spine s LEFT JOIN daily
            ON s.user_id = daily.user_id AND s.day = daily.day),
    w AS (SELECT user_id, day, v,
        last_value(v IGNORE NULLS) OVER pw AS prev_v,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
            OVER pw AS prev_d,
        first_value(v IGNORE NULLS) OVER nw AS next_v,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
            OVER nw AS next_d
      FROM g
      WINDOW pw AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             nw AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN prev_v IS NULL THEN next_v
                       WHEN next_v IS NULL THEN prev_v
                       ELSE prev_v + (next_v - prev_v) *
                            (CAST(datediff('day', prev_d, day) AS DOUBLE)
                             / datediff('day', prev_d, next_d))
                  END) * 10000 + 0.5) / 10000 AS value_filled,
           (v IS NULL) AS interpolated
    FROM w
    """,
)
def interpolate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series repair: per-user daily averages on a gap-free date spine,
    missing days filled by LINEAR INTERPOLATION between the nearest observed
    neighbors (boundary gaps fall back to nearest-value fill).

    Scale shape: one groupBy(user, day) for the dailies, one groupBy(user)
    + `sequence()` explode for the spine (rows ∝ span length, generated
    distributed — no driver-side calendar), a co-partitioned left join, and
    two frame-bounded window passes per user. Nothing global: every stage
    keys on user_id, so 100 TB of events shards by user. Daily means go
    through decimal partial sums (order-independent) and the interpolation
    arithmetic is written identically in both engines, so results are
    bit-stable across engines and partitionings."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy("user_id", "day").agg(davg(F.col("value"), 6).alias("v"))
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    g = spine.join(daily, ["user_id", "day"], "left")
    pw = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nw = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last("v", ignorenulls=True).over(pw)
    prev_d = F.last(
        F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True
    ).over(pw)
    next_v = F.first("v", ignorenulls=True).over(nw)
    next_d = F.first(
        F.when(F.col("v").isNotNull(), F.col("day")), ignorenulls=True
    ).over(nw)
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(
            prev_v
            + (next_v - prev_v)
            * (
                F.datediff(F.col("day"), prev_d).cast("double")
                / F.datediff(next_d, prev_d)
            )
        )
    )
    # dates travel as ISO strings: DuckDB's pandas bridge turns DATE into
    # datetime64 (midnight timestamp), which would hash-mismatch a true date.
    # Rounding is floor(x*10^4 + 0.5)/10^4 rather than round(): Spark's
    # round() decides half-way ties on the double's DECIMAL REPR (BigDecimal
    # of Double.toString) while DuckDB decides on the binary value, and
    # midpoints of 6dp dailies land exactly on repr-half boundaries (e.g.
    # (57.9825+35.912)/2 = 46.94725 → Spark 46.9473, DuckDB 46.9472). The
    # floor form makes both engines decide on the SAME double, bit-stably.
    return g.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        (F.floor(filled * 10000 + F.lit(0.5)) / 10000).alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


@register(
    "cohort_retention",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    firsts AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
    SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
           CAST(floor(CAST(datediff('day', f.cohort_day, e.day) AS DOUBLE)
                      / 7) AS BIGINT) AS week_off,
           count(DISTINCT e.user_id) AS n_users
    FROM ev e JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted per
    week-offset of later activity — the product-analytics staple.

    Scale: the firsts frame is a groupBy(user_id) reduction; joining it
    back to events is an equi-join on the same key (co-partitioned with the
    reduction that produced it — one shuffle serves both), and the final
    distinct-count shuffles (cohort_day, week_off, user) triples that
    partial-dedup map-side. Nothing driver-side, nothing all-pairs."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    week_off = F.floor(
        F.datediff(F.col("day"), F.col("cohort_day")).cast("double") / 7
    ).cast("long")
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            week_off.alias("week_off"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "winsorized_stats",
    oracle=f"""
    WITH pct AS (
        SELECT event_type,
               round(quantile_cont(value, 0.05), 6) AS p05,
               round(quantile_cont(value, 0.95), 6) AS p95
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           min(p05) AS p05,
           min(p95) AS p95,
           {davg_sql('least(greatest(e.value, p05), p95)', 4)} AS win_avg,
           count(*) AS n
    FROM events e JOIN pct USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: per-group 5%/95% winsorized mean — values are
    clipped to the exact percentile band before averaging, so a handful of
    corrupt outliers can't move the metric.

    Scale: the percentile frame is one small per-group aggregate (exact
    percentile DOES need the group's values together — that is the
    operator's semantics; for sketch-grade needs `percentiles_price` shows
    approx_percentile). It then broadcasts back onto the fact scan, and the
    clipped mean is an ordinary map-side-combinable decimal aggregation.
    Thresholds are rounded to 6 decimals in BOTH engines before clipping,
    so band membership is engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.05)), 6).alias("p05"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("p05").alias("p05"),
            F.min("p95").alias("p95"),
            davg(clipped, 4).alias("win_avg"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_RAW_TOKS_SQL}) AS tok FROM documents),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    totals AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab)
    SELECT t.doc_id,
           count(*) AS n_toks,
           {davg_sql('log10(CAST(v.c AS DOUBLE) / totals.total)', 4)}
               AS avg_logprob
    FROM toks t
    JOIN vocab v USING (tok)
    CROSS JOIN totals
    GROUP BY t.doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring: fit a corpus unigram model (token → count)
    in-engine, then score each document by its mean log10 token probability
    — the cheap first-pass perplexity filter (CCNet-style) that flags
    gibberish and boilerplate without an external model.

    Scale: the vocab is a map-side-combinable token count; the scalar
    total rides a broadcast 1-row crossJoin (never a collect); scoring is
    one equi-join on token (vocab is Zipf-small relative to the corpus and
    broadcastable after pruning, but the equi-join also shards fine); the
    per-doc mean goes through decimal sums so scores are reproducible
    across engines, partitionings and reruns."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_expr(F.lower(F.col("text")))).alias("tok")
    )
    # cache: the vocab (Zipf-small relative to the corpus) feeds both the
    # scoring join AND the totals scalar — uncached, the totals branch
    # re-scans and re-tokenizes the whole corpus a third time
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).cache()
    totals = vocab.agg(F.sum("c").alias("total"))
    logprob = F.log10(F.col("c").cast("double") / F.col("total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            davg(logprob, 4).alias("avg_logprob"),
        )
    )


def _semdedup_oracle(k: int = 8, iters: int = 3, dim: int = 64,
                     threshold: float = 0.3) -> str:
    """DuckDB twin of the FULL SemDeDup pipeline with Lloyd's iterations
    unrolled as CTEs: data-point init (k smallest ids), argmin assignment
    (first-min ties like array_position), DECIMAL-exact centroid means
    with empty-cluster fallback to the previous centroid, and the
    within-cluster cosine join. Everything the Spark side computes is
    deterministic (kmeans.py module docstring), so even the iterative op
    is value-checked — verified exact (341/341 pairs, zero cosine diff)
    at sf0.01."""

    def sq(e, c):
        return (f"list_sum(list_transform(generate_series(1, {dim}), i -> "
                f"({e}[i] - {c}[i]) * ({e}[i] - {c}[i])))")

    def assign(name, cent):
        return (f"{name} AS (SELECT vec_id, embedding, "
                f"list_position(dl, list_min(dl)) - 1 AS cluster FROM ("
                f"SELECT vec_id, embedding, "
                f"list_transform(cents, c -> {sq('embedding', 'c')}) AS dl "
                f"FROM embeddings, {cent}))")

    def update(prev_assign, prev_cent, name):
        return (
            f"m_{name} AS (SELECT cluster, i, "
            f"CAST(sum(CAST(embedding[i] AS DECIMAL(28,12))) AS DOUBLE)"
            f" / count(*) AS m "
            f"FROM {prev_assign}, range(1, {dim + 1}) t(i) GROUP BY cluster, i), "
            f"{name} AS (SELECT list(coalesce(cv.v, prev.cents[r.c + 1])"
            f" ORDER BY r.c) AS cents "
            f"FROM range(0, {k}) r(c) "
            f"LEFT JOIN (SELECT cluster, list(m ORDER BY i) AS v FROM m_{name}"
            f" GROUP BY cluster) cv ON cv.cluster = r.c"
            f" CROSS JOIN {prev_cent} prev)")

    parts = [f"cent0 AS (SELECT list(embedding ORDER BY vec_id) AS cents FROM "
             f"(SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
             f" LIMIT {k}))"]
    prev_cent = "cent0"
    for t in range(1, iters + 1):
        parts.append(assign(f"a{t}", prev_cent))
        parts.append(update(f"a{t}", prev_cent, f"cent{t}"))
        prev_cent = f"cent{t}"
    parts.append(assign("af", prev_cent))
    dot = (f"list_sum(list_transform(generate_series(1, {dim}), i -> "
           f"CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))")
    na = (f"sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> "
          f"CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))")
    nb = (f"sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> "
          f"CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))")
    parts.append(
        f"pairs AS (SELECT a.cluster AS cluster, a.vec_id AS id_a,"
        f" b.vec_id AS id_b, {dot} / ({na} * {nb}) AS raw "
        f"FROM af a JOIN af b ON a.cluster = b.cluster"
        f" AND a.vec_id < b.vec_id)")
    return ("WITH " + ",\n".join(parts) +
            f"\nSELECT cluster, id_a, id_b,"
            f" floor(raw * 1e5 + 0.5) / 1e5 AS cosine "
            f"FROM pairs WHERE raw >= {threshold}")


@register("semantic_dedup", oracle=_semdedup_oracle())
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): deterministic k-means over the
    embedding corpus, then cosine near-duplicate pairs WITHIN each learned
    cluster — semantic dedup without labels and without a global crossJoin.

    Value-checked since round 3: every stage of the Lloyd refinement is
    deterministic (data-point init, first-min argmin, DECIMAL centroid
    means), so the DuckDB oracle unrolls the identical iterations as CTEs
    and the driver hash-compares even this iterative operator. Planted
    recall and determinism additionally pytest-asserted
    (tests/test_operators.py::TestSemanticDedup); `operators/kmeans.py`
    documents the map-only-assignment / one-shuffle-update iteration
    shape that holds at 100 TB."""
    # cache: the fit re-reads the corpus once per Lloyd iteration (plus the
    # final assignment) — at 100 TB you persist the vectors once the same way
    e = load_table(spark, sf_dir, "embeddings").cache()
    return semantic_near_duplicates(
        e, vec_col="embedding", id_col="vec_id", k=8, iters=3, threshold=0.3
    )


@register(
    "skew_profile",
    oracle="""
    WITH freq AS (
        SELECT o_custkey AS key, count(*) AS cnt
        FROM orders GROUP BY o_custkey),
    stats AS (
        SELECT CAST(max(cnt) AS BIGINT) AS max_cnt,
               round(CAST(sum(CAST(cnt AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 4) AS avg_cnt,
               count(*) AS n_keys
        FROM freq),
    top AS (SELECT key, cnt FROM freq ORDER BY cnt DESC, key LIMIT 10)
    SELECT top.key, top.cnt, stats.max_cnt, stats.avg_cnt, stats.n_keys,
           round(top.cnt / stats.avg_cnt, 4) AS skew_factor
    FROM top CROSS JOIN stats
    ORDER BY top.cnt DESC, top.key
    """,
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: per-key frequency of the orders→customer
    join key, the corpus-wide max/avg, and each hot key's skew factor —
    the pre-flight check that decides whether a 100 TB join needs salting
    (`operators/skew.salt_join`) or AQE skew-split.

    Scale: one map-side-combinable groupBy; the stats frame is a 1-row
    aggregate broadcast back via crossJoin; the hot-key list is
    TakeOrderedAndProject. Nothing driver-side — this runs as a cheap
    side-query on the same scan the real join will read."""
    o = load_table(spark, sf_dir, "orders")
    # cache: the key-cardinality freq frame feeds both the hot-key top-N
    # and the 1-row stats aggregate — uncached, the fact scans twice
    freq = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).cache()
    stats = freq.agg(
        F.max("cnt").alias("max_cnt"),
        (
            F.sum(F.col("cnt").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg_raw"),
        F.count(F.lit(1)).alias("n_keys"),
    ).select(
        "max_cnt", F.round("__avg_raw", 4).alias("avg_cnt"), "n_keys"
    )
    top = freq.orderBy(F.col("cnt").desc(), F.col("key")).limit(10)
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "key", "cnt", "max_cnt", "avg_cnt", "n_keys",
            F.round(F.col("cnt") / F.col("avg_cnt"), 4).alias("skew_factor"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key"))
    )


@register(
    "dq_checks_orders",
    oracle="""
    SELECT 'null_custkey' AS check_name,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'nonpositive_totalprice',
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'bad_status',
           CAST(count(*) FILTER (
               WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'future_orderdate',
           CAST(count(*) FILTER (
               WHERE o_orderdate > DATE '2030-01-01') AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orphan_custkey', CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
    """,
)
def dq_checks_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (Deequ-style): null / range / domain / freshness
    checks computed in ONE scan via conditional aggregation, plus a
    referential-integrity check (orders whose customer is missing) as an
    anti-join count — the pre-load validation a pipeline runs before
    promoting a batch.

    Scale: the four scan checks are a single map-side-combinable aggregate
    over one pass of the fact table (not four scans); the FK check
    anti-joins against the (much smaller) dim side, which Spark broadcasts
    here and hash-joins at 100 TB. The union is of five 1-row frames —
    negligible."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def cnt(cond):
        return F.count(F.when(cond, F.lit(1))).alias("violations")

    scan = o.agg(
        cnt(F.col("o_custkey").isNull()).alias("null_custkey"),
        cnt(F.col("o_totalprice") <= 0).alias("nonpositive_totalprice"),
        cnt(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
        cnt(F.col("o_orderdate") > F.lit("2030-01-01").cast("date")).alias(
            "future_orderdate"
        ),
    )
    checks = None
    for name in (
        "null_custkey",
        "nonpositive_totalprice",
        "bad_status",
        "future_orderdate",
    ):
        row = scan.select(
            F.lit(name).alias("check_name"), F.col(name).alias("violations")
        )
        checks = row if checks is None else checks.unionAll(row)
    orphans = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orphan_custkey").alias("check_name"), "violations")
    )
    return checks.unionAll(orphans)


@register(
    "rollup_incremental",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
           min(value) AS min_v, max(value) AS max_v
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a daily rollup: a STORED aggregate
    state (days before the cutover) is merged with a NEW batch's state
    without touching stored raw rows — the continuous-aggregate refresh
    pattern. The oracle is the full recompute over all raw events, so the
    driver check IS the incremental == full equivalence proof.

    Every measure is merge-decomposable: counts add, decimal sums add
    (order-independent), min/min and max/max combine. The merge is a
    groupBy over the UNION of two state frames keyed identically to the
    states themselves — at 100 TB the stored state is orders of magnitude
    smaller than raw history, and the batch state is one map-side-combined
    pass over the new day only."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "value"
    )
    cut = F.lit("2024-01-20").cast("date")

    def state(df: DataFrame) -> DataFrame:
        # partial-aggregate state: everything needed to finalize later
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )

    stored = state(ev.filter(F.col("day") < cut))
    batch = state(ev.filter(F.col("day") >= cut))
    merged = (
        stored.unionAll(batch)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").alias("sum_dec"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )
    return merged.select(
        F.col("day").cast("string").alias("day"),
        "event_type",
        "n",
        F.round(F.col("sum_dec"), 2).cast("double").alias("total"),
        "min_v",
        "max_v",
    )


@register("hll_shard_merge", oracle=None)  # sketch estimate: no SQL twin
def hll_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built
    into Spark 3.5+): per-shard `hll_sketch_agg` states union-merged with
    `hll_union_agg` into per-event-type distinct-user estimates — the
    store-and-merge pattern that lets 1000 executors (or 1000 daily
    snapshots) maintain distinct counts without ever re-scanning history.

    The estimate has no DuckDB twin (different sketch family), so the
    driver slot is rows-only; pytest asserts the merged estimate EQUALS
    the single-pass estimate bit-for-bit (the sketch is deterministic and
    merge-associative) and is within 5% of the exact count. KMV
    (`kmv_distinct_parts`) remains the cross-engine-checkable sketch."""
    ev = load_table(spark, sf_dir, "events")
    shards = ev.withColumn("__shard", F.col("user_id") % 4)
    per_shard = shards.groupBy("event_type", "__shard").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    return (
        per_shard.groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
                "approx_users"
            )
        )
        .orderBy("event_type")
    )


@register(
    "snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 97 <> 0),
    snap_b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 100 = 0
                    THEN round(o_totalprice * 1.1, 2)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders
        WHERE o_orderkey % 89 <> 0)
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_totalprice <> b.o_totalprice
                  OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                ELSE 'unchanged' END AS change,
           count(*) AS n,
           CAST(round(sum(CAST(coalesce(b.o_totalprice, 0)
                                - coalesce(a.o_totalprice, 0)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS price_delta
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (data-versioning primitive): classify every key across
    two table versions as added / removed / changed / unchanged via ONE
    full-outer join, with the net measure delta per class — the audit step
    between pipeline runs, and the input to an incremental downstream
    refresh. The two versions are derived deterministically from `orders`
    (version B drops some keys, adds back others, perturbs some prices).

    Scale: a single full-outer equi-join on the key — both sides shard by
    o_orderkey, AQE picks SMJ at real scale — followed by a 4-row
    map-side-combined aggregate. No collect, no all-pairs; the diff never
    materializes unchanged rows downstream (they reduce to one counter)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    snap_a = o.filter(F.col("o_orderkey") % 97 != 0)
    snap_b = o.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 100 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    a = snap_a.alias("a")
    b = snap_b.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    delta = F.coalesce(F.col("b.o_totalprice"), F.lit(0.0)) - F.coalesce(
        F.col("a.o_totalprice"), F.lit(0.0)
    )
    return j.groupBy(change.alias("change")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(delta.cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("price_delta"),
    )


@register(
    "pmi_collocations",
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_RAW_TOKS_SQL} AS tk FROM documents),
    uni AS (SELECT unnest(tk) AS w FROM tokd),
    bi AS (SELECT unnest(
               list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                              i -> tk[i] || ' ' || tk[i + 1])) AS bigram
           FROM tokd),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    bc AS (SELECT bigram, count(*) AS c_ab FROM bi GROUP BY bigram),
    tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_uni,
                   (SELECT CAST(sum(c_ab) AS BIGINT) FROM bc) AS n_bi)
    SELECT bigram, c_ab,
           round(log10((CAST(c_ab AS DOUBLE) / n_bi)
                       / ((CAST(a.c AS DOUBLE) / n_uni)
                          * (CAST(b.c AS DOUBLE) / n_uni))), 4) AS pmi
    FROM bc
    JOIN uc a ON a.w = split_part(bigram, ' ', 1)
    JOIN uc b ON b.w = split_part(bigram, ' ', 2)
    CROSS JOIN tot
    WHERE c_ab >= 5
    ORDER BY pmi DESC, bigram
    LIMIT 50
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise mutual information
    (PMI = log p(ab) / (p(a)p(b)) with a min-support cut) — the phrase /
    multi-word-expression discovery primitive for tokenizer and stopword
    curation.

    Scale: unigram and bigram counts are map-side-combinable aggregates
    over one tokenized scan each; the two scalar totals ride ONE broadcast
    1-row frame; the unigram vocab joins back onto the (much smaller
    post-support-cut) bigram frame; the top-50 is TakeOrderedAndProject on
    the ROUNDED score with a bigram tie-break, so the cut is
    deterministic cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens_expr(F.lower(F.col("text"))).alias("tk"))
    uni = toks.select(F.explode("tk").alias("w"))
    k = F.size("tk") - 1
    bigrams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = toks.select(F.explode(bigrams).alias("bigram"))
    # cache the two VOCAB-sized count frames: uc feeds the n_uni total
    # plus both join sides, bc_all feeds the support cut plus the n_bi
    # total — uncached, each reference re-scans and re-tokenizes the
    # corpus (same economics as unigram_logprob's vocab cache)
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c")).cache()
    bc_all = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab")).cache()
    bc = bc_all.filter(F.col("c_ab") >= 5)
    # n_bi counts ALL bigrams (pre-support-cut): p(ab) is a corpus
    # probability, not a probability among surviving bigrams
    tot = uc.agg(F.sum("c").alias("n_uni")).crossJoin(
        bc_all.agg(F.sum("c_ab").alias("n_bi"))
    )
    a = uc.select(F.col("w").alias("__w1"), F.col("c").alias("__c1"))
    b = uc.select(F.col("w").alias("__w2"), F.col("c").alias("__c2"))
    pmi = F.round(
        F.log10(
            (F.col("c_ab").cast("double") / F.col("n_bi"))
            / (
                (F.col("__c1").cast("double") / F.col("n_uni"))
                * (F.col("__c2").cast("double") / F.col("n_uni"))
            )
        ),
        4,
    )
    return (
        bc.withColumn("__w1", F.split("bigram", " ")[0])
        .withColumn("__w2", F.split("bigram", " ")[1])
        .join(a, "__w1")
        .join(b, "__w2")
        .crossJoin(F.broadcast(tot))
        .select("bigram", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("bigram"))
        .limit(50)
    )


@register(
    "interval_overlap_join",
    oracle="""
    WITH p AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(ts) AS a_start, max(ts) AS a_end
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS DATE)),
    err AS (
        SELECT event_id, ts AS b_start,
               ts + INTERVAL 15 MINUTE AS b_end
        FROM events WHERE event_type = 'error')
    SELECT err.event_id,
           count(*) AS n_overlaps,
           CAST(sum(datediff('microsecond',
                             greatest(a_start, b_start),
                             least(a_end, b_end))) AS BIGINT)
               AS total_overlap_usecs
    FROM p JOIN err ON a_start <= b_end AND b_start <= a_end
    GROUP BY err.event_id
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join (the temporal non-equi join): per-user daily
    purchase-activity intervals joined against 15-minute error windows
    wherever the two time ranges overlap, aggregated to overlap count and
    total overlapping seconds per error.

    Scale shape — the part that matters: a naive `a_start <= b_end AND
    b_start <= a_end` theta-join is a cartesian product in Spark
    (BroadcastNestedLoopJoin), quadratic at 100 TB. Instead each interval
    EXPLODES into the hour buckets it covers (bounded: intervals are
    day-capped, windows 15 min → ≤ 2 buckets), the join is an EQUI-join
    on the bucket timestamp, the exact overlap predicate filters the
    bucket collisions, and `distinct` removes multi-bucket duplicates.
    Candidate pairs scale with temporal co-locality (pairs per hour), not
    |A|x|B| — the same bucket-join trick `range_join_bins` and the LSH
    family use for their non-equi predicates. The oracle is the direct
    inequality join, so the driver check proves the bucketed rewrite
    exact."""
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("ts").alias("b_start"),
        F.expr("ts + INTERVAL 15 MINUTE").alias("b_end"),
    )
    pairs = interval_overlap_pairs(
        p, err, "a_start", "a_end", "b_start", "b_end", unit="hour"
    )
    # MICROSECOND, not SECOND: Spark's timestampdiff truncates elapsed
    # time while DuckDB's datediff counts boundary crossings — they differ
    # by one around sub-second offsets. At microsecond resolution (the
    # timestamps' native unit) both are the exact elapsed count.
    overlap = F.expr(
        "timestampdiff(MICROSECOND, greatest(a_start, b_start), least(a_end, b_end))"
    )
    return pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum(overlap).alias("total_overlap_usecs"),
    )


@register(
    "ab_test_chisq",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 0 ELSE 1 END AS bucket,
               CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id),
    cells AS (
        SELECT CAST(count(*) FILTER (WHERE bucket = 0 AND converted = 1) AS BIGINT) AS a,
               CAST(count(*) FILTER (WHERE bucket = 0 AND converted = 0) AS BIGINT) AS b,
               CAST(count(*) FILTER (WHERE bucket = 1 AND converted = 1) AS BIGINT) AS c,
               CAST(count(*) FILTER (WHERE bucket = 1 AND converted = 0) AS BIGINT) AS d
        FROM per_user)
    SELECT a AS conv_ctrl, b AS nonconv_ctrl, c AS conv_test, d AS nonconv_test,
           CASE WHEN CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d) = 0
                THEN 0.0
                ELSE floor((CAST(a + b + c + d AS DOUBLE)
                       * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                       * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                       / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)))
                      * 10000 + 0.5) / 10000
           END AS chisq
    FROM cells
    """,
)
def ab_test_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test evaluation: users deterministically hash-split into
    control/test buckets (md5 first hex digit — the engine-reproducible
    membership idiom used by the sampling operators), per-user conversion
    = at least 14 purchase events (a median-ish split of this corpus), and the 2x2 contingency chi-square statistic
    computed in-engine.

    Scale: one groupBy(user) for per-user conversion, then ONE global
    conditional aggregate for all four cells — two map-side-combinable
    passes, a 1-row result, nothing driver-side. The statistic uses the
    closed 2x2 form N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) with identical
    double arithmetic in both engines and floor-based rounding (see
    interpolate_events for why round() diverges cross-engine)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
            *"01234567"
        ),
        F.lit(0),
    ).otherwise(F.lit(1))
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        ).cast("int").alias("converted")
    ).withColumn("bucket", bucket)

    def cell(bk, cv):
        return F.count(
            F.when((F.col("bucket") == bk) & (F.col("converted") == cv), F.lit(1))
        )

    cells = per_user.agg(
        cell(0, 1).alias("a"), cell(0, 0).alias("b"),
        cell(1, 1).alias("c"), cell(1, 0).alias("d"),
    )
    ad_bc = F.col("a").cast("double") * F.col("d") - F.col("b").cast("double") * F.col("c")
    denom = (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    chisq = (
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
        * ad_bc * ad_bc / denom
    )
    guarded = F.when(denom == 0, F.lit(0.0)).otherwise(
        F.floor(chisq * 10000 + F.lit(0.5)) / 10000
    )
    return cells.select(
        F.col("a").alias("conv_ctrl"),
        F.col("b").alias("nonconv_ctrl"),
        F.col("c").alias("conv_test"),
        F.col("d").alias("nonconv_test"),
        guarded.alias("chisq"),
    )


@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR datediff('microsecond', lag(ts) OVER w, ts)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id, user_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT)
               AS session_seq
    FROM marked
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization: every event gets its user's session
    NUMBER (1, 2, ...) under a 30-minute inactivity gap — the
    gaps-and-islands assignment that lets downstream joins/filters work
    per session (the aggregate twin, `session_windows`, only emits
    session summaries via `F.session_window`).

    Scale: both window passes (the lag mark and the running sum) share
    ONE (user_id, (ts, event_id)) sort and partitioning — a single
    exchange keyed by user; ties broken by event_id so the assignment is
    deterministic under any partitioning."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn("__prev", F.lag("ts").over(w)).withColumn(
        "__new",
        (
            F.col("__prev").isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, __prev, ts)")
                > 30 * 60 * 1000000
            )
        ).cast("int"),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return marked.select(
        "event_id",
        "user_id",
        F.sum("__new").over(run).alias("session_seq"),
    )


@register(
    "feature_hash_docs",
    oracle=f"""
    SELECT doc_id,
           strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS bucket,
           count(*) AS cnt
    FROM (SELECT doc_id, unnest({_RAW_TOKS_SQL}) AS tok FROM documents)
    GROUP BY 1, 2
    """,
)
def feature_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): each token maps to one of 16
    buckets via its md5 first hex digit, yielding a fixed-width
    bag-of-words count vector per document in (doc_id, bucket, cnt) form —
    the memory-bounded text featurizer that needs no vocabulary pass.

    The bucket function is md5-hex in BOTH engines (xxhash64 has no DuckDB
    twin; instr-over-hex-digit gives an identical 0..15 value
    cross-engine). Scale: map-only token→bucket projection into one
    map-side-combinable groupBy — no vocabulary state, no joins, width
    fixed regardless of corpus size (the trick's whole point)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_expr(F.lower(F.col("text")))).alias("tok")
    )
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"), F.substring(F.md5(F.col("tok")), 1, 1)
        )
        - 1
    ).cast("long")
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "funnel_latency",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id),
    lat AS (
        SELECT CAST(datediff('microsecond', t_signup, t_purchase) AS BIGINT)
                   AS us
        FROM per_user
        WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
          AND t_purchase >= t_signup)
    SELECT count(*) AS n_converted,
           round(quantile_cont(us, 0.5) / 1000000, 2) AS p50_secs,
           round(quantile_cont(us, 0.9) / 1000000, 2) AS p90_secs
    FROM lat
    """,
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-convert: per-user latency from FIRST signup to FIRST
    subsequent purchase, summarized as converted-user count and p50/p90
    latency — the activation-speed metric product analytics tracks.

    Scale: one conditional-min groupBy(user) pass (map-side combinable),
    then a single small exact-percentile aggregate over one latency value
    per converted user (user-cardinality, not event-cardinality).
    Latencies are exact integer MICROSECONDS in both engines (see
    interval_overlap_join for why coarser units diverge cross-engine);
    only the final percentile divides into seconds, rounded identically."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    lat = (
        per_user.filter(
            F.col("t_signup").isNotNull()
            & F.col("t_purchase").isNotNull()
            & (F.col("t_purchase") >= F.col("t_signup"))
        )
        .select(
            F.expr("timestampdiff(MICROSECOND, t_signup, t_purchase)").alias("us")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("us", F.lit(0.5)) / 1000000, 2).alias("p50_secs"),
        F.round(F.percentile("us", F.lit(0.9)) / 1000000, 2).alias("p90_secs"),
    )


@register(
    "histogram_totalprice",
    oracle="""
    WITH bounds AS (
        SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
    SELECT least(CAST(floor((o_totalprice - lo)
                            / ((hi - lo) / 20)) AS BIGINT), 19) AS bin,
           count(*) AS n,
           min(o_totalprice) AS bin_min,
           max(o_totalprice) AS bin_max
    FROM orders CROSS JOIN bounds
    GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (20 bins) of order totals: the distribution
    profile behind data exploration and equi-width bucketing decisions.

    Scale: pass 1 is a 1-row min/max aggregate, broadcast back via
    crossJoin; pass 2 bins map-only and counts map-side-combinably. The
    bin expression is identical double arithmetic in both engines, and
    the top edge folds into the last bin (least(..., 19)) exactly as the
    SQL does, so bucket membership is engine-identical."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bin_expr = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / 20)
        ),
        F.lit(19),
    ).cast("long")
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("bin_min"),
            F.max("o_totalprice").alias("bin_max"),
        )
    )


@register(
    "daily_percentile_bands",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events
    GROUP BY 1
    """,
)
def daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series percentile bands: per-day p50/p95 of the event value —
    the latency/SLO dashboard shape (daily median + tail).

    Scale: exact percentiles group by DAY, so each group is one day's
    values — the groups shard across the cluster and no day ever needs
    another day's data; for sketch-grade needs at extreme cardinality,
    `percentiles_price` shows approx_percentile. Day keys travel as ISO
    strings (DATE diverges through the oracle's pandas bridge)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        )
    )


@register(
    "dedup_shrinkage_report",
    oracle="""
    WITH h AS (SELECT md5(text) AS hh, n_chars FROM documents),
    per AS (SELECT hh, count(*) AS copies,
                   CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
            FROM h GROUP BY hh)
    SELECT count(*) AS distinct_texts,
           CAST(sum(copies) AS BIGINT) AS total_docs,
           CAST(coalesce(sum(copies) FILTER (WHERE copies > 1), 0) AS BIGINT)
               AS docs_in_dup_groups,
           CAST(count(*) FILTER (WHERE copies > 1) AS BIGINT) AS dup_groups,
           CAST(sum(chars) - sum(chars / copies) AS BIGINT)
               AS removable_chars
    FROM per
    """,
)
def dedup_shrinkage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup planning report: how much would exact dedup shrink the
    corpus — distinct texts, docs inside duplicate groups, group count,
    and removable characters (keeping one copy per group) — the
    before-you-run-it sizing every dedup pass starts with.

    Scale: ONE map-side-combinable groupBy on the content hash (the same
    key `dedup_exact` keys on) followed by a 1-row summary aggregate;
    integer character arithmetic throughout (chars/copies is exact here:
    every copy of a text has the same n_chars, so the sum is divisible)."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select(F.md5("text").alias("hh"), "n_chars")
        .groupBy("hh")
        .agg(
            F.count(F.lit(1)).alias("copies"),
            F.sum(F.col("n_chars").cast("long")).alias("chars"),
        )
    )
    dup = F.col("copies") > 1
    return per.agg(
        F.count(F.lit(1)).alias("distinct_texts"),
        F.sum("copies").alias("total_docs"),
        F.sum(F.when(dup, F.col("copies")).otherwise(0)).alias(
            "docs_in_dup_groups"
        ),
        F.count(F.when(dup, F.lit(1))).alias("dup_groups"),
        F.sum(
            F.col("chars") - (F.col("chars") / F.col("copies")).cast("long")
        ).alias("removable_chars"),
    )


@register(
    "seasonality_anomalies",
    oracle="""
    WITH cells AS (
      -- Spark dayofweek is 1=Sunday..7, DuckDB's is 0=Sunday..6: shift
      SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_cells FROM cells)
    SELECT dow, hod, CAST(n AS BIGINT) AS n,
           floor(CAST(n AS DOUBLE) / (CAST(total AS DOUBLE) / n_cells)
                 * 1e6 + 0.5) / 1e6 AS load_ratio,
           n > 2.0 * (CAST(total AS DOUBLE) / n_cells) AS is_hot
    FROM cells, stats
    """,
)
def seasonality_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality baseline: event volume per (day-of-week,
    hour-of-day) cell vs the uniform expectation, flagging hot cells at
    2x — the traffic-shape profile that capacity planning and
    anomaly-detection baselines start from (percentile bands answer "how
    wide is normal"; this answers "WHEN is normal busy").

    Scale: one map-only cell projection + a 168-cell aggregate; the
    expectation rides a window-free cross join with a 1-row stats frame.
    """
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = cells.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    expect = F.col("total").cast("double") / F.col("n_cells")
    ratio = F.col("n").cast("double") / expect
    return cells.crossJoin(F.broadcast(stats)).select(
        "dow",
        "hod",
        F.col("n").cast("long").alias("n"),
        grid_round(ratio, 6).alias("load_ratio"),
        (F.col("n") > F.lit(2.0) * expect).alias("is_hot"),
    )


@register(
    "cohort_ltv_curves",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey),
    aged AS (
      SELECT f.cohort,
             (year(o.o_orderdate) - year(f.cohort)) * 12
             + (month(o.o_orderdate) - month(f.cohort)) AS age,
             o.o_totalprice AS rev
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey),
    sizes AS (SELECT cohort, count(*) AS n_users FROM firsts GROUP BY cohort),
    per_age AS (
      SELECT cohort, age,
             sum(CAST(rev AS DECIMAL(18,6))) AS rev_d
      FROM aged GROUP BY cohort, age),
    cum AS (
      SELECT cohort, age,
             sum(rev_d) OVER (PARTITION BY cohort ORDER BY age) AS cum_rev
      FROM per_age)
    SELECT strftime(c.cohort, '%Y-%m') AS cohort, c.age, s.n_users,
           floor(CAST(c.cum_rev AS DOUBLE) / s.n_users * 1e4 + 0.5) / 1e4
               AS ltv_per_user
    FROM cum c JOIN sizes s ON c.cohort = s.cohort
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curves: cumulative revenue per user by
    months-since-first-order, per acquisition cohort — the retention
    matrix's revenue-weighted sibling (`cohort_retention` counts WHO came
    back; this integrates what they were WORTH). Decimal partial sums
    keep the cumulative revenue exact; the curve divides by fixed cohort
    size (a real LTV denominator, not survivors).

    Scale: two passes over orders (first-order minima, then the cohort
    join — the firsts frame is one row per customer, broadcast-joinable
    until customers outgrow executors, then a plain shuffle join); the
    cumulative window runs per cohort over month-count-sized frames.
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    aged = o.join(firsts, "o_custkey").select(
        "cohort",
        (
            (F.year("o_orderdate") - F.year("cohort")) * 12
            + (F.month("o_orderdate") - F.month("cohort"))
        ).alias("age"),
        F.col("o_totalprice").alias("rev"),
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_users"))
    per_age = aged.groupBy("cohort", "age").agg(
        F.sum(F.col("rev").cast("decimal(18,6)")).alias("rev_d")
    )
    w = Window.partitionBy("cohort").orderBy("age")
    cum = per_age.withColumn("cum_rev", F.sum("rev_d").over(w))
    return cum.join(sizes, "cohort").select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        "age",
        "n_users",
        grid_round(
            F.col("cum_rev").cast("double") / F.col("n_users"), 4
        ).alias("ltv_per_user"),
    )


@register(
    "pareto_abc_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                 AS r
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT sum(r) AS t, count(*) AS n_parts FROM rev),
    ranked AS (
      SELECT r, sum(r) OVER (ORDER BY r DESC, l_partkey) AS cum
      FROM rev),
    classed AS (
      SELECT CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8 THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked, tot)
    SELECT abc_class,
           count(*) AS n_parts,
           CAST(round(sum(r), 2) AS DOUBLE) AS revenue,
           floor(CAST(sum(r) AS DOUBLE)
                 / (SELECT CAST(t AS DOUBLE) FROM tot) * 1e6 + 0.5) / 1e6
               AS revenue_share
    FROM classed GROUP BY abc_class
    """,
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory analysis: parts classed A (first 80% of
    cumulative revenue), B (to 95%), C (tail) with class sizes and
    shares — the classic concentration report ("20% of parts drive 80%
    of revenue"). Revenue ranks through DECIMAL sums so the cumulative
    boundary is exact and tie-broken by part key.

    Scale note: the cumulative window runs over one row per PART
    (dimension-sized, not fact-sized). For billion-item catalogs use the
    bucketed-offset prefix-sum pattern (operators/sampling.py) instead
    of one global window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("r")
    )
    tot = rev.agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_parts_total")
    )
    w = Window.orderBy(F.col("r").desc(), F.col("l_partkey"))
    ranked = rev.withColumn("cum", F.sum("r").over(w)).crossJoin(
        F.broadcast(tot)
    )
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    classed = ranked.select(
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "r",
        "t",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("r"), 2).cast("double").alias("revenue"),
        grid_round(
            F.sum("r").cast("double") / F.first("t").cast("double"), 6
        ).alias("revenue_share"),
    )


@register(
    "rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             sum(CAST(o_totalprice AS DECIMAL(18,6))) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM per_cust)
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation, the classic CRM scoring: every customer gets
    recency / frequency / monetary quintiles (1 = best, customer-key
    tie-break so quintile boundaries are deterministic) and the output is
    the 125-cell segment census marketing teams target from.

    Scale note: the three ntile windows each run over one row per
    CUSTOMER; quintiles of a billion customers want the equi-depth
    histogram boundaries (`equidepth_histogram`) + a map-only bucket
    lookup instead of global windows.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("monetary"),
    )
    def q(col):
        return F.ntile(5).over(
            Window.orderBy(F.col(col).desc(), F.col("o_custkey"))
        )

    scored = per_cust.select(
        q("last_order").alias("r_score"),
        q("freq").alias("f_score"),
        q("monetary").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "attribution_linear",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp_after
      FROM events),
    touches AS (
      SELECT user_id, event_type,
             grp_after - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS grp
      FROM seq),
    converted AS (
      SELECT t.user_id, t.grp, t.event_type
      FROM touches t
      JOIN (SELECT DISTINCT user_id, grp_after AS grp FROM seq
            WHERE event_type = 'purchase') c
        ON c.user_id = t.user_id AND c.grp = t.grp + 1
      WHERE t.event_type <> 'purchase'),
    sized AS (
      SELECT user_id, grp, event_type,
             count(*) OVER (PARTITION BY user_id, grp) AS n_touches
      FROM converted)
    SELECT event_type,
           count(*) AS n_touches,
           floor(CAST(sum(CAST(1.0 / n_touches AS DECIMAL(18,12)))
                      AS DOUBLE) * 1e6 + 0.5) / 1e6 AS credit
    FROM sized GROUP BY event_type
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every non-purchase touch between
    two purchases of the same user shares the following conversion's
    credit equally (1/n each); output is total credit per touch type —
    the marketing-attribution workhorse between last-touch (a plain
    argmax) and data-driven models. Per-touch credits are IEEE 1/n
    doubles cast to DECIMAL for exact, order-free summation.

    Scale: one user-keyed window pass builds conversion groups; the
    converted-group join and the group-size window run on
    (user, group)-sized frames.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    seq = e.select(
        "user_id",
        "event_type",
        F.sum(is_p).over(w).alias("grp_after"),
    )
    touches = seq.select(
        "user_id",
        "event_type",
        (F.col("grp_after") - is_p).alias("grp"),
    )
    conv_groups = (
        seq.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("grp_after").alias("cgrp"))
        .distinct()
    )
    converted = touches.filter(F.col("event_type") != "purchase").join(
        conv_groups,
        (touches.user_id == conv_groups.user_id)
        & (conv_groups.cgrp == touches.grp + 1),
    ).select(touches.user_id, "grp", "event_type")
    wg = Window.partitionBy("user_id", "grp")
    sized = converted.withColumn("n_touches", F.count(F.lit(1)).over(wg))
    credit = F.sum(
        (F.lit(1.0) / F.col("n_touches")).cast("decimal(18,12)")
    ).cast("double")
    return sized.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        grid_round(credit, 6).alias("credit"),
    )


@register(
    "duplicate_payment_candidates",
    oracle="""
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_custkey AS custkey,
           CAST(a.o_totalprice AS DOUBLE) AS amount,
           CAST(abs(date_diff('day', a.o_orderdate, b.o_orderdate))
                AS BIGINT) AS days_apart
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_totalprice = b.o_totalprice
     AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', a.o_orderdate, b.o_orderdate)) <= 30
    """,
    # correct sf0.001 answer is EMPTY — declare it so the
    # non-degeneracy floor doesn't flag it
    min_rows=0,
)
def duplicate_payment_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screening (the accounts-payable audit classic):
    same customer, same exact amount, orders within 30 days — candidate
    double-charges / double-entries for human review.

    Scale: the self-join blocks on (custkey, totalprice) EQUALITY, so the
    pair space is bounded by per-(customer, amount) group sizes — tiny
    for organic data, and exactly the skew a fraudster's repeated amounts
    would create, surfacing where it matters; the date band is a residual
    filter, not a join explosion.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    a = o.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("d_a"),
    )
    b = o.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("d_b"),
    )
    days = F.abs(F.datediff(F.col("d_a"), F.col("d_b")))
    return (
        a.join(b, ["custkey", "amount"])
        .filter((F.col("key_a") < F.col("key_b")) & (days <= 30))
        .select(
            "key_a",
            "key_b",
            "custkey",
            F.col("amount").cast("double").alias("amount"),
            days.cast("long").alias("days_apart"),
        )
    )


@register(
    "conversion_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp_after
      FROM events),
    touches AS (
      SELECT user_id, event_type, ts, event_id,
             grp_after - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS grp
      FROM seq WHERE event_type <> 'purchase'),
    converted AS (
      SELECT t.user_id, t.grp, t.event_type, t.ts, t.event_id
      FROM touches t
      JOIN (SELECT DISTINCT user_id, grp_after AS grp FROM seq
            WHERE event_type = 'purchase') c
        ON c.user_id = t.user_id AND c.grp = t.grp + 1),
    paths AS (
      SELECT user_id, grp,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM converted GROUP BY user_id, grp)
    SELECT path, count(*) AS n_conversions
    FROM paths GROUP BY path
    ORDER BY n_conversions DESC, path LIMIT 25
    """,
)
def conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top conversion paths: the ordered touch-type sequence each user
    took between purchases, counted across all conversions — the journey
    report attribution models summarize away (attribution_linear says
    WHICH channels get credit; this says in WHAT ORDER they fire).

    Scale: the same one-window conversion-group scaffold as attribution;
    path assembly is a per-(user, group) sort_array over in-group rows,
    and the path census is a map-side-combinable string groupBy capped
    by TakeOrderedAndProject(25).
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    seq = e.select(
        "user_id", "event_type", "ts", "event_id",
        F.sum(is_p).over(w).alias("grp_after"),
    )
    touches = seq.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts", "event_id",
        (F.col("grp_after")).alias("grp"),
    )
    conv_groups = (
        seq.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("grp_after").alias("cgrp"))
        .distinct()
    )
    converted = touches.join(
        conv_groups,
        (touches.user_id == conv_groups.user_id)
        & (conv_groups.cgrp == touches.grp + 1),
    ).select(touches.user_id, "grp", "event_type", "ts", "event_id")
    paths = (
        converted.groupBy("user_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .orderBy(F.col("n_conversions").desc(), "path")
        .limit(25)
    )


@register(
    "triangle_count_brands",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    edges AS (
      SELECT DISTINCT a.p_brand AS u, b.p_brand AS v
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v FROM edges) x
      GROUP BY n),
    pern AS (
      SELECT n, count(*) AS t FROM (
        SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) y GROUP BY n)
    SELECT d.n AS brand, CAST(coalesce(p.t, 0) AS BIGINT) AS n_triangles,
           CAST(d.d AS BIGINT) AS degree,
           floor(CASE WHEN d.d >= 2
                      THEN CAST(coalesce(p.t, 0) AS DOUBLE)
                           / (d.d * (d.d - 1) / 2.0)
                      ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS clustering
    FROM deg d LEFT JOIN pern p ON p.n = d.n
    """,
)
def triangle_count_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the brand
    co-purchase graph — the third classic distributed graph algorithm
    here (after connected components and PageRank): triangles measure
    community density, and the per-node clustering coefficient
    (triangles / possible wedges) is the standard cohesion score.

    Scale shape: the canonical ordered-edge formulation — every edge
    stored once as u < v, triangles found by joining edge lists twice
    and closing the wedge with a third equi-join; with degree-ordered
    vertices this is the O(E^1.5) bound of the classic MapReduce
    algorithm (Suri & Vassilvitskii, WWW'11). All three joins are
    equi-joins on vertex keys — no pair explosion beyond true wedges.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("u"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("v"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)  # three self-join references below
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    pern = (
        tri.select(F.col("a").alias("n"))
        .unionByName(tri.select(F.col("b").alias("n")))
        .unionByName(tri.select(F.col("c").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    wedges = F.col("d") * (F.col("d") - 1) / 2.0
    cc = F.when(
        F.col("d") >= 2,
        F.coalesce(F.col("t"), F.lit(0)).cast("double") / wedges,
    ).otherwise(F.lit(0.0))
    return deg.join(pern, "n", "left").select(
        F.col("n").alias("brand"),
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
        F.col("d").cast("long").alias("degree"),
        grid_round(cc, 6).alias("clustering"),
    )


@register(
    "open_orders_concurrency",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey,
             CAST(min(o.o_orderdate) AS DATE) AS s,
             CAST(max(l.l_shipdate) AS DATE) AS e
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey),
    deltas AS (
      SELECT s AS day, 1 AS d FROM iv
      UNION ALL
      SELECT e + 1 AS day, -1 AS d FROM iv),
    daily AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS net_change
      FROM deltas GROUP BY day)
    SELECT CAST(day AS VARCHAR) AS day,
           net_change,
           CAST(sum(net_change) OVER (ORDER BY day) AS BIGINT) AS open_orders
    FROM daily
    ORDER BY day
    """,
)
def open_orders_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency sweep line: how many orders are IN FLIGHT
    (placed but not fully shipped) on each day — the census/active-
    sessions/inventory-in-transit shape. Each order contributes the
    interval [orderdate, max(shipdate)]; concurrency is the running sum
    of +1/-1 boundary deltas, never a per-day interval explosion.

    Scale (100 TB): intervals come from one keyed aggregate (shuffle on
    o_orderkey); deltas are exactly 2 rows per interval; the running sum
    is the repo's bucketed prefix-sum pattern — per-day nets cumsum
    WITHIN months (window partitioned by month) plus a broadcast
    exclusive month-offset frame, so no corpus-sized single-partition
    window exists. The month spine is timeline-bounded (~80 rows here;
    ~1200 for a century), independent of fact cardinality. Day grain is
    lossless: concurrency only changes at delta days, so the output is
    the full step function. DATE values cross the oracle bridge as
    strings (DuckDB's pandas DATE becomes datetime64 otherwise)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.to_date(F.min("o_orderdate")).alias("s"),
            F.to_date(F.max("l_shipdate")).alias("e"),
        )
    )
    # both boundary deltas emit from ONE pass over the interval frame
    # (the unionAll re-derived the corpus join+groupBy once per branch);
    # daily is timeline-bounded (one row per delta day), so the
    # checkpoint is metadata-cheap and its two consumers (month nets,
    # running sum) stop re-deriving the corpus aggregate
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("day"), F.lit(1).alias("d")),
                F.struct(
                    F.date_add("e", 1).alias("day"), F.lit(-1).alias("d")
                ),
            )
        ).alias("x")
    ).select("x.day", "x.d")
    daily = (
        deltas.groupBy("day")
        .agg(F.sum("d").cast("bigint").alias("net_change"))
        .withColumn("month", F.trunc("day", "month"))
        .localCheckpoint(eager=False)
    )
    monthly = daily.groupBy("month").agg(F.sum("net_change").alias("mnet"))
    # exclusive prefix over the timeline-bounded month spine
    wm = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, -1)
    offsets = monthly.select(
        "month",
        F.coalesce(F.sum("mnet").over(wm), F.lit(0)).cast("bigint").alias("off"),
    )
    wd = Window.partitionBy("month").orderBy("day")
    run = daily.join(F.broadcast(offsets), "month").withColumn(
        "open_orders",
        (F.col("off") + F.sum("net_change").over(wd)).cast("bigint"),
    )
    return run.select(
        F.col("day").cast("string").alias("day"), "net_change", "open_orders"
    ).orderBy("day")


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('month', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             (CAST(date_part('year',  CAST(date_trunc('month', e.ts) AS DATE))
                   AS BIGINT) * 12
              + CAST(date_part('month', CAST(date_trunc('month', e.ts) AS DATE))
                     AS BIGINT))
           - (CAST(date_part('year',  f.cohort) AS BIGINT) * 12
              + CAST(date_part('month', f.cohort) AS BIGINT)) AS month_offset
      FROM events e JOIN firsts f USING (user_id))
    SELECT CAST(cohort AS VARCHAR) AS cohort,
           month_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM activity
    GROUP BY cohort, month_offset
    ORDER BY cohort, month_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity month,
    counted as active per months-since-signup offset — the product-
    analytics staple (how many of January's new users were still active
    in April?).

    Scale: first-touch is one map-side-combined groupBy on user_id; the
    activity join re-shuffles events on user_id once (at 100 TB both
    sides hash-partition on the same key, so AQE plans a single
    co-partitioned exchange pair); the (cohort, offset) aggregate is
    a distinct-then-count on rows already reduced to (user, cohort,
    offset). Month arithmetic is pure integers (year*12+month), immune
    to timezone/interval-length ambiguity, and cohort DATEs cross the
    oracle bridge as strings."""
    ev = load_table(spark, sf_dir, "events")
    months = (
        F.year(F.col("m")).cast("bigint") * 12
        + F.month(F.col("m")).cast("bigint")
    )
    firsts = (
        ev.groupBy("user_id")
        .agg(F.to_date(F.date_trunc("month", F.min("ts"))).alias("cohort"))
    )
    act = (
        ev.select("user_id", F.to_date(F.date_trunc("month", "ts")).alias("m"))
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort",
            (
                months
                - (
                    F.year("cohort").cast("bigint") * 12
                    + F.month("cohort").cast("bigint")
                )
            ).alias("month_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort", "month_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
        .select(
            F.col("cohort").cast("string").alias("cohort"),
            "month_offset",
            "active_users",
        )
        .orderBy("cohort", "month_offset")
    )


@register(
    "chi2_source_lang",
    oracle="""
    WITH obs AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY source, lang),
    rows_ AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY source),
    cols_ AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY lang),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM obs),
    cells AS (
      SELECT obs.source, obs.lang, obs.o, rows_.r, cols_.c, tot.t,
             CAST((obs.o * tot.t - rows_.r * cols_.c) AS DECIMAL(38,0))
                 AS dev
      FROM obs JOIN rows_ USING (source) JOIN cols_ USING (lang) CROSS JOIN tot),
    terms AS (
      SELECT CAST(dev AS DOUBLE) * CAST(dev AS DOUBLE)
             / (CAST(t AS DOUBLE) * r * c) AS term
      FROM cells),
    dims AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM rows_) AS n_rows,
             (SELECT CAST(count(*) AS BIGINT) FROM cols_) AS n_cols)
    SELECT n_rows, n_cols,
           (n_rows - 1) * (n_cols - 1) AS dof,
           (SELECT floor(sum(CAST(term AS DECIMAL(18,6))) * 1e4 + 0.5) / 1e4
            FROM terms) AS chi2
    FROM dims
    """,
)
def chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit over the source × lang contingency
    table — does language composition differ by source? (The drift/
    stratification check run before trusting a per-source sample.)
    chi2 = Σ (O·T − R·C)² / (T·R·C) — algebraically Σ(O−E)²/E with
    E = R·C/T, but with the deviation formed in EXACT integer/decimal
    arithmetic so both engines square the identical value.

    Scale: one map-side-combined groupBy builds the contingency cells;
    margins and totals are aggregates OF THE CELL FRAME (sources ×
    langs, bounded by category cardinality, not corpus size); every
    corpus-sized stage is the single count pass. Term sums go through
    decimal accumulation; dof is pure integers."""
    d = load_table(spark, sf_dir, "documents")
    # the contingency-cell frame is category-cardinality-sized and feeds
    # FIVE legs (row/col margins, total, cells, dims) — checkpoint it so
    # the docstring's "single corpus count pass" is what actually runs
    # (uncheckpointed, every leg re-derived the corpus groupBy: 5 scans).
    # Tradeoffs of localCheckpoint (apply to every metadata-sized
    # checkpoint in this module): blocks are executor-local and
    # NON-replicated, so on a real cluster an executor loss fails the
    # query instead of recomputing — and under AQE the checkpoint
    # materializes at DataFrame-construction time (building the frame
    # already runs its job). Both are fine for cell/vocab-sized frames;
    # if cluster fault-tolerance matters, reliable checkpoint() or
    # persist(MEMORY_AND_DISK_2) are cheap drop-ins at these sizes.
    obs = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    ).localCheckpoint(eager=False)
    rows_ = obs.groupBy("source").agg(F.sum("o").cast("bigint").alias("r"))
    cols_ = obs.groupBy("lang").agg(F.sum("o").cast("bigint").alias("c"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("t"))
    cells = (
        obs.join(F.broadcast(rows_), "source")
        .join(F.broadcast(cols_), "lang")
        .crossJoin(F.broadcast(tot))
    )
    dev = (
        F.col("o") * F.col("t") - F.col("r") * F.col("c")
    ).cast("decimal(38,0)")
    term = (
        dev.cast("double")
        * dev.cast("double")
        / (F.col("t").cast("double") * F.col("r") * F.col("c"))
    )
    chi2 = cells.select(term.alias("term")).agg(
        (
            F.floor(
                F.sum(F.col("term").cast("decimal(18,6)")) * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        )
        .cast("double")
        .alias("chi2")
    )
    dims = obs.agg(
        F.countDistinct("source").cast("bigint").alias("n_rows"),
        F.countDistinct("lang").cast("bigint").alias("n_cols"),
    )
    return (
        dims.crossJoin(F.broadcast(chi2))
        .select(
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
            "chi2",
        )
    )


_NB_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source, unnest({_RAW_TOKS_SQL}) AS tok FROM documents),
    dt AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
    stats AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
    t AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_tot FROM stats
          GROUP BY source),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM toks),
    pri AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents
            GROUP BY source),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    lbl AS (SELECT t.source, t.t_tot, pri.n_s, v.vocab, nn.n
            FROM t JOIN pri USING (source) CROSS JOIN v CROSS JOIN nn),
    scored AS (
        SELECT dt.doc_id, l.source, l.n_s, l.n,
               {dsum_sql(
                   "CAST(dt.cnt AS DOUBLE) * log10("
                   "CAST(COALESCE(s.c, 0) + 1 AS DOUBLE) / "
                   "CAST(l.t_tot + l.vocab AS DOUBLE))", 4)} AS tok_sum
        FROM dt
        CROSS JOIN lbl l
        LEFT JOIN stats s ON s.source = l.source AND s.tok = dt.tok
        GROUP BY dt.doc_id, l.source, l.n_s, l.n),
    final AS (
        SELECT doc_id, source,
               floor((log10(CAST(n_s AS DOUBLE) / n) + tok_sum) * 1e4 + 0.5)
                   / 1e4 AS score
        FROM scored),
    ranked AS (
        SELECT doc_id, source, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, source) AS rn
        FROM final)
    SELECT r.doc_id, r.source AS pred_source, d.source AS actual_source,
           r.score, CAST(r.source = d.source AS INTEGER) AS correct
    FROM ranked r JOIN documents d USING (doc_id)
    WHERE r.rn = 1
    """


@register("nb_source_classifier", min_rows=100, oracle=_NB_ORACLE)
def nb_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes domain classifier, trained and applied
    fully in-engine — the CCNet/DSIR-style supervised leg of corpus
    curation (classify each document's domain/register; route, weight,
    or filter on the prediction). Labels are the ``source`` column;
    features are whitespace unigram counts; Laplace (+1) smoothing over
    the corpus vocabulary.

    score(d, s) = log10(n_s / N) + Σ_tok cnt_{{d,tok}} ·
                  log10((c_{{s,tok}} + 1) / (T_s + V))

    Determinism discipline (the oracle hashes values): every log10 is of
    a RATIO OF INTEGERS (same convention `unigram_logprob` has held
    green since round 3), the per-(doc,label) sum rides decimal
    accumulation (`dsum`), the final score lands on the floor(x·1e4+0.5)
    grid in both engines, and the argmax tie-breaks on (score DESC,
    source ASC) over the gridded score.

    Scale: training is two map-side-combinable token counts (per-label
    and per-doc); the label model (labels × {{t_tot, prior}} + two
    scalars) broadcasts; scoring is one fan-out of per-doc token counts
    by L labels and one (label, token) equi-join against the model stats
    — linear in corpus tokens × labels, no quadratic term, no collect.
    The unseen-(token,label) smoothing rides the LEFT join's COALESCE,
    so the fan-out never densifies to the full vocabulary."""
    from pandas_to_postgres_spark.functions.agg import dsum, grid_round
    from pandas_to_postgres_spark.functions.text import tokens_expr

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    toks = d.select(
        "doc_id",
        "source",
        F.explode(tokens_expr(F.lower(F.col("text")))).alias("tok"),
    )
    # ONE tokenize+explode pass: the per-(doc, tok) counts carry the
    # doc's source, and every other training statistic derives from this
    # frame instead of re-tokenizing the corpus (dt / stats / vocab each
    # re-ran the scan→tokenize→explode subtree before). doc_id determines
    # source, so the extra grouping key changes no counts. dt0 itself is
    # deliberately NOT checkpointed: it is corpus-sized, its two consumers
    # share the groupBy exchange, and a checkpoint was measured SLOWER
    # (5.26s vs ~3.6s warm, OPTIMIZATION_r10.md §8) — don't "fix" this by
    # adding one. Only `stats` below carries a checkpoint: it is
    # model-sized (labels × vocab) and feeds three legs.
    dt0 = toks.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dt = dt0.select("doc_id", "tok", "cnt")
    stats = (
        dt0.groupBy("source", "tok")
        .agg(F.sum("cnt").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    t = stats.groupBy("source").agg(F.sum("c").cast("long").alias("t_tot"))
    v = stats.agg(F.countDistinct("tok").cast("long").alias("vocab"))
    pri = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    lbl = (
        t.join(pri, "source")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(nn))
    )
    s2 = stats.select(
        F.col("source").alias("__ls"), F.col("tok").alias("__lt"), "c"
    )
    term = F.col("cnt").cast("double") * F.log10(
        (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
        / (F.col("t_tot") + F.col("vocab")).cast("double")
    )
    scored = (
        dt.crossJoin(F.broadcast(lbl))
        .join(
            s2,
            (F.col("source") == F.col("__ls")) & (F.col("tok") == F.col("__lt")),
            "left",
        )
        .groupBy("doc_id", "source", "n_s", "n")
        .agg(dsum(term, 4).alias("tok_sum"))
    )
    final = scored.select(
        "doc_id",
        "source",
        grid_round(
            F.log10(F.col("n_s").cast("double") / F.col("n"))
            + F.col("tok_sum"),
            4,
        ).alias("score"),
    )
    from pyspark.sql import Window

    ranked = final.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score").desc(), F.col("source").asc()
            )
        ),
    ).filter(F.col("rn") == 1)
    return (
        ranked.join(d.select("doc_id", F.col("source").alias("actual_source")),
                    "doc_id")
        .select(
            "doc_id",
            F.col("source").alias("pred_source"),
            "actual_source",
            "score",
            (F.col("source") == F.col("actual_source")).cast("int").alias(
                "correct"
            ),
        )
    )


def _fs_oracle() -> str:
    """DuckDB twin of the FULL Fellegi–Sunter pipeline with both EM
    iterations unrolled as CTEs (the `bpe_learn_merges` /
    `_semdedup_oracle` discipline for iterative operators): identical
    pair construction, identical decimal-accumulated M-step sums,
    identical clamp + floor-grid rounding — so even the EM fixed point
    is value-checked, not just the pair counts."""
    fields = ["cust", "price", "prio", "status"]

    def prod(which: str, src: str) -> str:
        # Π_i (g_i ? θ_i : 1-θ_i) as a fixed-order product
        return " * ".join(
            f"(CASE WHEN g_{f} = 1 THEN {src}.{which}_{f} "
            f"ELSE 1.0 - {src}.{which}_{f} END)"
            for f in fields
        )

    def clamp(x: str) -> str:
        return (f"least(greatest({x}, CAST(1e-6 AS DOUBLE)), "
                f"CAST(0.999999 AS DOUBLE))")

    def grid6(x: str) -> str:
        return f"floor(({x}) * 1e6 + 0.5) / 1e6"

    def estep(n: int) -> str:
        return f"""
    w{n} AS (
        SELECT pat.*,
               (p.p * {prod('m', 'p')}) AS am,
               ((1.0 - p.p) * {prod('u', 'p')}) AS bu
        FROM pat CROSS JOIN params{n} p),
    e{n} AS (SELECT *, am / (am + bu) AS w FROM w{n})"""

    def dsum6(expr: str) -> str:
        return (f"CAST(round(sum(CAST({expr} AS DECIMAL(18,6))), 6) "
                f"AS DOUBLE)")

    def mstep(n: int) -> str:
        m_cols = ", ".join(
            clamp(grid6(f"{dsum6(f'n_pairs * w * g_{f}')} / "
                        f"{dsum6('n_pairs * w')}")) + f" AS m_{f}"
            for f in fields
        )
        u_cols = ", ".join(
            clamp(grid6(f"{dsum6(f'n_pairs * (1.0 - w) * g_{f}')} / "
                        f"{dsum6('n_pairs * (1.0 - w)')}")) + f" AS u_{f}"
            for f in fields
        )
        return f"""
    params{n + 1} AS (
        SELECT {clamp(grid6(
            dsum6('n_pairs * w') + ' / CAST(sum(n_pairs) AS DOUBLE)'))} AS p,
               {m_cols}, {u_cols}
        FROM e{n})"""

    g_exprs = {
        "cust": "a.o_custkey = b.b_custkey",
        "price": "a.o_totalprice = b.b_totalprice",
        "prio": "a.o_orderpriority = b.b_orderpriority",
        "status": "a.o_orderstatus = b.b_orderstatus",
    }
    gcols = ", ".join(
        f"CAST({e} AS INTEGER) AS g_{f}" for f, e in g_exprs.items()
    )
    return f"""
    WITH b AS (
        SELECT o_orderkey + 1000000000 AS b_key,
               CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1
                    ELSE o_custkey END AS b_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                    ELSE o_totalprice END AS b_totalprice,
               CASE WHEN o_orderkey % 11 = 0 THEN '9-PERTURBED'
                    ELSE o_orderpriority END AS b_orderpriority,
               CASE WHEN o_orderkey % 3 = 0 THEN
                    (CASE WHEN o_orderstatus = 'O' THEN 'F' ELSE 'O' END)
                    ELSE o_orderstatus END AS b_orderstatus
        FROM orders),
    pairs AS (
        SELECT {gcols}
        FROM orders a JOIN b
          ON a.o_custkey // 4 = b.b_custkey // 4),
    pat AS (
        SELECT g_cust, g_price, g_prio, g_status,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY ALL),
    params0 AS (
        SELECT CAST(0.1 AS DOUBLE) AS p,
               {', '.join(f'CAST(0.9 AS DOUBLE) AS m_{f}' for f in fields)},
               {', '.join(f'CAST(0.1 AS DOUBLE) AS u_{f}' for f in fields)}),
    {estep(0).lstrip()},
    {mstep(0).lstrip()},
    {estep(1).lstrip()},
    {mstep(1).lstrip()},
    final AS (
        SELECT pat.*,
               (p.p * {prod('m', 'p')}) AS am,
               ((1.0 - p.p) * {prod('u', 'p')}) AS bu,
               log10(({prod('m', 'p')}) / ({prod('u', 'p')})) AS lw
        FROM pat CROSS JOIN params2 p)
    SELECT g_cust, g_price, g_prio, g_status, n_pairs,
           {grid6('lw')} AS match_weight,
           {grid6('am / (am + bu)')} AS posterior,
           CAST(am / (am + bu) >= CAST(0.5 AS DOUBLE) AS INTEGER) AS is_match
    FROM final
    """


@register("fellegi_sunter_em", min_rows=4, oracle=_fs_oracle())
def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi–Sunter 1969, the Splink /
    census-linkage model) trained UNSUPERVISED in-engine by a 2-iteration
    EM over agreement patterns — the statistical upgrade to
    `fuzzy_join_parts`' deterministic blocking:

    - two feeds: orders vs a deterministically perturbed copy (custkey,
      price, priority, status each flip on disjoint key residues);
    - blocking on ``custkey DIV 4`` — block CARDINALITY GROWS with the
      data (never a fixed-block quadratic blow-up; perturbed custkeys
      hopping blocks is the documented, realistic recall loss);
    - per-pair agreement vector γ over 4 fields, aggregated to ≤16
      PATTERN COUNTS before any statistics — EM then runs on 16 rows
      regardless of corpus size (pairs are touched exactly once);
    - EM: E-step posterior w from (p, m_i, u_i); M-step re-estimates via
      decimal-accumulated sums, floor-grid(1e-6) rounding, and a
      [1e-6, 1-1e-6] clamp (Splink's guard against degenerate u) — every
      FP step deterministic and engine-identical, so the DuckDB oracle
      replays both iterations bit-for-bit on the value grid;
    - output per pattern: count, log10 match weight under the fitted
      model, posterior, and the ≥0.5 match decision.

    Scale: the only pair-sized stage is one map-side-combinable GROUP BY
    on 4 int flags; everything after is 16 rows. The model frame
    broadcasts; nothing collects."""
    from pandas_to_postgres_spark.functions.agg import grid_round

    fields = ["cust", "price", "prio", "status"]
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority",
        "o_orderstatus",
    )
    k = F.col("o_orderkey")
    b = o.select(
        (k + 1_000_000_000).alias("b_key"),
        F.when(k % 7 == 0, F.col("o_custkey") + 1)
        .otherwise(F.col("o_custkey")).alias("b_custkey"),
        F.when(k % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")).alias("b_totalprice"),
        F.when(k % 11 == 0, F.lit("9-PERTURBED"))
        .otherwise(F.col("o_orderpriority")).alias("b_orderpriority"),
        F.when(
            k % 3 == 0,
            F.when(F.col("o_orderstatus") == "O", F.lit("F")).otherwise(
                F.lit("O")
            ),
        ).otherwise(F.col("o_orderstatus")).alias("b_orderstatus"),
    )
    a = o.withColumn("__blk", (F.col("o_custkey") / 4).cast("long"))
    bb = b.withColumn("__blk", (F.col("b_custkey") / 4).cast("long"))
    g = {
        "cust": F.col("o_custkey") == F.col("b_custkey"),
        "price": F.col("o_totalprice") == F.col("b_totalprice"),
        "prio": F.col("o_orderpriority") == F.col("b_orderpriority"),
        "status": F.col("o_orderstatus") == F.col("b_orderstatus"),
    }
    pat = (
        a.join(bb, "__blk")
        .select(*[g[f].cast("int").alias(f"g_{f}") for f in fields])
        .groupBy(*[f"g_{f}" for f in fields])
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .localCheckpoint(eager=False)  # 16 rows feed 2 EM rounds + final
    )

    lo, hi = F.lit(1e-6), F.lit(0.999999)

    def clamp(c):
        return F.least(F.greatest(c, lo), hi)

    def prod(which, row_prefix=""):
        expr = F.lit(1.0)
        for f in fields:
            theta = F.col(f"{which}_{f}")
            expr = expr * F.when(
                F.col(f"g_{f}") == 1, theta
            ).otherwise(F.lit(1.0) - theta)
        return expr

    def dsum6(c):
        return F.round(F.sum(c.cast("decimal(18,6)")), 6).cast("double")

    params = spark.range(1).select(
        F.lit(0.1).alias("p"),
        *[F.lit(0.9).alias(f"m_{f}") for f in fields],
        *[F.lit(0.1).alias(f"u_{f}") for f in fields],
    )
    for _ in range(2):
        e = pat.crossJoin(F.broadcast(params)).select(
            "*",
            (F.col("p") * prod("m")).alias("am"),
            ((F.lit(1.0) - F.col("p")) * prod("u")).alias("bu"),
        ).withColumn("w", F.col("am") / (F.col("am") + F.col("bu")))
        n, w = F.col("n_pairs"), F.col("w")
        params = e.agg(
            clamp(grid_round(dsum6(n * w) / F.sum(n).cast("double"), 6)).alias("p"),
            *[
                clamp(grid_round(dsum6(n * w * F.col(f"g_{f}")) / dsum6(n * w), 6)).alias(f"m_{f}")
                for f in fields
            ],
            *[
                clamp(
                    grid_round(
                        dsum6(n * (F.lit(1.0) - w) * F.col(f"g_{f}"))
                        / dsum6(n * (F.lit(1.0) - w)),
                        6,
                    )
                ).alias(f"u_{f}")
                for f in fields
            ],
        )
    final = pat.crossJoin(F.broadcast(params)).select(
        "*",
        (F.col("p") * prod("m")).alias("am"),
        ((F.lit(1.0) - F.col("p")) * prod("u")).alias("bu"),
        F.log10(prod("m") / prod("u")).alias("lw"),
    )
    post = F.col("am") / (F.col("am") + F.col("bu"))
    return final.select(
        *[f"g_{f}" for f in fields],
        "n_pairs",
        grid_round(F.col("lw"), 6).alias("match_weight"),
        grid_round(post, 6).alias("posterior"),
        (post >= 0.5).cast("int").alias("is_match"),
    )


_GBDT_SPLIT_ORACLE = """
    WITH pairs AS (
        SELECT 'discount' AS feature,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS bin,
               CAST(l_quantity AS BIGINT) AS y FROM lineitem
        UNION ALL
        SELECT 'linenumber', CAST(l_linenumber AS BIGINT),
               CAST(l_quantity AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'ship_month', CAST(month(l_shipdate) AS BIGINT),
               CAST(l_quantity AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'tax', CAST(floor(l_tax * 100 + 0.5) AS BIGINT),
               CAST(l_quantity AS BIGINT) FROM lineitem),
    hist AS (
        SELECT feature, bin, count(*) AS cnt, sum(y) AS ys
        FROM pairs GROUP BY feature, bin),
    cum AS (
        SELECT feature, bin,
               sum(cnt) OVER (PARTITION BY feature ORDER BY bin) AS nl,
               sum(ys)  OVER (PARTITION BY feature ORDER BY bin) AS sl,
               sum(cnt) OVER (PARTITION BY feature) AS nt,
               sum(ys)  OVER (PARTITION BY feature) AS st
        FROM hist),
    gains AS (
        SELECT feature, bin, nl, nt - nl AS nr,
               floor((
                   (CAST(sl AS DOUBLE) * sl) / nl
                   + (CAST(st - sl AS DOUBLE) * (st - sl)) / (nt - nl)
                   - (CAST(st AS DOUBLE) * st) / nt
               ) * 1000000 + 0.5) / 1000000 AS gain,
               floor((CAST(sl AS DOUBLE) / nl) * 1000000 + 0.5)
                   / 1000000 AS left_mean,
               floor((CAST(st - sl AS DOUBLE) / (nt - nl)) * 1000000 + 0.5)
                   / 1000000 AS right_mean
        FROM cum WHERE nl > 0 AND nl < nt),
    best AS (
        SELECT *, row_number() OVER (
            PARTITION BY feature ORDER BY gain DESC, bin ASC) AS rn
        FROM gains)
    SELECT feature, CAST(bin AS BIGINT) AS split_bin,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           gain, left_mean, right_mean
    FROM best WHERE rn = 1
    """


@register("gbdt_split_histogram", min_rows=4, oracle=_GBDT_SPLIT_ORACLE)
def gbdt_split_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based greedy split finding — the inner loop of every
    modern gradient-boosted-tree trainer (LightGBM's histogram
    algorithm; XGBoost ``tree_method=hist``) expressed as one Spark
    aggregation: bin each feature to a small integer domain, fold the
    data ONCE into per-(feature, bin) histograms of (count, label-sum),
    then scan each feature's cumulative histogram for the variance-
    reduction-maximizing threshold

        gain(t) = S_L²/n_L + S_R²/n_R − S_T²/n_T

    (the squared-loss split criterion; leaf values are the side means).
    Label is ``l_quantity``; features are the binned discount, tax,
    line number and ship month of lineitem.

    Scale (the whole reason GBDT histograms exist): the single data
    pass emits ≤ F·B tiny partial histograms per task that COMBINE
    map-side — the shuffle carries O(features × bins) rows (~40 here)
    regardless of table size, the cumulative scan and argmax run on
    that tiny frame, and a 100 TB training set costs one scan per tree
    level. No per-row sort (the pre-histogram approach), no collect —
    the same layout a parameter-server trainer ships, derived entirely
    from Catalyst's partial aggregation.

    Determinism discipline: every histogram cell is an INTEGER
    (count, Σ l_quantity); gains and means are doubles computed from
    those exact integers with an expression written identically in
    both engines, gridded to 1e-6 BEFORE the argmax, which tie-breaks
    (gain DESC, bin ASC).

    Reference: the 988-LoC loader has no analytics; in-engine
    statistics tier (SURVEY §2.12 [EXT]), sibling of
    ``nb_source_classifier`` / ``fellegi_sunter_em``."""
    li = load_table(spark, sf_dir, "lineitem")
    feats = F.array(
        F.struct(
            F.lit("discount").alias("feature"),
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bin"),
        ),
        F.struct(
            F.lit("linenumber").alias("feature"),
            F.col("l_linenumber").cast("long").alias("bin"),
        ),
        F.struct(
            F.lit("ship_month").alias("feature"),
            F.month("l_shipdate").cast("long").alias("bin"),
        ),
        F.struct(
            F.lit("tax").alias("feature"),
            F.floor(F.col("l_tax") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bin"),
        ),
    )
    pairs = li.select(
        F.col("l_quantity").cast("long").alias("y"),
        F.explode(feats).alias("f"),
    ).select("f.feature", "f.bin", "y")
    hist = pairs.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("ys"),
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "bin",
        F.sum("cnt").over(w).alias("nl"),
        F.sum("ys").over(w).alias("sl"),
        F.sum("cnt").over(wt).alias("nt"),
        F.sum("ys").over(wt).alias("st"),
    )
    sl, st = F.col("sl"), F.col("st")
    nl, nt = F.col("nl"), F.col("nt")
    nr, sr = nt - nl, st - sl
    gain = (
        (sl.cast("double") * sl) / nl
        + (sr.cast("double") * sr) / nr
        - (st.cast("double") * st) / nt
    )
    gains = cum.filter((nl > 0) & (nl < nt)).select(
        "feature",
        "bin",
        nl.alias("n_left"),
        nr.alias("n_right"),
        grid_round(gain, 6).alias("gain"),
        grid_round(sl.cast("double") / nl, 6).alias("left_mean"),
        grid_round(sr.cast("double") / nr, 6).alias("right_mean"),
    )
    rn = F.row_number().over(
        Window.partitionBy("feature").orderBy(
            F.col("gain").desc(), F.col("bin").asc()
        )
    )
    return (
        gains.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            F.col("bin").alias("split_bin"),
            "n_left",
            "n_right",
            "gain",
            "left_mean",
            "right_mean",
        )
    )


_GBDT_BOOST_ORACLE = """
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) * 1000000 AS y,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS b_discount,
               CAST(l_linenumber AS BIGINT) AS b_linenumber,
               CAST(month(l_shipdate) AS BIGINT) AS b_ship_month,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS b_tax
        FROM lineitem),
    p1 AS (
        SELECT 'discount' AS f, b_discount AS bin, y AS r FROM base
        UNION ALL SELECT 'linenumber', b_linenumber, y FROM base
        UNION ALL SELECT 'ship_month', b_ship_month, y FROM base
        UNION ALL SELECT 'tax', b_tax, y FROM base),
    h1 AS (SELECT f, bin, count(*) AS cnt, sum(r) AS sr
           FROM p1 GROUP BY f, bin),
    c1 AS (SELECT f, bin,
               sum(cnt) OVER (PARTITION BY f ORDER BY bin) AS nl,
               sum(sr)  OVER (PARTITION BY f ORDER BY bin) AS sl,
               sum(cnt) OVER (PARTITION BY f) AS nt,
               sum(sr)  OVER (PARTITION BY f) AS st
           FROM h1),
    g1 AS (SELECT f, bin, nl, nt - nl AS nr, sl, st - sl AS sr2,
               floor((
                   (CAST(sl AS DOUBLE) * sl) / nl
                   + (CAST(st - sl AS DOUBLE) * (st - sl)) / (nt - nl)
                   - (CAST(st AS DOUBLE) * st) / nt
               ) / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS gain
           FROM c1 WHERE nl > 0 AND nl < nt),
    b1 AS (SELECT f, bin, gain, nl, nr,
               CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lmu,
               CAST(floor(CAST(sr2 AS DOUBLE) / nr + 0.5) AS BIGINT) AS rmu
           FROM g1 ORDER BY gain DESC, f ASC, bin ASC LIMIT 1),
    r2base AS (
        SELECT base.*,
               base.y - (CASE WHEN (CASE b1.f
                   WHEN 'discount' THEN b_discount
                   WHEN 'linenumber' THEN b_linenumber
                   WHEN 'ship_month' THEN b_ship_month
                   ELSE b_tax END) <= b1.bin
                 THEN b1.lmu ELSE b1.rmu END) AS r
        FROM base, b1),
    m1 AS (SELECT floor(
               CAST(sum(CAST(r * r AS HUGEINT)) AS DOUBLE) / count(*)
               / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS mse
           FROM r2base),
    p2 AS (
        SELECT 'discount' AS f, b_discount AS bin, r FROM r2base
        UNION ALL SELECT 'linenumber', b_linenumber, r FROM r2base
        UNION ALL SELECT 'ship_month', b_ship_month, r FROM r2base
        UNION ALL SELECT 'tax', b_tax, r FROM r2base),
    h2 AS (SELECT f, bin, count(*) AS cnt, sum(r) AS sr
           FROM p2 GROUP BY f, bin),
    c2 AS (SELECT f, bin,
               sum(cnt) OVER (PARTITION BY f ORDER BY bin) AS nl,
               sum(sr)  OVER (PARTITION BY f ORDER BY bin) AS sl,
               sum(cnt) OVER (PARTITION BY f) AS nt,
               sum(sr)  OVER (PARTITION BY f) AS st
           FROM h2),
    g2 AS (SELECT f, bin, nl, nt - nl AS nr, sl, st - sl AS sr2,
               floor((
                   (CAST(sl AS DOUBLE) * sl) / nl
                   + (CAST(st - sl AS DOUBLE) * (st - sl)) / (nt - nl)
                   - (CAST(st AS DOUBLE) * st) / nt
               ) / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS gain
           FROM c2 WHERE nl > 0 AND nl < nt),
    b2 AS (SELECT f, bin, gain, nl, nr,
               CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lmu,
               CAST(floor(CAST(sr2 AS DOUBLE) / nr + 0.5) AS BIGINT) AS rmu
           FROM g2 ORDER BY gain DESC, f ASC, bin ASC LIMIT 1),
    r3base AS (
        SELECT r2base.r - (CASE WHEN (CASE b2.f
                   WHEN 'discount' THEN b_discount
                   WHEN 'linenumber' THEN b_linenumber
                   WHEN 'ship_month' THEN b_ship_month
                   ELSE b_tax END) <= b2.bin
                 THEN b2.lmu ELSE b2.rmu END) AS r
        FROM r2base, b2),
    m2 AS (SELECT floor(
               CAST(sum(CAST(r * r AS HUGEINT)) AS DOUBLE) / count(*)
               / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS mse
           FROM r3base)
    SELECT CAST(1 AS BIGINT) AS round, b1.f AS feature,
           CAST(b1.bin AS BIGINT) AS split_bin, b1.gain,
           CAST(b1.nl AS BIGINT) AS n_left, CAST(b1.nr AS BIGINT) AS n_right,
           b1.lmu AS left_leaf_micro, b1.rmu AS right_leaf_micro,
           m1.mse AS mse_after
    FROM b1, m1
    UNION ALL
    SELECT CAST(2 AS BIGINT), b2.f, CAST(b2.bin AS BIGINT), b2.gain,
           CAST(b2.nl AS BIGINT), CAST(b2.nr AS BIGINT), b2.lmu, b2.rmu,
           m2.mse
    FROM b2, m2
    """


@register("gbdt_boost_stumps", min_rows=2, oracle=_GBDT_BOOST_ORACLE)
def gbdt_boost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full gradient-boosting rounds of depth-1 trees (stumps) over
    binned features — squared loss, learning rate 1 — composing the
    :func:`gbdt_split_histogram` primitive into an actual trainer loop:
    each round folds the CURRENT residual into per-(feature, bin)
    histograms (one data pass, map-side combine, O(features × bins)
    shuffle rows), picks the global best split by variance reduction,
    fits the two leaf values, and subtracts the stump's prediction to
    form the next round's residual. Output: per round, the chosen
    split, leaf values, and the training MSE after applying it — MSE
    must strictly fall round-over-round, which the oracle verifies
    numerically.

    The determinism trick that makes boosting oracle-checkable at all:
    residuals stay EXACT INTEGERS. Labels lift to micro-units
    (y × 10⁶); leaf values round to integer micro-units with a fixed
    half-up rule; residual = integer − integer. Histogram sums are
    therefore exact at every round — no order-dependent double
    accumulation anywhere (the classic reason distributed GBDT runs
    are irreproducible). Gains and MSE are doubles computed from those
    integers with expressions written identically in both engines,
    gridded to 1e-6; squared-residual sums accumulate in DECIMAL(38,0)
    (HUGEINT in the oracle) because Σr² overflows BIGINT at scale.

    Scale: per round, one pass + a ~40-row shuffle (LightGBM's
    histogram layout); the chosen split is a bounded 1-row collect
    broadcast back as literals. The per-row residual is NEVER
    materialized — it recomposes as an expression over the base scan
    from the collected stump literals (residual frames are exactly as
    large as the data, and checkpointing one per round turned the 64x
    run into 3 full-table writes: 2.9s → 52s measured; expression
    recomposition reads the scan once per round instead). 100 TB cost
    = rounds × one column-pruned scan.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]), composing ``gbdt_split_histogram``."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_quantity").cast("long") * 1000000).alias("y"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("b_discount"),
        F.col("l_linenumber").cast("long").alias("b_linenumber"),
        F.month("l_shipdate").cast("long").alias("b_ship_month"),
        F.floor(F.col("l_tax") * 100 + F.lit(0.5))
        .cast("long")
        .alias("b_tax"),
    )
    feats = ["discount", "linenumber", "ship_month", "tax"]

    def best_split(df: DataFrame, resid_expr) -> dict:
        pairs = df.select(
            resid_expr.alias("r"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("f"),
                            F.col(f"b_{f}").alias("bin"),
                        )
                        for f in feats
                    ]
                )
            ).alias("fb"),
        ).select("fb.f", "fb.bin", "r")
        hist = pairs.groupBy("f", "bin").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("r").cast("long").alias("sr"),
        )
        w = (
            Window.partitionBy("f")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wt = Window.partitionBy("f")
        cum = hist.select(
            "f",
            "bin",
            F.sum("cnt").over(w).alias("nl"),
            F.sum("sr").over(w).alias("sl"),
            F.sum("cnt").over(wt).alias("nt"),
            F.sum("sr").over(wt).alias("st"),
        )
        nl, nt = F.col("nl"), F.col("nt")
        sl, st = F.col("sl"), F.col("st")
        nr, sr2 = nt - nl, st - sl
        gain = (
            (sl.cast("double") * sl) / nl
            + (sr2.cast("double") * sr2) / nr
            - (st.cast("double") * st) / nt
        ) / 1e12
        row = (
            cum.filter((nl > 0) & (nl < nt))
            .select(
                "f",
                "bin",
                nl.alias("nl"),
                nr.alias("nr"),
                grid_round(gain, 6).alias("gain"),
                F.floor(sl.cast("double") / nl + F.lit(0.5))
                .cast("long")
                .alias("lmu"),
                F.floor(sr2.cast("double") / nr + F.lit(0.5))
                .cast("long")
                .alias("rmu"),
            )
            .orderBy(F.col("gain").desc(), F.col("f").asc(), F.col("bin").asc())
            .first()  # bounded reduction: ONE row (the chosen split)
        )
        return row.asDict()

    def stump_pred(b: dict):
        binv = F.col(f"b_{b['f']}")
        return F.when(binv <= b["bin"], F.lit(b["lmu"])).otherwise(
            F.lit(b["rmu"])
        )

    def mse_after(resid_expr) -> float:
        r = resid_expr
        s = base.agg(
            F.sum((r * r).cast("decimal(38,0)")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        raw = float(s["ss"]) / s["n"] / 1e12
        import math

        return math.floor(raw * 1e6 + 0.5) / 1e6

    rows = []
    resid_expr = F.col("y")  # recomposes per round; never materialized
    for rnd in (1, 2):
        b = best_split(base, resid_expr)
        resid_expr = resid_expr - stump_pred(b)
        rows.append(
            (
                rnd,
                b["f"],
                int(b["bin"]),
                float(b["gain"]),
                int(b["nl"]),
                int(b["nr"]),
                int(b["lmu"]),
                int(b["rmu"]),
                mse_after(resid_expr),
            )
        )
    return spark.createDataFrame(
        rows,
        "round long, feature string, split_bin long, gain double, "
        "n_left long, n_right long, left_leaf_micro long, "
        "right_leaf_micro long, mse_after double",
    )


_MI_ORACLE = """
    WITH base AS (
        SELECT event_type AS y,
               CAST(least(greatest(floor(value / 50.0), 0), 19)
                    AS BIGINT) AS f_value_bin,
               CAST(hour(ts) AS BIGINT) AS f_hour,
               CAST(dayofweek(ts) AS BIGINT) AS f_dow,
               CAST(user_id % 16 AS BIGINT) AS f_user_shard
        FROM events),
    pairs AS (
        SELECT 'value_bin' AS feature, f_value_bin AS x, y FROM base
        UNION ALL SELECT 'hour', f_hour, y FROM base
        UNION ALL SELECT 'dow', f_dow, y FROM base
        UNION ALL SELECT 'user_shard', f_user_shard, y FROM base),
    joint AS (
        SELECT feature, x, y, count(*) AS nxy
        FROM pairs GROUP BY feature, x, y),
    mx AS (SELECT feature, x, sum(nxy) AS nx FROM joint
           GROUP BY feature, x),
    my AS (SELECT feature, y, sum(nxy) AS ny FROM joint
           GROUP BY feature, y),
    nn AS (SELECT feature, sum(nxy) AS n FROM joint GROUP BY feature),
    terms AS (
        SELECT j.feature,
               CAST(floor(
                   (CAST(j.nxy AS DOUBLE) / nn.n)
                   * ln((CAST(j.nxy AS DOUBLE) * nn.n)
                        / (CAST(mx.nx AS DOUBLE) * my.ny))
                   * 1000000000 + 0.5) AS BIGINT) AS term_nano
        FROM joint j
        JOIN mx ON j.feature = mx.feature AND j.x = mx.x
        JOIN my ON j.feature = my.feature AND j.y = my.y
        JOIN nn ON j.feature = nn.feature)
    SELECT feature,
           CAST(sum(term_nano) AS DOUBLE) / 1000000000 AS mi_nats,
           row_number() OVER (
               ORDER BY sum(term_nano) DESC, feature ASC) AS rank
    FROM terms GROUP BY feature
    """


@register("mi_feature_ranking", min_rows=4, oracle=_MI_ORACLE)
def mi_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking against the event-type label —
    the filter-method feature selector (sklearn's
    ``mutual_info_classif`` for discrete features), fully in-engine:

        MI(X; Y) = Σ_{x,y} p(x,y) · ln( p(x,y) / (p(x) p(y)) )

    over four candidate features (fixed-width value bin, hour,
    day-of-week, user shard). Every ln is of a RATIO OF INTEGER
    PRODUCTS (the ``unigram_logprob`` convention) and every term lands
    on an integer NANO grid before the per-feature fold, so the sum is
    order-independent — rerun-identical at any partition count,
    hash-equal to the DuckDB replay.

    Scale: one pass fans each row into 4 (feature, x, y) cells that
    combine MAP-SIDE — the shuffle carries O(features × |X| × |Y|)
    rows (a few hundred), marginals are metadata-sized re-aggregations
    of the joint frame (no second data pass), and the final rank is a
    4-row sort. The 100 TB cost is one scan; the statistics plane
    never grows with the data.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — feature selection leg."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("y"),
        F.least(
            F.greatest(F.floor(F.col("value") / 50.0), F.lit(0)),
            F.lit(19),
        )
        .cast("long")
        .alias("f_value_bin"),
        F.hour("ts").cast("long").alias("f_hour"),
        F.dayofweek("ts").cast("long").alias("f_dow"),
        (F.col("user_id") % 16).cast("long").alias("f_user_shard"),
    )
    feats = ["value_bin", "hour", "dow", "user_shard"]
    pairs = ev.select(
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feature"),
                        F.col(f"f_{f}").alias("x"),
                    )
                    for f in feats
                ]
            )
        ).alias("fx"),
    ).select("fx.feature", "fx.x", "y")
    joint = pairs.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("nxy")
    )
    joint = joint.localCheckpoint(eager=False)  # feeds 3 reductions
    mx = joint.groupBy("feature", "x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("feature", "y").agg(F.sum("nxy").alias("ny"))
    nn = joint.groupBy("feature").agg(F.sum("nxy").alias("n"))
    t = (
        joint.join(mx, ["feature", "x"])
        .join(F.broadcast(my), ["feature", "y"])
        .join(F.broadcast(nn), ["feature"])
    )
    term = (
        (F.col("nxy").cast("double") / F.col("n"))
        * F.log(
            (F.col("nxy").cast("double") * F.col("n"))
            / (F.col("nx").cast("double") * F.col("ny"))
        )
        * 1e9
        + F.lit(0.5)
    )
    per_feat = (
        t.select(
            "feature",
            F.floor(term).cast("long").alias("term_nano"),
        )
        .groupBy("feature")
        .agg(F.sum("term_nano").alias("mi_nano"))
    )
    rank = F.row_number().over(
        Window.partitionBy(F.lit(0)).orderBy(
            F.col("mi_nano").desc(), F.col("feature").asc()
        )
    )
    return per_feat.select(
        "feature",
        (F.col("mi_nano").cast("double") / 1e9).alias("mi_nats"),
        rank.cast("long").alias("rank"),
    )


_TREE2_ORACLE = """
    WITH base AS (
        SELECT CAST(l_quantity AS BIGINT) * 1000000 AS y,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS b_discount,
               CAST(l_linenumber AS BIGINT) AS b_linenumber,
               CAST(month(l_shipdate) AS BIGINT) AS b_ship_month,
               CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS b_tax
        FROM lineitem),
    p1 AS (
        SELECT 'discount' AS f, b_discount AS bin, y FROM base
        UNION ALL SELECT 'linenumber', b_linenumber, y FROM base
        UNION ALL SELECT 'ship_month', b_ship_month, y FROM base
        UNION ALL SELECT 'tax', b_tax, y FROM base),
    h1 AS (SELECT f, bin, count(*) AS cnt, sum(y) AS sy
           FROM p1 GROUP BY f, bin),
    c1 AS (SELECT f, bin,
               sum(cnt) OVER (PARTITION BY f ORDER BY bin) AS nl,
               sum(sy)  OVER (PARTITION BY f ORDER BY bin) AS sl,
               sum(cnt) OVER (PARTITION BY f) AS nt,
               sum(sy)  OVER (PARTITION BY f) AS st
           FROM h1),
    g1 AS (SELECT f, bin, nl, nt - nl AS nr, sl, st - sl AS sr,
               floor((
                   (CAST(sl AS DOUBLE) * sl) / nl
                   + (CAST(st - sl AS DOUBLE) * (st - sl)) / (nt - nl)
                   - (CAST(st AS DOUBLE) * st) / nt
               ) / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS gain
           FROM c1 WHERE nl > 0 AND nl < nt),
    root AS (SELECT f, bin, gain, nl, nr,
               CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lmu,
               CAST(floor(CAST(sr AS DOUBLE) / nr + 0.5) AS BIGINT) AS rmu
             FROM g1 ORDER BY gain DESC, f ASC, bin ASC LIMIT 1),
    leaves AS (
        SELECT base.*,
               CASE WHEN (CASE root.f
                   WHEN 'discount' THEN b_discount
                   WHEN 'linenumber' THEN b_linenumber
                   WHEN 'ship_month' THEN b_ship_month
                   ELSE b_tax END) <= root.bin
                 THEN 'left' ELSE 'right' END AS leaf
        FROM base, root),
    p2 AS (
        SELECT leaf, 'discount' AS f, b_discount AS bin, y FROM leaves
        UNION ALL SELECT leaf, 'linenumber', b_linenumber, y FROM leaves
        UNION ALL SELECT leaf, 'ship_month', b_ship_month, y FROM leaves
        UNION ALL SELECT leaf, 'tax', b_tax, y FROM leaves),
    h2 AS (SELECT leaf, f, bin, count(*) AS cnt, sum(y) AS sy
           FROM p2 GROUP BY leaf, f, bin),
    c2 AS (SELECT leaf, f, bin,
               sum(cnt) OVER (PARTITION BY leaf, f ORDER BY bin) AS nl,
               sum(sy)  OVER (PARTITION BY leaf, f ORDER BY bin) AS sl,
               sum(cnt) OVER (PARTITION BY leaf, f) AS nt,
               sum(sy)  OVER (PARTITION BY leaf, f) AS st
           FROM h2),
    g2 AS (SELECT leaf, f, bin, nl, nt - nl AS nr, sl, st - sl AS sr,
               floor((
                   (CAST(sl AS DOUBLE) * sl) / nl
                   + (CAST(st - sl AS DOUBLE) * (st - sl)) / (nt - nl)
                   - (CAST(st AS DOUBLE) * st) / nt
               ) / 1000000000000.0 * 1000000 + 0.5) / 1000000 AS gain
           FROM c2 WHERE nl > 0 AND nl < nt),
    child AS (
        SELECT leaf, f, bin, gain, nl, nr,
               CAST(floor(CAST(sl AS DOUBLE) / nl + 0.5) AS BIGINT) AS lmu,
               CAST(floor(CAST(sr AS DOUBLE) / nr + 0.5) AS BIGINT) AS rmu,
               row_number() OVER (PARTITION BY leaf
                   ORDER BY gain DESC, f ASC, bin ASC) AS rn
        FROM g2)
    SELECT 'root' AS node, f AS feature, CAST(bin AS BIGINT) AS split_bin,
           gain, CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           lmu AS left_mean_micro, rmu AS right_mean_micro
    FROM root
    UNION ALL
    SELECT leaf, f, CAST(bin AS BIGINT), gain, CAST(nl AS BIGINT),
           CAST(nr AS BIGINT), lmu, rmu
    FROM child WHERE rn = 1
    """


@register("gbdt_tree_depth2", min_rows=3, oracle=_TREE2_ORACLE)
def gbdt_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A DEPTH-2 histogram regression tree — the claim "tree levels =
    scans" made concrete: level 1 is the global best split (one pass,
    O(F·B) shuffled cells); level 2 re-keys the SAME histogram pass by
    (leaf, feature, bin) — one more pass, O(2·F·B) cells — and picks
    each leaf's best split independently. No per-node data movement, no
    row sort, no collect beyond the root's 1-row split: exactly how
    LightGBM/XGBoost-hist grow a level for EVERY node of that level in
    one sweep. At 100 TB a depth-d tree costs d column-pruned scans.

    Same determinism discipline as its siblings: integer micro-unit
    labels, integer histogram cells, gains/means as doubles from exact
    integers gridded to 1e-6, (gain DESC, feature ASC, bin ASC)
    tie-breaks — hash-equal to the DuckDB replay.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]), composing ``gbdt_split_histogram``."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_quantity").cast("long") * 1000000).alias("y"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("b_discount"),
        F.col("l_linenumber").cast("long").alias("b_linenumber"),
        F.month("l_shipdate").cast("long").alias("b_ship_month"),
        F.floor(F.col("l_tax") * 100 + F.lit(0.5))
        .cast("long")
        .alias("b_tax"),
    )
    feats = ["discount", "linenumber", "ship_month", "tax"]
    fan = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(f).alias("f"), F.col(f"b_{f}").alias("bin")
                )
                for f in feats
            ]
        )
    ).alias("fb")

    def leaf_best(hist: DataFrame, keys: list) -> DataFrame:
        w = (
            Window.partitionBy(*keys)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wt = Window.partitionBy(*keys)
        cum = hist.select(
            *keys,
            "bin",
            F.sum("cnt").over(w).alias("nl"),
            F.sum("sy").over(w).alias("sl"),
            F.sum("cnt").over(wt).alias("nt"),
            F.sum("sy").over(wt).alias("st"),
        )
        nl, nt = F.col("nl"), F.col("nt")
        sl, st = F.col("sl"), F.col("st")
        nr, sr = nt - nl, st - sl
        gain = (
            (sl.cast("double") * sl) / nl
            + (sr.cast("double") * sr) / nr
            - (st.cast("double") * st) / nt
        ) / 1e12
        return cum.filter((nl > 0) & (nl < nt)).select(
            *keys,
            "bin",
            nl.alias("n_left"),
            nr.alias("n_right"),
            grid_round(gain, 6).alias("gain"),
            F.floor(sl.cast("double") / nl + F.lit(0.5))
            .cast("long")
            .alias("left_mean_micro"),
            F.floor(sr.cast("double") / nr + F.lit(0.5))
            .cast("long")
            .alias("right_mean_micro"),
        )

    h1 = (
        base.select("y", fan)
        .select(F.col("fb.f").alias("f"), F.col("fb.bin").alias("bin"), "y")
        .groupBy("f", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    root = (
        leaf_best(h1, ["f"])
        .orderBy(F.col("gain").desc(), F.col("f").asc(), F.col("bin").asc())
        .first()  # bounded: the ONE root split drives level 2's keying
        .asDict()
    )
    leaf = F.when(
        F.col(f"b_{root['f']}") <= root["bin"], F.lit("left")
    ).otherwise(F.lit("right"))
    h2 = (
        base.select("y", leaf.alias("leaf"), fan)
        .select(
            "leaf", F.col("fb.f").alias("f"), F.col("fb.bin").alias("bin"),
            "y",
        )
        .groupBy("leaf", "f", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("leaf").orderBy(
            F.col("gain").desc(), F.col("f").asc(), F.col("bin").asc()
        )
    )
    children = (
        leaf_best(h2, ["leaf", "f"])
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            F.col("leaf").alias("node"),
            F.col("f").alias("feature"),
            F.col("bin").alias("split_bin"),
            "gain",
            "n_left",
            "n_right",
            "left_mean_micro",
            "right_mean_micro",
        )
    )
    root_row = spark.createDataFrame(
        [
            (
                "root",
                root["f"],
                int(root["bin"]),
                float(root["gain"]),
                int(root["n_left"]),
                int(root["n_right"]),
                int(root["left_mean_micro"]),
                int(root["right_mean_micro"]),
            )
        ],
        "node string, feature string, split_bin long, gain double, "
        "n_left long, n_right long, left_mean_micro long, "
        "right_mean_micro long",
    )
    return root_row.unionByName(children)


_HLL_ORACLE = """
    WITH h AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM events),
    reg AS (
        SELECT hv % 1024 AS bucket,
               max(CASE WHEN hv // 1024 = 0 THEN 51
                        ELSE 51 - length(bin(hv // 1024)) END) AS rho
        FROM h GROUP BY hv % 1024),
    fold AS (
        SELECT count(*) AS n_present,
               sum(CAST(2 AS BIGINT) ** (51 - rho)) AS z_present
        FROM reg),
    stat AS (
        SELECT CAST(1024 - n_present AS BIGINT) AS v_zero,
               CAST(z_present
                    + (1024 - n_present) * (CAST(2 AS BIGINT) ** 51)
                    AS BIGINT) AS z_num
        FROM fold),
    est AS (
        SELECT v_zero, z_num,
               (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 1024))
                   * 1024 * 1024
                   * (CAST(2 AS DOUBLE) ** 51) / CAST(z_num AS DOUBLE)
                   AS e_raw
        FROM stat)
    SELECT CAST(1024 AS BIGINT) AS m, v_zero, z_num,
           floor((CASE WHEN e_raw <= 2.5 * 1024 AND v_zero > 0
                       THEN 1024 * ln(CAST(1024 AS DOUBLE) / v_zero)
                       ELSE e_raw END) * 10000 + 0.5) / 10000
               AS hll_estimate,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS exact_distinct
    FROM est
    """


@register("hll_distinct_users", min_rows=1, oracle=_HLL_ORACLE)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A HyperLogLog sketch with an EXACT oracle — normally a sketch is
    unverifiable cross-engine (implementation-defined hashes), but with
    md5-derived registers every piece is deterministic and DuckDB
    replays the whole estimator bit-for-bit: bucket = low 10 bits of a
    60-bit md5 prefix, rho = leading-zero rank of the remaining 50-bit
    window (INTEGER string-length arithmetic on ``bin()``, no
    FP log2), registers fold with ``max`` per bucket, and the harmonic
    sum Σ2^(−M_j) is carried as the EXACT INTEGER Σ2^(51−M_j)/2^51 —
    order-independent where a naive double fold is not. Flajolet's
    small-range linear-counting correction applies on the same
    deterministic branch in both engines.

    Scale (why HLL at all): the shuffle after the map-side fold is AT
    MOST m = 1024 register rows regardless of input size, and register
    states merge associatively — the sketch of 1000 executors is the
    elementwise max of their sketches. This is the cardinality path for
    columns where exact count-distinct's full shuffle is the
    bottleneck; the estimate lands within ~3% (1.04/√m) of the exact
    count, which the output exposes side by side.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — the sketch leg, exact-oracle variant of
    the rows-only ``approx_distinct_parts``."""
    ev = load_table(spark, sf_dir, "events")
    return _hll_estimate(_hll_registers(ev), ev)


def _hll_registers(events: DataFrame) -> DataFrame:
    """``(bucket, rho)`` HLL registers of ``user_id`` over a batch or a
    streaming frame (``stream_hll_distinct`` keeps them as its state).

    No distinct() here: registers fold with max, which absorbs
    duplicate hashes for free. A pre-bucketing distinct would shuffle
    every distinct hash value — the exact full-cardinality exchange the
    sketch exists to avoid. With the straight groupBy(bucket) the
    partial (map-side) max bounds the exchange at <=1024 register rows
    per task."""
    h = events.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    )
    return (
        h.select(
            (F.col("hv") % 1024).alias("bucket"),
            # shiftright = integer hv // 1024; `/` loses bits > 2^53
            # through double on this 60-bit hash vs DuckDB's exact `//`.
            F.when(F.expr("shiftright(hv, 10)") == 0, F.lit(51))
            .otherwise(
                F.lit(51) - F.length(F.expr("bin(shiftright(hv, 10))"))
            )
            .alias("rho_row"),
        )
        .groupBy("bucket")
        .agg(F.max("rho_row").alias("rho"))
    )


def _hll_estimate(reg: DataFrame, ev: DataFrame) -> DataFrame:
    """The integer-exact estimator fold over ``reg`` (`_HLL_ORACLE`),
    beside the exact distinct count of ``ev``."""
    fold = reg.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("CAST(POW(2, 51 - rho) AS BIGINT)")).alias(
            "z_present"
        ),
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(1024.0))
    v_zero = (F.lit(1024) - F.col("n_present")).cast("long")
    z_num = (
        F.col("z_present")
        + (F.lit(1024) - F.col("n_present")) * F.lit(2**51)
    ).cast("long")
    e_raw = (
        alpha
        * F.lit(1024.0 * 1024.0)
        * F.lit(float(2**51))
        / z_num.cast("double")
    )
    lc = F.lit(1024.0) * F.log(F.lit(1024.0) / v_zero.cast("double"))
    est = F.when((e_raw <= 2.5 * 1024) & (v_zero > 0), lc).otherwise(
        e_raw
    )
    return fold.crossJoin(F.broadcast(exact)).select(
        F.lit(1024).cast("long").alias("m"),
        v_zero.alias("v_zero"),
        z_num.alias("z_num"),
        (F.floor(est * 10000 + F.lit(0.5)) / 10000).alias("hll_estimate"),
        "exact_distinct",
    )


_CMS_ORACLE = """
    WITH pos AS (
        SELECT j, user_id,
               CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':'
                         || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1024 AS c
        FROM events, range(0, 4) r(j)),
    counters AS (
        SELECT j, c, CAST(count(*) AS BIGINT) AS n
        FROM pos GROUP BY j, c),
    exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
        FROM events GROUP BY user_id),
    topk AS (
        SELECT user_id, exact_n
        FROM exact ORDER BY exact_n DESC, user_id ASC LIMIT 10),
    probes AS (
        SELECT t.user_id, t.exact_n, r.j,
               CAST(('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':'
                         || CAST(t.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1024 AS c
        FROM topk t, range(0, 4) r(j))
    SELECT p.user_id, p.exact_n,
           CAST(min(c2.n) AS BIGINT) AS cms_estimate
    FROM probes p JOIN counters c2 ON p.j = c2.j AND p.c = c2.c
    GROUP BY p.user_id, p.exact_n
    """


@register("cms_heavy_hitters", min_rows=10, oracle=_CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation with an EXACT oracle — the
    second entry in the deterministic-sketch family
    (``hll_distinct_users``): d = 4 md5-derived hash rows × w = 1024
    counters, every counter an exact integer COUNT, point estimate =
    min over the d rows (Cormode–Muthukrishnan; overestimates only, by
    ≤ εN with ε = e/w). The 10 heaviest users' estimates are emitted
    beside their exact counts, so the one-sided error bound is visible
    in the result.

    Scale: the sketch build is ONE pass fanning each row to d cells
    that COMBINE MAP-SIDE — the shuffle is ≤ d·w = 4096 counter rows at
    any input size, and two nodes' sketches merge by elementwise ADD
    (the property that makes CMS the standard distributed frequency
    sketch). The probe side touches d rows per queried key. Exact
    heavy-hitter counts here ride the same pass shape for the oracle's
    sake; a production use keeps only the sketch.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — frequency-sketch leg."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    return _cms_topk(_cms_counters(ev), ev)


def _cms_rows():
    return F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j")


def _cms_cell(j_col, key_col):
    """The counter of ``key_col`` in hash row ``j_col`` (`_CMS_ORACLE`)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        j_col.cast("string"),
                        F.lit(":"),
                        key_col.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 1024
    )


def _cms_counters(events: DataFrame) -> DataFrame:
    """``(j, c, n)`` Count-Min counters of ``user_id`` over a batch or a
    streaming frame (``stream_cms_topk`` keeps them as its state)."""
    return (
        events.select("user_id", _cms_rows())
        .select("j", _cms_cell(F.col("j"), F.col("user_id")).alias("c"))
        .groupBy("j", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _cms_topk(counters: DataFrame, ev: DataFrame) -> DataFrame:
    """The 10 heaviest users of ``ev`` probed against ``counters``:
    exact count beside the min-over-rows estimate."""
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    topk = exact.orderBy(
        F.col("exact_n").desc(), F.col("user_id").asc()
    ).limit(10)
    probes = topk.select("user_id", "exact_n", _cms_rows()).select(
        "user_id",
        "exact_n",
        "j",
        _cms_cell(F.col("j"), F.col("user_id")).alias("c"),
    )
    return (
        probes.join(F.broadcast(counters), ["j", "c"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("n").cast("long").alias("cms_estimate"))
    )


_KMV_ORACLE = """
    WITH h AS (
        SELECT DISTINCT
               CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
                     1, 15)) AS BIGINT) AS hv
        FROM events),
    small AS (SELECT hv FROM h ORDER BY hv ASC LIMIT 64),
    fold AS (SELECT count(*) AS n_seen, max(hv) AS kth FROM small)
    SELECT CAST(64 AS BIGINT) AS k,
           CAST(n_seen AS BIGINT) AS n_seen,
           CAST(kth AS BIGINT) AS kth_min,
           floor((CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE)
                       ELSE (64 - 1) * (CAST(2 AS DOUBLE) ** 60)
                            / CAST(kth AS DOUBLE) END)
                 * 10000 + 0.5) / 10000 AS kmv_estimate,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS exact_distinct
    FROM fold
    """


@register("kmv_theta_sketch", min_rows=1, oracle=_KMV_ORACLE)
def kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values (theta) distinct-count sketch with an EXACT
    oracle — third of the deterministic-sketch family: keep the k = 64
    smallest md5 values of the key; the k-th smallest estimates the
    hash density, so N̂ = (k−1)·2⁶⁰ / h₍ₖ₎ (Bar-Yossef et al.; the
    DataSketches theta sketch is this plus set algebra). Under k
    distinct values the sketch holds EVERYTHING and the estimate is
    exact — the branch both engines take deterministically.

    Scale: a KMV sketch must hold the k smallest DISTINCT hashes
    (duplicates must not occupy slots), but that does NOT require a
    global distinct — the k smallest distinct values of the whole
    column are each among the k smallest distinct values of their own
    partition. So the plan is the true theta-sketch distribution
    pattern: an Arrow-batched ``mapInPandas`` fold keeps a <=64-entry
    sorted-unique state per partition (O(k) memory, one pass, no
    exchange), then the <=64·P survivors — a metadata-sized frame —
    are distinct-merged and re-truncated to k. The only exchange in
    the plan moves at most 64 rows per input partition, at ANY input
    cardinality; two sketches union the same way (merge value lists,
    re-truncate to k). The md5 basis makes the whole estimator
    replayable in DuckDB, turning an 'approximate' operator into a
    hash-checked one.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — distinct-sketch leg, companion to
    ``hll_distinct_users``."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    )

    def _kmv_local(batches):
        import numpy as np
        import pandas as pd

        state = np.empty(0, dtype=np.int64)
        for pdf in batches:
            vals = pdf["hv"].to_numpy(dtype=np.int64)
            state = np.unique(np.concatenate([state, vals]))
            if state.size > 64:
                state = state[:64]
        yield pd.DataFrame({"hv": state})

    # Partition-local distinct-bounded top-64 fold, then a bounded
    # (<=64 rows per partition) distinct merge + re-truncate.
    local = h.mapInPandas(_kmv_local, "hv long")
    small = local.distinct().orderBy(F.col("hv").asc()).limit(64)
    fold = small.agg(
        F.count(F.lit(1)).alias("n_seen"), F.max("hv").alias("kth")
    )
    exact = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    est = F.when(
        F.col("n_seen") < 64, F.col("n_seen").cast("double")
    ).otherwise(
        F.lit(63.0) * F.lit(float(2**60)) / F.col("kth").cast("double")
    )
    return fold.crossJoin(F.broadcast(exact)).select(
        F.lit(64).cast("long").alias("k"),
        F.col("n_seen").cast("long").alias("n_seen"),
        F.col("kth").cast("long").alias("kth_min"),
        (F.floor(est * 10000 + F.lit(0.5)) / 10000).alias("kmv_estimate"),
        "exact_distinct",
    )


_AMS_ORACLE = """
    WITH signs AS (
        SELECT r.j,
               CASE WHEN CAST(('0x' || substr(md5(CAST(r.j AS VARCHAR)
                        || ':' || CAST(e.user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 2 = 1
                    THEN 1 ELSE -1 END AS s
        FROM events e, range(0, 32) r(j)),
    sums AS (SELECT j, CAST(sum(s) AS BIGINT) AS sj
             FROM signs GROUP BY j),
    grp AS (SELECT j // 8 AS g,
                   CAST(sum(sj * sj) AS DOUBLE) / 8 AS mean_est
            FROM sums GROUP BY j // 8),
    ranked AS (SELECT mean_est,
                      row_number() OVER (ORDER BY mean_est ASC, g ASC) AS rn
               FROM grp),
    med AS (SELECT CAST(sum(mean_est) AS DOUBLE) / 2 AS f2_est
            FROM ranked WHERE rn IN (2, 3)),
    exact AS (
        SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact
        FROM (SELECT CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY user_id))
    SELECT CAST(32 AS BIGINT) AS d, med.f2_est, exact.f2_exact
    FROM med, exact
    """


@register("ams_f2_joinsize", min_rows=1, oracle=_AMS_ORACLE)
def ams_f2_joinsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment (F₂) sketch with an EXACT oracle — fourth of
    the deterministic-sketch family, and the one query OPTIMIZERS care
    about: F₂ = Σ_x f_x² IS the self-join size on the key, the quantity
    a planner needs to size a join's shuffle before running it
    (Alon–Matias–Szegedy '96). Each of d = 32 estimators keeps ONE
    integer: S_j = Σ_rows ±1 with the sign drawn from an md5 bit of the
    key; E[S_j²] = F₂, and the textbook MEDIAN-OF-MEANS fold
    (4 groups × 8: the inner mean is unbiased, the outer median tames
    outlier groups — the median of RAW S_j² would systematically
    undershoot, since S² is right-skewed with median ≈ 0.45·mean)
    estimates F₂. Every S_j is an exact map-combinable integer sum, so
    the whole estimator is replayable in DuckDB bit-for-bit (group
    means and the rank-2/3 average are the same integer-derived
    arithmetic in both engines).

    Scale: one pass fans each row to d = 32 signed units that combine
    map-side — the shuffle is THIRTY-TWO rows at any input size, and two
    nodes' sketches merge by elementwise addition of the S_j. The exact
    F₂ beside it (a groupBy the sketch exists to avoid) is there for
    the oracle's error visibility.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — the join-size-estimation leg."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    rows8 = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j")
    sign = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        * 2
        - 1
    )
    sums = (
        ev.select("user_id", rows8)
        .select("j", sign.alias("s"))
        .groupBy("j")
        .agg(F.sum("s").cast("long").alias("sj"))
    )
    grp = sums.groupBy(
        F.floor(F.col("j") / 8).alias("g")
    ).agg(
        (F.sum(F.col("sj") * F.col("sj")).cast("double") / 8).alias(
            "mean_est"
        )
    )
    rn = F.row_number().over(
        Window.partitionBy(F.lit(0)).orderBy(
            F.col("mean_est").asc(), F.col("g").asc()
        )
    )
    med = (
        grp.withColumn("rn", rn)
        .filter(F.col("rn").isin(2, 3))
        .agg((F.sum("mean_est").cast("double") / 2).alias("f2_est"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"))
    )
    return med.crossJoin(F.broadcast(exact)).select(
        F.lit(32).cast("long").alias("d"), "f2_est", "f2_exact"
    )


_TWOPASS_MEDIAN_ORACLE = """
    WITH v AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        FROM lineitem),
    n AS (SELECT count(*) AS n, (count(*) + 1) // 2 AS k FROM v)
    SELECT (SELECT CAST(c AS BIGINT) FROM v, n
            ORDER BY c ASC LIMIT 1 OFFSET (SELECT k - 1 FROM n))
               AS median_cents,
           n.n AS n_rows,
           n.k AS rank_k
    FROM n
    """


@register(
    "two_pass_exact_median", min_rows=1, oracle=_TWOPASS_MEDIAN_ORACLE
)
def two_pass_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median WITHOUT a global sort — the two-pass
    histogram-refinement selection algorithm (the BinMedian idea;
    Spark's own approxQuantile gives up exactness instead):

    1. pass 1 folds values into a coarse fixed-width histogram whose
       counts COMBINE MAP-SIDE — an O(bins) shuffle at any table size;
       the cumulative histogram locates the single bin containing the
       target rank k = ⌈n/2⌉ (lower median) and how many ranks precede
       it;
    2. pass 2 re-scans only rows IN that bin (the scan's predicate
       prunes everything else) and takes the (k − preceding)-th
       smallest via TakeOrderedAndProject — a per-partition heap of a
       within-bin rank, never a sort.

    A global ORDER BY materializes and range-exchanges the whole
    column; this touches O(bins) + O(n/bins) shuffled rows. The result
    is the EXACT order statistic, hash-checked against the oracle's
    LIMIT/OFFSET selection. Integer cents everywhere, so rank
    arithmetic is engine-identical.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — exact selection at scale."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c")
    ).localCheckpoint(eager=False)  # two passes read the same projection
    width = 100_000  # 1000-dollar bins over prices up to ~100k
    hist = (
        li.select(F.floor(F.col("c") / width).cast("long").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = hist.orderBy("b").collect()  # O(bins): bounded metadata
    n = sum(r["cnt"] for r in rows)
    k = (n + 1) // 2
    cum = 0
    target_bin, before = None, 0
    for r in rows:
        if cum + r["cnt"] >= k:
            target_bin, before = int(r["b"]), cum
            break
        cum += r["cnt"]
    k_in_bin = k - before
    kth = (
        li.filter(
            F.floor(F.col("c") / width).cast("long") == target_bin
        )
        .orderBy(F.col("c").asc())
        .limit(k_in_bin)
        .agg(F.max("c").cast("long").alias("median_cents"))
    )
    return kth.select(
        "median_cents",
        F.lit(n).cast("long").alias("n_rows"),
        F.lit(k).cast("long").alias("rank_k"),
    )


_PRIORITY_SAMPLE_ORACLE = """
    WITH d AS (
        SELECT doc_id, n_chars AS w,
               CAST(('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
                     1, 15)) AS BIGINT) AS h
        FROM documents),
    c AS (
        SELECT doc_id, w,
               CAST(w AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                   / CAST(h + 1 AS DOUBLE) AS q
        FROM d ORDER BY q DESC, doc_id ASC LIMIT 51),
    r AS (SELECT doc_id, w, q,
                 row_number() OVER (ORDER BY q DESC, doc_id ASC) AS rn
          FROM c),
    t AS (SELECT min(q) AS tau FROM c)
    SELECT r.doc_id, CAST(r.w AS BIGINT) AS w,
           floor(greatest(CAST(r.w AS DOUBLE), t.tau) * 10000 + 0.5)
               / 10000 AS w_est
    FROM r, t WHERE r.rn <= 50
    """


@register("priority_sample_docs", min_rows=50, oracle=_PRIORITY_SAMPLE_ORACLE)
def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional PRIORITY SAMPLING (Duffield–Lund–Thorup,
    JACM '07) with an exact oracle — the sampling scheme a training-data
    pipeline needs when documents carry importance weights: each row
    gets priority q = w / u with u a uniform in (0, 1], the k largest
    priorities form the sample, and ŵ = max(w, τ) (τ = the (k+1)-th
    priority) is an UNBIASED per-row weight estimator, so Σŵ over the
    sample estimates any weighted subset total. Determinism rule: u is
    md5-derived ((h+1)/2⁶⁰), and q is two IEEE-correctly-rounded double
    ops (multiply, divide) on exact integers — identical bit-for-bit in
    Spark and DuckDB, unlike ln/pow-based Efraimidis–Spirakis keys,
    which is WHY priority sampling is the hash-checkable formulation.

    Scale: the k+1 largest priorities of a distributed table is
    ``TakeOrderedAndProject`` — a per-partition heap of 51 rows and a
    driver merge of 51·P candidates, never a global sort; the window
    rank and τ-join then run on the 51-row frame. One column-pruned
    scan total.

    Reference: no sampling in the 988-LoC loader; LLM-pipeline shaping
    tier (SURVEY §2.12 [EXT]) — the weighted companion of the
    deterministic corpus shuffle / reservoir family."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    q = (
        F.col("w").cast("double")
        * F.lit(float(1152921504606846976))
        / (F.col("h") + F.lit(1)).cast("double")
    )
    cand = (
        docs.select(F.col("doc_id"), F.col("n_chars").alias("w"), h.alias("h"))
        .select("doc_id", "w", q.alias("q"))
        .orderBy(F.col("q").desc(), F.col("doc_id").asc())
        .limit(51)
    )
    rn = F.row_number().over(
        Window.partitionBy(F.lit(0)).orderBy(
            F.col("q").desc(), F.col("doc_id").asc()
        )
    )
    tau = cand.agg(F.min("q").alias("tau"))
    return (
        cand.withColumn("rn", rn)
        .filter(F.col("rn") <= 50)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            F.col("w").cast("long").alias("w"),
            grid_round(
                F.greatest(F.col("w").cast("double"), F.col("tau")), 4
            ).alias("w_est"),
        )
    )


_QUANTILES_ORACLE = """
    WITH v AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem),
    n AS (SELECT count(*) AS n FROM v),
    t(p_label, num, den) AS (
        VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
               ('p90', 9, 10), ('p99', 99, 100)),
    r AS (SELECT p_label,
                 CAST((num * n.n + den - 1) // den AS BIGINT) AS rank
          FROM t, n),
    ranked AS (
        SELECT cents, row_number() OVER (ORDER BY cents ASC) AS rn FROM v)
    SELECT r.p_label, r.rank,
           CAST(ranked.cents AS BIGINT) AS value_cents
    FROM r JOIN ranked ON ranked.rn = r.rank
    """


@register("two_pass_exact_quantiles", min_rows=5, oracle=_QUANTILES_ORACLE)
def two_pass_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT multi-quantile selection (p25/p50/p75/p90/p99 at once)
    without a global sort — iterative HISTOGRAM REFINEMENT, the
    multi-rank generalization of ``two_pass_exact_median``: a coarse
    histogram locates every target rank's bin (O(bins) map-combined
    shuffle), a second histogram 1000× finer runs over ONLY the
    candidate-bin rows (fine bins nest exactly inside coarse ones, so
    frame-relative ranks recompute in the driver's O(bins) walk), and
    the final window ranks only the ~n/10⁵-row fine bins — every
    shuffle in the plan is either O(bins) counters or a vanishing
    fraction of the data, and no stage sorts more than a fine bin (the
    one-level version window-sorted whole coarse bins: a 5-partition
    skew that cost 2.9× at 8× data; this version is flat). Ranks are
    type-1 (⌈p·n⌉-th smallest) in integer arithmetic
    ((num·n + den − 1) div den) so both engines pick the same row;
    values are integer cents, so the result hash-checks exactly.

    A global ORDER BY + five OFFSET probes (the oracle's formulation)
    range-exchanges the entire column; percentile_approx gives up
    exactness. This is the plan you want for feature binning / SLA
    percentiles over 100 TB when they must be EXACT.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT])."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=False)  # all passes read this projection
    )

    def hist_rows(frame, width):
        """One map-combined histogram of ``frame`` at ``width``, collected
        and sorted IN THE DRIVER (O(bins) rows — an orderBy here would add
        a whole range-exchange stage to sort what the driver sorts for
        free)."""
        return sorted(
            frame.select(
                F.floor(F.col("cents") / width).cast("long").alias("b")
            )
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect(),
            key=lambda r: r["b"],
        )

    def walk(rows, ranks):
        """Cumulative walk over sorted histogram rows: for each (label,
        global_rank, rank_within_frame) return the bin holding it and the
        rank WITHIN that bin."""
        out = []
        for label, grank, frank in ranks:
            cum = 0
            for r in rows:
                if cum + r["cnt"] >= frank:
                    out.append((label, grank, int(r["b"]), frank - cum))
                    break
                cum += r["cnt"]
        return out

    # level 1: coarse bins over the whole column; n = the histogram's own
    # total, so the count() pass the old version paid first is free
    rows1 = hist_rows(li, 100_000)
    n = sum(r["cnt"] for r in rows1)
    ranks = []
    for label, num, den in (
        ("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
        ("p90", 9, 10), ("p99", 99, 100),
    ):
        rank = (num * n + den - 1) // den
        ranks.append((label, rank, rank))
    lvl1 = walk(rows1, ranks)
    need1 = sorted({b for _, _, b, _ in lvl1})
    cand = li.filter(
        F.floor(F.col("cents") / 100_000).cast("long").isin(need1)
    ).localCheckpoint(eager=False)
    # level 2: refine ONLY candidate-bin rows at 1000x finer width; the
    # within-level-1 offset is recovered because level-2 bins nest
    # exactly inside level-1 bins (100_000 = 1000 * 100), so the frame
    # rank within `cand` locates the right fine bin for each target:
    # rank_within_cand = offset_in_bin1 + rows of OTHER selected bins
    # before it. The fine histogram also SUPPLIES the per-coarse-bin
    # counts (fine bins nest: b DIV 1000 is the coarse bin), so one
    # collect serves both walks — the old version paid a separate
    # coarse-histogram job over cand first.
    lvl1_by_label = {lab: (b, off) for lab, _, b, off in lvl1}
    rows2 = hist_rows(cand, 100)
    cum_before = {}
    cum = 0
    prev = None
    for r in rows2:  # rows sorted by fine bin → coarse groups are runs
        cb = int(r["b"]) // 1000  # Python // floors like F.floor: nested bins
        if cb != prev:
            cum_before[cb] = cum
            prev = cb
        cum += r["cnt"]
    ranks2 = [
        (lab, grank, cum_before[lvl1_by_label[lab][0]] + lvl1_by_label[lab][1])
        for lab, grank, _ in ranks
    ]
    lvl2 = walk(rows2, ranks2)
    need2 = sorted({b for _, _, b, _ in lvl2})
    tdf = spark.createDataFrame(
        lvl2, "p_label string, rank long, tb long, toff long"
    )
    # final: rank rows inside the ~n/10^5-row fine bins only
    rn = F.row_number().over(
        Window.partitionBy("b").orderBy(F.col("cents").asc())
    )
    picked = (
        cand.withColumn("b", F.floor(F.col("cents") / 100).cast("long"))
        .filter(F.col("b").isin(need2))
        .withColumn("rn", rn)
        .join(
            F.broadcast(tdf),
            (F.col("b") == F.col("tb")) & (F.col("rn") == F.col("toff")),
        )
    )
    return picked.select(
        "p_label",
        F.col("rank").cast("long").alias("rank"),
        F.col("cents").cast("long").alias("value_cents"),
    )


_CASCADE_ORACLE = """
    WITH d AS (
        SELECT doc_id, text, n_chars,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '') AS tk,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS alpha_chars,
               length(text) AS total_chars
        FROM documents),
    f AS (
        SELECT doc_id,
               n_chars < 120 AS f1,
               2 * alpha_chars < total_chars AS f2,
               2 * len(list_distinct(tk)) < len(tk) AS f3,
               coalesce(list_sum(list_transform(tk, t -> length(t))), 0)
                   > 12 * len(tk) AS f4
        FROM d),
    k AS (
        SELECT doc_id, f1, f2, f3, f4,
               CASE WHEN f1 THEN 1 WHEN f2 THEN 2 WHEN f3 THEN 3
                    WHEN f4 THEN 4 ELSE 0 END AS first_kill
        FROM f),
    agg AS (
        SELECT count(*) AS n_docs,
               CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
               CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
               CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
               CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS a4,
               CAST(sum(CASE WHEN first_kill = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k1,
               CAST(sum(CASE WHEN first_kill = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k2,
               CAST(sum(CASE WHEN first_kill = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k3,
               CAST(sum(CASE WHEN first_kill = 4 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k4
        FROM k),
    rules(rule, rule_order) AS (
        VALUES ('too_short', 1), ('low_alpha', 2),
               ('repetitive', 3), ('long_words', 4))
    SELECT r.rule, CAST(r.rule_order AS BIGINT) AS rule_order,
           CASE r.rule_order WHEN 1 THEN a1 WHEN 2 THEN a2
                WHEN 3 THEN a3 ELSE a4 END AS n_fail_any,
           CASE r.rule_order WHEN 1 THEN k1 WHEN 2 THEN k2
                WHEN 3 THEN k3 ELSE k4 END AS n_first_kill,
           CAST(n_docs - (CASE WHEN r.rule_order >= 1 THEN k1 ELSE 0 END
                          + CASE WHEN r.rule_order >= 2 THEN k2 ELSE 0 END
                          + CASE WHEN r.rule_order >= 3 THEN k3 ELSE 0 END
                          + CASE WHEN r.rule_order >= 4 THEN k4 ELSE 0 END)
                AS BIGINT) AS survivors_after
    FROM rules r, agg
    """


@register("filter_cascade_stats", min_rows=4, oracle=_CASCADE_ORACLE)
def filter_cascade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter CASCADE attribution — the report a corpus-curation
    pipeline (C4/FineWeb style) needs before committing to a rule set:
    four ordered heuristic rules (too-short, low-alpha-ratio,
    repetitive-vocabulary, implausibly-long words), and for each rule
    BOTH its marginal kill count (docs failing it at all) and its
    FIRST-KILL count (docs it removes given the cascade order), plus the
    survivor count after each stage — first-kill sums telescope to the
    total removed, so rule-order debates are settled by the numbers.
    Every rule is an INTEGER comparison (2·alpha < total, 2·distinct <
    tokens, token-chars > 12·tokens), so the whole report hash-checks
    exactly; tokenization is the engine-wide whitespace rule.

    Scale: one pass — per-doc flags are row-local expressions, the
    cascade folds to NINE map-combined counters (4 any + 4 first + n),
    and the 4-row report is a literal pivot of the one aggregate row.
    Nothing shuffles but the counter row.

    Reference: no text analysis in the 988-LoC loader; LLM-pipeline
    quality tier (SURVEY §2.12 [EXT]) — the attribution companion of
    ``quality_score`` / ``scrub_documents``."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens_expr(F.col("text"))
    d = docs.select(
        "doc_id",
        "n_chars",
        tk.alias("tk"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias(
            "alpha_chars"
        ),
        F.length("text").alias("total_chars"),
    )
    f = d.select(
        (F.col("n_chars") < 120).alias("f1"),
        (2 * F.col("alpha_chars") < F.col("total_chars")).alias("f2"),
        (2 * F.size(F.array_distinct("tk")) < F.size("tk")).alias("f3"),
        (
            F.coalesce(
                F.expr(
                    "aggregate(transform(tk, t -> length(t)), 0L,"
                    " (a, x) -> a + x)"
                ),
                F.lit(0),
            )
            > 12 * F.size("tk")
        ).alias("f4"),
    )
    k = f.withColumn(
        "first_kill",
        F.when(F.col("f1"), 1)
        .when(F.col("f2"), 2)
        .when(F.col("f3"), 3)
        .when(F.col("f4"), 4)
        .otherwise(0),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = k.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[cnt(F.col(f"f{i}")).alias(f"a{i}") for i in (1, 2, 3, 4)],
        *[
            cnt(F.col("first_kill") == i).alias(f"k{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    rules = spark.createDataFrame(
        [("too_short", 1), ("low_alpha", 2), ("repetitive", 3),
         ("long_words", 4)],
        "rule string, rule_order long",
    )
    j = rules.crossJoin(F.broadcast(agg))
    pick = lambda pre: F.when(F.col("rule_order") == 1, F.col(f"{pre}1")) \
        .when(F.col("rule_order") == 2, F.col(f"{pre}2")) \
        .when(F.col("rule_order") == 3, F.col(f"{pre}3")) \
        .otherwise(F.col(f"{pre}4"))  # noqa: E731
    killed_cum = (
        F.when(F.col("rule_order") >= 1, F.col("k1")).otherwise(0)
        + F.when(F.col("rule_order") >= 2, F.col("k2")).otherwise(0)
        + F.when(F.col("rule_order") >= 3, F.col("k3")).otherwise(0)
        + F.when(F.col("rule_order") >= 4, F.col("k4")).otherwise(0)
    )
    return j.select(
        "rule",
        F.col("rule_order").cast("long").alias("rule_order"),
        pick("a").alias("n_fail_any"),
        pick("k").alias("n_first_kill"),
        (F.col("n_docs") - killed_cum).cast("long").alias("survivors_after"),
    )


_AMS_JOIN_ORACLE = """
    WITH ha AS (
        SELECT CAST(('0x' || substr(md5('aj:'
                   || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM orders),
    hb AS (
        SELECT CAST(('0x' || substr(md5('aj:'
                   || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM lineitem),
    sa AS (
        SELECT r.j,
               CAST(sum(2 * ((ha.h >> r.j) & 1) - 1) AS BIGINT) AS sj
        FROM ha, range(0, 32) r(j) GROUP BY r.j),
    sb AS (
        SELECT r.j,
               CAST(sum(2 * ((hb.h >> r.j) & 1) - 1) AS BIGINT) AS sj
        FROM hb, range(0, 32) r(j) GROUP BY r.j),
    prod AS (
        SELECT sa.j, CAST(sa.sj * sb.sj AS BIGINT) AS pj
        FROM sa JOIN sb ON sa.j = sb.j),
    grp AS (SELECT j // 8 AS g, CAST(sum(pj) AS DOUBLE) / 8 AS mean_est
            FROM prod GROUP BY j // 8),
    ranked AS (SELECT mean_est,
                      row_number() OVER (ORDER BY mean_est ASC, g ASC) AS rn
               FROM grp),
    med AS (SELECT CAST(sum(mean_est) AS DOUBLE) / 2 AS join_est
            FROM ranked WHERE rn IN (2, 3)),
    exact AS (
        SELECT CAST(sum(fa.c * fb.c) AS BIGINT) AS join_exact
        FROM (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c
              FROM orders GROUP BY o_orderkey) fa
        JOIN (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c
              FROM lineitem GROUP BY l_orderkey) fb ON fa.k = fb.k)
    SELECT CAST(32 AS BIGINT) AS d, med.join_est, exact.join_exact
    FROM med, exact
    """


@register("ams_join_estimate", min_rows=1, oracle=_AMS_JOIN_ORACLE)
def ams_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS sketch INNER PRODUCT as a cross-table join-size estimate —
    the planning question the r8 ``ams_f2_joinsize`` self-join sketch
    generalizes to: |A ⋈ B| on a key = Σ_k f_A(k)·f_B(k), and with the
    SAME md5-derived ±1 sign family on both tables (estimator j reads
    bit j of ONE 60-bit md5 per row — one hash, 32 signs),
    E[S_j^A · S_j^B] = Σ f_A f_B (Alon–Matias–Szegedy '96 §3; the
    classic sketch-based join-size estimator a cost-based optimizer
    consults before choosing broadcast vs shuffle). d = 32 estimators,
    textbook median-of-means fold (4 groups × 8); every S_j is an exact
    map-combinable integer so the whole estimator replays in DuckDB
    bit-for-bit, with the exact join size (a count the sketch exists to
    avoid) alongside for error visibility.

    Scale: ONE pass per table folding to per-key counts (the exact leg's
    frames), from which BOTH legs derive — the sketch hashes each
    DISTINCT key once and weights its 32 sign bits by the key's count
    (Σ_rows bit_j(h) = Σ_keys c·bit_j(h), exact integers), so the md5
    work is O(distinct keys) and the whole estimator folds map-side to
    one row per table. Two tables' sketches ALSO estimate their join
    size without co-locating either — the property that lets a planner
    size a shuffle it has not yet run.

    r11 shape (the r10 construction-time collect regressed on the driver
    box — two serial queries paid the per-query driver/AQE floor twice):
    the median-of-means fold now runs IN-PLAN on the two 1-row sketch
    frames, so the whole query is ONE action; AQE runs the sketch and
    exact legs' independent stages concurrently, and the exchange under
    each per-key groupBy is shared by its two consumers. The fold's
    arithmetic is bit-identical to the oracle's: all group means are
    dyadic rationals far inside 2^53 (exact BIGINT sums, /8), so
    (Σmeans − least − greatest)/2 IS the sorted middle-two mean — every
    double op is exact, no rounding anywhere.

    Reference: no planner in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — the cross-table leg of the
    deterministic-sketch family."""

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    fa = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    fb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    # estimator j draws its sign from bit j of ONE 60-bit md5 per
    # DISTINCT key: ones_j = Σ_keys c · ((h >> j) & 1); S_j = 2·ones_j − N
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("aj:"), F.col("k").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")

    def sketch(freq, c_col, pre):
        return freq.select(F.col(c_col).alias("c"), h.alias("h")).agg(
            F.sum("c").cast("long").alias(f"{pre}n"),
            *[
                F.sum(F.col("c") * F.expr(f"shiftright(h, {j}) & 1"))
                .cast("long")
                .alias(f"{pre}o{j}")
                for j in range(32)
            ],
        )

    sk = sketch(fa, "ca", "a").crossJoin(sketch(fb, "cb", "b"))
    pj = [
        (
            (2 * F.col(f"ao{j}") - F.col("an"))
            * (2 * F.col(f"bo{j}") - F.col("bn"))
        ).cast("long")
        for j in range(32)
    ]
    means = []
    for g in range(4):
        s = pj[8 * g]
        for j in range(8 * g + 1, 8 * g + 8):
            s = s + pj[j]
        means.append(s.cast("double") / F.lit(8))
    total = means[0] + means[1] + means[2] + means[3]
    est = sk.select(
        (
            (total - F.least(*means) - F.greatest(*means)) / F.lit(2)
        ).alias("join_est")
    )
    exact = (
        fa.join(fb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("join_exact"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.lit(32).cast("long").alias("d"),
        "join_est",
        "join_exact",
    )


_HLL_UNION_ORACLE = f"""
    WITH pos AS (
        SELECT source, text,
               unnest(generate_series(1, length(text) - 3)) AS i
        FROM documents WHERE length(text) >= 4),
    tok AS (
        SELECT source, substr(text, CAST(i AS INT), 4) AS t FROM pos),
    h AS (
        SELECT source,
               CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv
        FROM tok),
    reg AS (
        SELECT source, hv % 1024 AS bucket,
               max(CASE WHEN hv // 1024 = 0 THEN 51
                        ELSE 51 - length(bin(hv // 1024)) END) AS rho
        FROM h GROUP BY source, hv % 1024),
    reg_all AS (
        SELECT '__union__' AS source, bucket, max(rho) AS rho
        FROM reg GROUP BY bucket
        UNION ALL SELECT source, bucket, rho FROM reg),
    fold AS (
        SELECT source, count(*) AS n_present,
               sum(CAST(2 AS BIGINT) ** (51 - rho)) AS z_present
        FROM reg_all GROUP BY source),
    stat AS (
        SELECT source, CAST(1024 - n_present AS BIGINT) AS v_zero,
               CAST(z_present + (1024 - n_present)
                    * (CAST(2 AS BIGINT) ** 51) AS BIGINT) AS z_num
        FROM fold),
    est AS (
        SELECT source, v_zero, z_num,
               (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 1024))
                   * 1024 * 1024 * (CAST(2 AS DOUBLE) ** 51)
                   / CAST(z_num AS DOUBLE) AS e_raw
        FROM stat),
    exact AS (
        SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS exact_distinct
        FROM tok GROUP BY source
        UNION ALL
        SELECT '__union__', CAST(count(DISTINCT t) AS BIGINT) FROM tok)
    SELECT e.source AS scope, e.v_zero, e.z_num,
           floor((CASE WHEN e.e_raw <= 2.5 * 1024 AND e.v_zero > 0
                       THEN 1024 * ln(CAST(1024 AS DOUBLE) / e.v_zero)
                       ELSE e.e_raw END) * 10000 + 0.5) / 10000
               AS hll_estimate,
           x.exact_distinct
    FROM est e JOIN exact x ON e.source = x.source
    """


@register("hll_union_sources", min_rows=3, oracle=_HLL_UNION_ORACLE)
def hll_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA — the merge property demonstrated as an operator:
    per-source character-4-gram shingle-space sketches (tens of
    thousands of distincts — the genuine raw-HLL regime, not linear
    counting; groupBy(source, bucket).max)
    plus a '__union__' row whose registers are the ELEMENTWISE MAX of
    the per-source register table — the union estimate is derived purely
    from the sketches, never re-touching the data, which is exactly how
    N nodes' (or N days') sketches combine on a cluster. Answers the
    curation question "how much n-gram space do my sources share?"
    (union < Σ per-source ⇒ overlap) at sketch cost. Deterministic
    md5 registers, same integer-exact fold as ``hll_distinct_users``;
    exact distincts alongside for error visibility.

    Scale: the data pass shuffles ≤ sources·1024 register rows at any
    corpus size; the union fold runs on that register table (metadata-
    sized). The exact-distinct companion is the full shuffle the sketch
    avoids — kept only for the oracle's sake.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — the set-algebra leg of the
    deterministic-sketch family (KMV set algebra's HLL twin)."""
    docs = load_table(spark, sf_dir, "documents")
    # Docs shorter than 4 chars have NO 4-gram shingles. Without this
    # filter Spark's sequence(1, length-3) would run DESCENDING for
    # short text (sequence(1, 0) = [1, 0]), fabricating shingles the
    # oracle's generate_series correctly omits — filter first so both
    # engines see the identical shingle set on any fixture.
    tok = docs.filter(F.length("text") >= 4).select(
        "source",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - F.lit(3))
        ).alias("i"),
        "text",
    ).select("source", F.expr("substring(text, i, 4)").alias("t"))
    hv = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    # shiftright(hv, 10) is INTEGER hv // 1024 — `/` would go through
    # double and lose bits above 2^53 on this 60-bit hash, flipping rho
    # on boundary-adjacent values vs DuckDB's exact `//`.
    rho_row = F.when(F.expr("shiftright(hv, 10)") == 0, F.lit(51)).otherwise(
        F.lit(51) - F.length(F.expr("bin(shiftright(hv, 10))"))
    )
    # ONE shingle pass: HLL registers are duplicate-insensitive (max over
    # rows), so the sketch leg and BOTH exact-distinct companions derive
    # from the DISTINCT (source, shingle) frame — before, the explode ran
    # once per leg (three corpus passes) and md5 hashed every occurrence;
    # now it hashes each distinct shingle once. The distinct frame is
    # shingle-space-sized (tens of thousands of rows — the exact legs'
    # countDistinct expansions already shuffled these same pairs), so the
    # lazy checkpoint is cheap and feeds all three consumers.
    dist = tok.distinct().localCheckpoint(eager=False)
    reg = (
        dist.select("source", hv.alias("hv"))
        .select("source", (F.col("hv") % 1024).alias("bucket"),
                rho_row.alias("rho_row"))
        .groupBy("source", "bucket")
        .agg(F.max("rho_row").alias("rho"))
        .localCheckpoint(eager=False)  # union fold re-reads the registers
    )
    reg_union = reg.groupBy("bucket").agg(F.max("rho").alias("rho")).select(
        F.lit("__union__").alias("source"), "bucket", "rho"
    )
    reg_all = reg_union.unionByName(reg.select("source", "bucket", "rho"))
    fold = reg_all.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("CAST(POW(2, 51 - rho) AS BIGINT)")).alias("z_present"),
    )
    exact = (
        dist.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
        .unionByName(
            dist.select("t").distinct().agg(
                F.count(F.lit(1)).cast("long").alias("exact_distinct")
            ).select(F.lit("__union__").alias("source"), "exact_distinct")
        )
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(1024.0))
    v_zero = (F.lit(1024) - F.col("n_present")).cast("long")
    z_num = (
        F.col("z_present")
        + (F.lit(1024) - F.col("n_present")) * F.lit(2**51)
    ).cast("long")
    e_raw = (
        alpha * F.lit(1024.0 * 1024.0) * F.lit(float(2**51))
        / z_num.cast("double")
    )
    lc = F.lit(1024.0) * F.log(F.lit(1024.0) / v_zero.cast("double"))
    est = F.when((e_raw <= 2.5 * 1024) & (v_zero > 0), lc).otherwise(e_raw)
    return (
        fold.select(
            F.col("source").alias("scope"),
            v_zero.alias("v_zero"),
            z_num.alias("z_num"),
            (F.floor(est * 10000 + F.lit(0.5)) / 10000).alias(
                "hll_estimate"
            ),
            "source",
        )
        .join(F.broadcast(exact), "source")
        .drop("source")
    )


_GROUPED_MEDIAN_ORACLE = """
    WITH v AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem),
    n AS (SELECT g, count(*) AS n_rows, (count(*) + 1) // 2 AS rank_k
          FROM v GROUP BY g),
    ranked AS (
        SELECT g, cents,
               row_number() OVER (PARTITION BY g ORDER BY cents ASC) AS rn
        FROM v)
    SELECT n.g, CAST(n.n_rows AS BIGINT) AS n_rows,
           CAST(n.rank_k AS BIGINT) AS rank_k,
           CAST(ranked.cents AS BIGINT) AS median_cents
    FROM n JOIN ranked ON ranked.g = n.g AND ranked.rn = n.rank_k
    """


@register("grouped_exact_median", min_rows=3, oracle=_GROUPED_MEDIAN_ORACLE)
def grouped_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median WITHOUT per-group sorts — the GROUPED
    generalization of the histogram-refinement selection family: ONE
    (group, bin) histogram pass (map-combined, O(groups·bins) shuffle at
    any table size) locates every group's rank-k bin in a driver walk,
    then one second pass ranks only rows inside the located (group, bin)
    cells — each a ~n_g/bins sliver. The naive plan
    (``row_number() OVER (PARTITION BY g ORDER BY v)``, the oracle's
    formulation) shuffles and SORTS the entire table and serializes each
    group into one task — with skewed groups (this fixture's 3
    return-flags; a real corpus's languages) the largest group becomes
    the straggler. Here no task ever sorts more than one histogram
    cell. Integer cents + integer rank arithmetic ((n+1) div 2) keep
    both engines on the same row.

    Scale: grouped percentiles (per-language length medians, per-source
    quality cutoffs) are a daily curation need; this is the plan that
    survives a 3-language 100 TB corpus where per-group sort cannot.

    Reference: no analytics in the 988-LoC loader; in-engine statistics
    tier (SURVEY §2.12 [EXT]) — third member of the refinement-selection
    family (global median, global multi-quantile, grouped median)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("g"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .localCheckpoint(eager=False)  # both passes read this projection
    )
    width = 100_000
    hist = (
        li.select("g", F.floor(F.col("cents") / width).cast("long").alias("b"))
        .groupBy("g", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    rows = hist.orderBy("g", "b").collect()  # O(groups·bins): metadata
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append((int(r["b"]), int(r["cnt"])))
    targets = []  # (g, n_rows, rank_k, bin, offset_in_bin)
    for g, bins in by_g.items():
        n = sum(c for _, c in bins)
        k = (n + 1) // 2
        cum = 0
        for b, c in bins:
            if cum + c >= k:
                targets.append((g, n, k, b, k - cum))
                break
            cum += c
    tdf = spark.createDataFrame(
        targets, "tg string, n_rows long, rank_k long, tb long, toff long"
    )
    rn = F.row_number().over(
        Window.partitionBy("g", "b").orderBy(F.col("cents").asc())
    )
    pairs = [(g, b) for g, _, _, b, _ in targets]
    picked = (
        li.withColumn("b", F.floor(F.col("cents") / width).cast("long"))
        .filter(
            F.concat(F.col("g"), F.lit(":"), F.col("b").cast("string")).isin(
                [f"{g}:{b}" for g, b in pairs]
            )
        )
        .withColumn("rn", rn)
        .join(
            F.broadcast(tdf),
            (F.col("g") == F.col("tg"))
            & (F.col("b") == F.col("tb"))
            & (F.col("rn") == F.col("toff")),
        )
    )
    return picked.select(
        "g",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("rank_k").cast("long").alias("rank_k"),
        F.col("cents").cast("long").alias("median_cents"),
    )


_CONSTRAINT_AUDIT_ORACLE = """
    WITH base AS (
        SELECT o_orderstatus, o_orderpriority,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               END AS tp
        FROM orders),
    f AS (
        SELECT (tp <= 30000000) AS c1,
               (o_orderstatus IN ('F', 'O', 'P')) AS c2,
               (o_orderpriority IS NOT NULL) AS c3
        FROM base),
    agg AS (
        SELECT
          CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
          CAST(sum(CASE WHEN c1 = false THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
          CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
          CAST(sum(CASE WHEN c2 = false THEN 1 ELSE 0 END) AS BIGINT) AS f2,
          CAST(sum(CASE WHEN c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2,
          CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
          CAST(sum(CASE WHEN c3 = false THEN 1 ELSE 0 END) AS BIGINT) AS f3,
          CAST(sum(CASE WHEN c3 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u3
        FROM f),
    names(cname, ord) AS (
        VALUES ('price_cap', 1), ('status_known', 2),
               ('priority_nonnull', 3))
    SELECT cname,
           CASE ord WHEN 1 THEN p1 WHEN 2 THEN p2 ELSE p3 END AS n_pass,
           CASE ord WHEN 1 THEN f1 WHEN 2 THEN f2 ELSE f3 END AS n_fail,
           CASE ord WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END AS n_unknown,
           CAST(CASE WHEN (CASE ord WHEN 1 THEN f1 WHEN 2 THEN f2
                           ELSE f3 END) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS would_block
    FROM names, agg
    """


@register("check_constraint_audit", min_rows=3, oracle=_CONSTRAINT_AUDIT_ORACLE)
def check_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint DRY-RUN as a query — before setting a constraint
    on a lakehouse table (``manifest.set_check_constraint``, which
    validates and refuses atomically) you want its three-valued outcome
    profile: per candidate constraint, how many rows PASS (TRUE), FAIL
    (FALSE — these alone block the commit, the SQL CHECK rule), or are
    UNKNOWN (NULL — these pass, which is why NOT NULL must be explicit).
    A deterministic null slice (orderkey ≡ 0 mod 97 → NULL price) makes
    all three outcomes visible in the fixture. Counts are exact
    integers.

    Scale: one pass, nine map-combined counters, a 3-row literal pivot —
    the audit costs one scan regardless of how many constraints are
    profiled together (they fold in the same aggregate).

    Reference: no constraints in the 988-LoC loader (the target
    Postgres schema was the implicit contract); lakehouse integrity
    tier (SURVEY §2.12 [EXT]) — the query-surface face of
    ``set_check_constraint``'s write-path enforcement."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderstatus",
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None)).otherwise(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("tp"),
    )
    f = base.select(
        (F.col("tp") <= 30000000).alias("c1"),
        F.col("o_orderstatus").isin("F", "O", "P").alias("c2"),
        F.col("o_orderpriority").isNotNull().alias("c3"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    aggs = []
    for i in (1, 2, 3):
        c = F.col(f"c{i}")
        aggs += [
            cnt(c.eqNullSafe(F.lit(True))).alias(f"p{i}"),
            cnt(c.eqNullSafe(F.lit(False))).alias(f"f{i}"),
            cnt(c.isNull()).alias(f"u{i}"),
        ]
    agg = f.agg(*aggs)
    names = spark.createDataFrame(
        [("price_cap", 1), ("status_known", 2), ("priority_nonnull", 3)],
        "cname string, ord long",
    )
    j = names.crossJoin(F.broadcast(agg))
    pick = lambda pre: F.when(F.col("ord") == 1, F.col(f"{pre}1")) \
        .when(F.col("ord") == 2, F.col(f"{pre}2")) \
        .otherwise(F.col(f"{pre}3"))  # noqa: E731
    return j.select(
        "cname",
        pick("p").alias("n_pass"),
        pick("f").alias("n_fail"),
        pick("u").alias("n_unknown"),
        F.when(pick("f") > 0, 1).otherwise(0).cast("long").alias(
            "would_block"
        ),
    )
