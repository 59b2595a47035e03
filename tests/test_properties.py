"""Property-based tests (hypothesis): the operators whose edge cases are
hardest to enumerate by hand.

- as-of join vs pandas merge_asof (the reference implementation of asof
  semantics everyone agrees on);
- target-schema normalization must preserve null positions through
  int/bool casts (the reference's cast_pandas contract,
  /root/reference/pandas_to_postgres/utilities.py:119-167);
- deterministic sampler membership is a pure function of the key.

Each example runs a Spark job, so max_examples stays small and deadlines
are off; the value is in the generated shapes (dup timestamps, empty
sides, all-null columns), not the example count.
"""

import datetime

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pandas_to_postgres_spark.operators.joins import asof_join

BASE = datetime.datetime(2024, 1, 1)


def ts_list(n):
    return st.lists(
        st.integers(min_value=0, max_value=50).map(
            lambda m: BASE + datetime.timedelta(minutes=m)
        ),
        min_size=0,
        max_size=n,
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    left_ts=ts_list(6),
    right_ts=ts_list(6),
    keys=st.lists(st.integers(min_value=1, max_value=2), min_size=12, max_size=12),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts, keys):
    left_rows = [
        (keys[i], t, f"L{i}") for i, t in enumerate(left_ts)
    ]
    # unique (k, ts) on the right: with duplicates, "the latest right row"
    # is ambiguous (both engines pick arbitrarily) — not a property to test
    right_rows = list(
        {(keys[6 + i], t): (keys[6 + i], t, float(i)) for i, t in enumerate(right_ts)}.values()
    )
    left = spark.createDataFrame(
        left_rows or [(None, None, None)], "k long, ts timestamp, tag string"
    ).filter("k IS NOT NULL")
    right = spark.createDataFrame(
        right_rows or [(None, None, None)], "k long, ts timestamp, v double"
    ).filter("k IS NOT NULL")

    got = {
        (r.k, r.ts, r.tag): r.v_asof
        for r in asof_join(left, right, on="ts", by="k", value_cols=["v"]).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "ts", "tag"]).sort_values(["ts", "k", "tag"])
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values(["ts", "k", "v"])
    if len(lp) == 0:
        assert got == {}
        return
    if len(rp) == 0:
        expect = {(r.k, r.ts, r.tag): None for r in lp.itertuples()}
    else:
        m = pd.merge_asof(
            lp.sort_values("ts"), rp.sort_values("ts"), on="ts", by="k", direction="backward"
        )
        expect = {
            (r.k, r.ts, r.tag): (None if pd.isna(r.v) else r.v) for r in m.itertuples()
        }
    assert got == expect


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
        min_size=0,
        max_size=20,
    ),
    flags=st.lists(st.one_of(st.none(), st.booleans()), min_size=0, max_size=20),
)
def test_normalize_preserves_null_positions(spark, vals, flags):
    from pyspark.sql import types as T

    from pandas_to_postgres_spark.functions.normalize import cast_to_target_schema

    n = max(len(vals), len(flags))
    vals = (vals + [None] * n)[:n]
    flags = (flags + [None] * n)[:n]
    rows = [(i, float(v) if v is not None else None, f) for i, (v, f) in enumerate(zip(vals, flags))]
    df = spark.createDataFrame(rows or [(0, None, None)], "i long, x double, b boolean")
    if not rows:
        df = df.filter("i < 0")
    target = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("b", T.BooleanType()),
        ]
    )
    out = {r.i: (r.x, r.b) for r in cast_to_target_schema(df, target).collect()}
    assert len(out) == len(rows)
    for i, (v, f) in enumerate(zip(vals, flags)):
        x, b = out[i]
        assert (x is None) == (v is None)
        if v is not None:
            assert x == v
        assert b == f


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(min_value=0.0, max_value=1.0))
def test_sampler_membership_is_pure(spark, frac):
    from pandas_to_postgres_spark.operators.sampling import (
        stratified_sample_deterministic,
    )

    df = spark.createDataFrame([(i, "s") for i in range(200)], "id long, lang string")
    a = {r.id for r in stratified_sample_deterministic(df, "id", "lang", {"s": frac}).collect()}
    b = {r.id for r in stratified_sample_deterministic(df.repartition(7), "id", "lang", {"s": frac}).collect()}
    assert a == b
    if frac == 0.0:
        assert a == set()
    if frac == 1.0:
        assert len(a) == 200


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    left_ts=ts_list(5),
    right_ts=ts_list(5),
    keys=st.lists(st.integers(min_value=1, max_value=2), min_size=10, max_size=10),
    direction=st.sampled_from(["backward", "forward"]),
    tol_minutes=st.one_of(st.none(), st.integers(min_value=0, max_value=20)),
)
def test_asof_direction_tolerance_matches_pandas(
    spark, left_ts, right_ts, keys, direction, tol_minutes
):
    left_rows = [(keys[i], t, f"L{i}") for i, t in enumerate(left_ts)]
    right_rows = list(
        {(keys[5 + i], t): (keys[5 + i], t, float(i)) for i, t in enumerate(right_ts)}.values()
    )
    left = spark.createDataFrame(
        left_rows or [(None, None, None)], "k long, ts timestamp, tag string"
    ).filter("k IS NOT NULL")
    right = spark.createDataFrame(
        right_rows or [(None, None, None)], "k long, ts timestamp, v double"
    ).filter("k IS NOT NULL")
    tol = None if tol_minutes is None else tol_minutes * 60.0

    got = {
        (r.k, r.ts, r.tag): r.v_asof
        for r in asof_join(
            left, right, on="ts", by="k", value_cols=["v"],
            direction=direction, tolerance=tol,
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "ts", "tag"])
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"])
    if len(lp) == 0:
        assert got == {}
        return
    if len(rp) == 0:
        expect = {(r.k, r.ts, r.tag): None for r in lp.itertuples()}
    else:
        m = pd.merge_asof(
            lp.sort_values("ts"),
            rp.sort_values("ts"),
            on="ts",
            by="k",
            direction=direction,
            tolerance=None if tol is None else pd.Timedelta(seconds=tol),
        )
        expect = {
            (r.k, r.ts, r.tag): (None if pd.isna(r.v) else r.v) for r in m.itertuples()
        }
    assert got == expect


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha bravo charlie delta echo fox golf hotel".split()),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_jaccard_equals_allpairs(spark, docs, threshold):
    """Prefix filtering must find EXACTLY the all-pairs result at any
    threshold — the recall guarantee is a theorem, not a heuristic, so
    hypothesis hunts for the counterexample (tiny vocab → heavy collisions,
    empty docs, duplicate docs)."""
    from pyspark.sql import functions as F

    from pandas_to_postgres_spark.operators.dedup import (
        ngram_jaccard_prefix,
        shingles_expr,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_prefix(df, "text", "doc_id", threshold).collect()
    }
    sh = df.select("doc_id", shingles_expr("text", 1).alias("tk"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("tk").alias("ta"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("tk").alias("tb"))
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("ta", "tb")).cast("double")
                / F.size(F.array_union("ta", "tb")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a_iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=600),
            st.integers(min_value=0, max_value=600),
        ),
        min_size=0,
        max_size=12,
    ),
    b_iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=600),
            st.integers(min_value=0, max_value=600),
        ),
        min_size=0,
        max_size=12,
    ),
)
def test_interval_overlap_bucketing_equals_nested_loop(spark, a_iv, b_iv):
    """The hour-bucketed equi-join rewrite must return EXACTLY the pairs a
    naive theta-join returns, for arbitrary interval sets (touching
    endpoints, zero-length intervals, bucket-boundary straddles)."""
    from pandas_to_postgres_spark.operators.joins import interval_overlap_pairs

    def frame(ivs, ida, s, e):
        # intervals are NOT normalized: inverted (start > end) rows must
        # flow through — the operator guards them with least/greatest
        rows = [
            (i, BASE + datetime.timedelta(minutes=x),
             BASE + datetime.timedelta(minutes=y))
            for i, (x, y) in enumerate(ivs)
        ]
        return spark.createDataFrame(rows, f"{ida} int, {s} timestamp, {e} timestamp")

    a = frame(a_iv, "aid", "a_start", "a_end")
    b = frame(b_iv, "bid", "b_start", "b_end")
    got = {
        (r["aid"], r["bid"])
        for r in interval_overlap_pairs(
            a, b, "a_start", "a_end", "b_start", "b_end", unit="hour"
        ).collect()
    }
    want = {
        (r["aid"], r["bid"])
        for r in a.crossJoin(b)
        .filter("a_start <= b_end AND b_start <= a_end")
        .collect()
    }
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    dim_keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=20
    ),
    fact_keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=40
    ),
    num_bits=st.sampled_from([64, 256, 1024]),
    num_hashes=st.integers(min_value=1, max_value=6),
)
def test_bloom_semi_join_exact_for_any_keys_and_sizing(
    spark, dim_keys, fact_keys, num_bits, num_hashes
):
    """Bloom prefilter exactness is sizing-independent: however saturated
    the bitmap, no false negative may drop a true member, and the final
    semi-join must equal the plain semi-join exactly — for negative keys,
    duplicates, and disjoint key sets alike."""
    from pandas_to_postgres_spark.operators.bloom import bloom_semi_join

    dim = spark.createDataFrame([(k,) for k in dim_keys], "dk long")
    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)], "fk long, payload long"
    )
    got = sorted(
        map(tuple, bloom_semi_join(fact, dim, "fk", "dk", num_bits, num_hashes).collect())
    )
    dk = dim.select("dk")
    want = sorted(
        map(tuple, fact.join(dk, fact.fk == dk.dk, "left_semi").collect())
    )
    assert got == want


def _pagerank_reference(edges, damping=0.85, iterations=4):
    """Pure-Python replica of operators/graph.pagerank's formula (IEEE
    transition probabilities, exact contribution sums via math.fsum is
    NOT used — plain sum matches the decimal-exactness only to ~1e-12,
    enough for the grid comparison)."""
    from collections import defaultdict

    outw = defaultdict(float)
    for s, d, w in edges:
        outw[s] += w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(list)
        for s, d, w in edges:
            contrib[d].append(r[s] * (float(w) / outw[s]))
        r = {
            v: (1.0 - damping) / n + damping * sum(sorted(contrib.get(v, [0.0])))
            for v in nodes
        }
    return {v: r[v] for v in nodes}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda e: (e[0], e[1]),
    )
)
def test_pagerank_matches_reference_and_conserves_mass(spark, edges):
    """On any random weighted digraph: ranks are positive, total rank is
    ≤ 1 + ε (equal when no node is dangling — dangling nodes absorb), and
    every rank agrees with a pure-Python replica of the formula to well
    inside the output grid."""
    from pandas_to_postgres_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src int, dst int, w int")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    ref = _pagerank_reference(edges)
    assert set(got) == set(ref)
    assert all(v > 0 for v in got.values())
    srcs = {s for s, _, _ in edges}
    dangling = set(ref) - srcs
    total = sum(got.values())
    if not dangling:
        assert abs(total - 1.0) < 1e-6
    else:
        assert total <= 1.0 + 1e-6
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-9, (v, got[v], ref[v])


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    baskets=st.lists(
        st.tuples(
            # order total in cents, and per-line weights (cents)
            st.integers(min_value=1, max_value=10_000_000),
            st.lists(
                st.integers(min_value=1, max_value=1_000_000),
                min_size=1,
                max_size=7,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_proration_reconciles_for_any_weights(spark, baskets):
    """Largest-remainder invariants under arbitrary integer weights:
    per-order allocations sum EXACTLY to the order total, and every
    line's allocation is within one cent of its unrounded proportional
    share (the Hamilton-method guarantee). All generated baskets run as
    ONE Spark job."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    li_rows, o_rows = [], []
    for ok, (total_c, weights) in enumerate(baskets):
        o_rows.append((ok, total_c))
        for ln, w in enumerate(weights):
            li_rows.append((ok, ln, w))
    li = spark.createDataFrame(
        li_rows, "l_orderkey long, l_linenumber long, item_c long"
    )
    o = spark.createDataFrame(o_rows, "l_orderkey long, total_c long")
    s = li.groupBy("l_orderkey").agg(F.sum("item_c").alias("sum_c"))
    base = (
        li.join(s, "l_orderkey")
        .join(o, "l_orderkey")
        .select(
            "l_orderkey",
            "l_linenumber",
            "total_c",
            "item_c",
            "sum_c",
            F.expr("(total_c * item_c) DIV sum_c").alias("fl"),
            F.expr("(total_c * item_c) % sum_c").alias("rem"),
        )
    )
    w_ord = Window.partitionBy("l_orderkey")
    w_rank = w_ord.orderBy(F.col("rem").desc(), "l_linenumber")
    out = base.select(
        "l_orderkey",
        "total_c",
        "item_c",
        "sum_c",
        (
            F.col("fl")
            + F.when(
                F.row_number().over(w_rank)
                <= F.col("total_c") - F.sum("fl").over(w_ord),
                1,
            ).otherwise(0)
        ).alias("alloc"),
    ).collect()
    by_order = {}
    for r in out:
        by_order.setdefault(r.l_orderkey, []).append(r)
        share = r.total_c * r.item_c / r.sum_c
        assert abs(r.alloc - share) < 1.0  # within one cent of exact share
    for ok, (total_c, _) in enumerate(baskets):
        assert sum(r.alloc for r in by_order[ok]) == total_c


@settings(max_examples=200, deadline=None)
@given(
    devs=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    )
)
def test_cusum_reflection_identity(devs):
    """The window rewrite `cusum_changepoint_events` rests on: the
    sequential recursion s_i = max(0, s_{i-1} + d_i) equals
    prefix_i - min(0, min_{j<=i} prefix_j). Pure-integer property over
    arbitrary deviation sequences — no Spark needed to prove the
    algebra the plan relies on."""
    s = 0
    seq = []
    for d in devs:
        s = max(0, s + d)
        seq.append(s)
    prefix, mn, rewritten = 0, 0, []
    for d in devs:
        prefix += d
        mn = min(mn, prefix)
        rewritten.append(prefix - min(0, mn))
    assert seq == rewritten


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    groups=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50),  # price (as int)
                st.integers(min_value=1, max_value=20),  # weight
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_weighted_median_crossing_matches_reference(spark, groups):
    """The 2*cw >= tw crossing pick in `weighted_median_price` equals
    the reference lower weighted median (smallest value whose cumulative
    weight reaches half the total) for arbitrary weighted multisets —
    including duplicate values, which the grid collapse merges. All
    generated groups run as ONE Spark job."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = []
    for gid, members in enumerate(groups):
        for price, w in members:
            rows.append((gid, float(price), w))
    df = spark.createDataFrame(rows, "gid long, price double, w long")
    g = df.groupBy("gid", "price").agg(F.sum("w").alias("w"))
    w_cum = Window.partitionBy("gid").orderBy("price")
    w_tot = Window.partitionBy("gid")
    c = g.select(
        "gid",
        "price",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    got = {
        r.gid: r.wm
        for r in c.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("gid")
        .agg(F.min("price").alias("wm"))
        .collect()
    }
    for gid, members in enumerate(groups):
        tw = sum(w for _, w in members)
        cum = 0
        expect = None
        for price, w in sorted(members):
            cum += w
            if 2 * cum >= tw:
                expect = float(price)
                break
        assert got[gid] == expect


# ---------------------------------------------------------------- HDF5

# no Spark involved: pure writer -> parser round-trip, so examples are
# cheap and max_examples can be generous
_col_strategy = st.sampled_from(["i8", "i4", "f8", "f4", "bool", "str"])


def _make_col(kind, n, rnd):
    import numpy as np

    if kind == "i8":
        return rnd.randint(-(2**40), 2**40, size=n).astype(np.int64)
    if kind == "i4":
        return rnd.randint(-(2**20), 2**20, size=n).astype(np.int32)
    if kind == "f8":
        return rnd.randn(n)
    if kind == "f4":
        return rnd.randn(n).astype(np.float32)
    if kind == "bool":
        return rnd.randint(0, 2, size=n).astype(bool)
    return np.array(
        ["".join(chr(97 + int(c)) for c in rnd.randint(0, 26, size=rnd.randint(0, 9)))
         for _ in range(n)],
        dtype=object,
    )


class TestHdf5RoundTripProperties:
    """The pure-Python HDF5 writer -> parser loop must be value-exact for
    every dtype mix, row count, chunk size, compression level, and range
    slice hypothesis can throw at it."""

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=500),
        kinds=st.lists(_col_strategy, min_size=1, max_size=5),
        chunk_rows=st.integers(min_value=1, max_value=97),
        complevel=st.sampled_from([0, 1, 6]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        data=st.data(),
    )
    def test_roundtrip_and_range_reads(
        self, tmp_path_factory, n, kinds, chunk_rows, complevel, seed, data
    ):
        import numpy as np
        import pandas as pd

        from pandas_to_postgres_spark.sources import hdf5_pandas
        from pandas_to_postgres_spark.sources.hdf5_writer import (
            write_frame_table,
        )

        rnd = np.random.RandomState(seed)
        df = pd.DataFrame(
            {f"c{i}": _make_col(k, n, rnd) for i, k in enumerate(kinds)}
        )
        p = str(tmp_path_factory.mktemp("h5prop") / "t.h5")
        write_frame_table(
            p, {"t": df}, chunk_rows=chunk_rows, complevel=complevel
        )

        assert hdf5_pandas.get_nrows(p, "t") == n
        got = hdf5_pandas.read_hdf(p, "t")
        assert list(got.columns) == list(df.columns)
        assert len(got) == n

        start = data.draw(st.integers(min_value=0, max_value=max(n, 1)))
        stop = data.draw(st.integers(min_value=start, max_value=max(n, 1)))
        seg = hdf5_pandas.read_hdf(p, "t", start=start, stop=stop)
        assert len(seg) == min(stop, n) - min(start, n)

        for i, k in enumerate(kinds):
            col = f"c{i}"
            want_full = df[col].to_numpy()
            want_seg = want_full[start:stop]
            for want, frame in ((want_full, got), (want_seg, seg)):
                have = frame[col].to_numpy()
                if k in ("f8", "f4"):
                    assert np.allclose(
                        have, want.astype(np.float64), equal_nan=True
                    )
                elif k == "str":
                    assert list(have) == list(want)
                elif k == "bool":
                    assert (have.astype(bool) == want).all()
                else:
                    assert (have == want).all()


# ---------------------------------------------------------------------------
# Lakehouse model check: a random sequence of snapshot-table operations must
# always read back what a trivial Python dict-model predicts, and every
# historical version must stay exactly re-readable (time-travel immutability)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(1, 20)),
            st.tuples(st.just("dv_delete"), st.integers(0, 199)),
            st.tuples(st.just("merge"), st.integers(0, 219)),
            st.tuples(st.just("compact"), st.just(0)),
            st.tuples(st.just("restore"), st.integers(1, 4)),
        ),
        min_size=3,
        max_size=7,
    )
)
# a merge inserts key 101, then the second append must not reuse it
@example(ops=[("append", 1), ("merge", 101), ("append", 1)])
def test_snapshot_table_matches_python_model(spark, tmp_path_factory, ops):
    """Model-based check for the whole snapshot-DML surface: apply a
    random op sequence (append / DV delete / CoW merge / compaction /
    restore) and after EVERY op compare read_snapshot's (k -> v) content
    with a plain Python dict model, plus re-read every historical
    version against its recorded model state."""
    from pyspark.sql import Row

    from pandas_to_postgres_spark.sources import manifest as M

    p = str(tmp_path_factory.mktemp("model") / "tbl")
    spark.createDataFrame(
        [Row(k=i, v=i * 10) for i in range(20)]
    ).coalesce(1).write.parquet(p)
    M.publish_snapshot(p, ["k"])
    model = {i: i * 10 for i in range(20)}
    history = {1: dict(model)}
    next_k = 100

    def read_now():
        return {
            r["k"]: r["v"] for r in M.read_snapshot(spark, p).collect()
        }

    for op, arg in ops:
        if op == "append":
            # append_snapshot is a plain append (no key dedup): keep appended
            # keys fresh, skipping any key a merge already made live
            keys = []
            while len(keys) < arg:
                if next_k not in model:
                    keys.append(next_k)
                next_k += 1
            rows = [Row(k=k, v=k * 10) for k in keys]
            spark.createDataFrame(rows).coalesce(1).write.mode(
                "append"
            ).parquet(p)
            seen = set()
            for v in M.snapshot_versions(p):
                seen.update(
                    e["path"] for e in M.load_snapshot(p, v)["files"]
                )
            import os

            new = sorted(
                f
                for f in os.listdir(p)
                if f.endswith(".parquet")
                and not f.startswith((".", "_"))
                and f not in seen
            )
            M.append_snapshot(p, new)
            for r in rows:
                model[r.k] = r.v
        elif op == "dv_delete":
            M.delete_snapshot_rows_dv(
                spark, p, spark.createDataFrame([Row(k=arg)]), ["k"]
            )
            model.pop(arg, None)
        elif op == "merge":
            M.merge_snapshot(
                spark,
                p,
                spark.createDataFrame([Row(k=arg, v=-arg)]),
                ["k"],
            )
            model[arg] = -arg
        elif op == "compact":
            M.compact_snapshot(spark, p, target_bytes=10**9)
        elif op == "restore":
            versions = M.snapshot_versions(p)
            target = versions[min(arg, len(versions)) - 1]
            M.restore_snapshot(p, target)
            model = dict(history[target])
        head_v = M.snapshot_versions(p)[-1]
        history[head_v] = dict(model)
        assert read_now() == model, f"after {op}({arg})"

    # time-travel immutability: every recorded version still reads back
    # exactly the state the model had when it was the head
    for v, snap_model in history.items():
        got = {
            r["k"]: r["v"]
            for r in M.read_snapshot(spark, p, version=v).collect()
        }
        assert got == snap_model, f"version {v} drifted"
