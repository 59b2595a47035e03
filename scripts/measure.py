"""Optimization measurement harness (guide §1).

Isolates each named query with the noop sink (times the computation, not
the sink), records min-of-2 warm seconds after one warm-up run, and dumps
``.explain("formatted")`` to plans/<round>/<query>_<tag>.txt so plan
claims in OPTIMIZATION_<round>.md are checkable without running Spark.

Usage:
    python scripts/measure.py <round> <tag> [query ...]
        round  = plan directory under plans/ (r10, r11, ...)
        tag    = suffix for the plan files (before / after; "none" =
                 timing-only sweep, no plan files)
        query  = registry names; default = the bench HEADLINE tuple
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_to_postgres_spark.plans import REGISTRY  # noqa: E402
from pandas_to_postgres_spark.session import get_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    if len(sys.argv) > 3:
        names = sys.argv[3:]
    else:
        from bench import HEADLINE

        names = list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"measure_{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["count_star"].fn(spark, sf_dir).collect()  # spin-up
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    results = {}
    for name in names:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"{rnd}-measure:{name}")
        # construction is INSIDE the cold timer (same convention as
        # bench.py): PySpark 4.1.2 materializes localCheckpoint at
        # construction time even with eager=False, so timing only the
        # sink action would let checkpoint-bearing queries hide their
        # heaviest job (found session 5: minhash_lsh_checked "first"
        # read 0.6 s while each checkpoint run cost ~2 s untimed).
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        noop(df)
        cold = time.perf_counter() - t0
        # capture the formatted plan once. This is a post-run explain of
        # the SAME df the noop just drove — it still renders the INITIAL
        # adaptive plan (isFinalPlan=false) because the noop write runs
        # under its own QueryExecution and never mutates df's. tag
        # "none" = timing-only sweep, no plan files
        if tag != "none":
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            noop(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        results[name] = (round(cold, 3), round(best, 3))
        print(f"{name}: first={cold:.3f}s warm_min2={best:.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)
    print("== summary (noop sink, warm min-of-2) ==")
    for name, (cold, best) in results.items():
        print(f"{name}\t{best}\t(first {cold})")
    print("TOTAL_warm", round(sum(b for _, b in results.values()), 3))


if __name__ == "__main__":
    main()
