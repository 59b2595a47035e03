"""Width gate — the round-6 narrow-stage class as a CI failure.

Round 6 found (and fixed) a real scale-killer by a one-off REST sweep:
a localCheckpoint freezes the physical split count of whatever it
materializes, and AQE's byte-based coalescing had shrunk small-byte but
CPU-heavy frames to 1–2 partitions, so multi-thousand-× fan-outs below
them ran on 1–2 of 32 cores (SCALE.md "Round-6 performance fix";
`ngram_jaccard_pairs` 54s→25s). A silent re-freeze — a new
localCheckpoint, a new AQE coalesce — would not have failed any test:
result-equality can't see width. This gate re-runs the bench HEADLINE
set WARM at the bench tier and fails on the documented flag: a completed
stage with <= min(MAX_TASKS, defaultParallelism - 1) tasks burning
> MIN_CPU_S seconds of executor CPU (stage metrics from the live Spark
UI REST API, same source as `scripts/width_audit.py` — the gate is the
sweep's permanent form, round-7 verdict #6). The bound is relative to
the core pool the stage ran on: a ``local[N]`` pool runs at most N tasks
at once, so a stage with at least one task per core slot is full width
and cannot be the trap. On any pool wider than MAX_TASKS cores the
bound is exactly MAX_TASKS.

Warm-aware by construction: each query runs once un-profiled first
(Janino whole-stage-codegen compilation lands inside executorRunTime on
the first execution and would false-flag genuinely narrow-but-cheap
stages), and only the second run's stages are judged.

The intentional survivors stay allowed: AQE's coalescing of WINDOW
exchanges on small-byte/CPU-light frames is correct behavior (pinning
them to defaultParallelism would undersize partitions on a real cluster
where AQE wants MORE than core-count partitions) — none of those burn
>3s CPU in the HEADLINE set today, so the allowlist starts empty; add
``(query, reason)`` entries only with a SCALE.md diagnosis.

Set SPARK_GRAFT_SKIP_WIDTH_GATE=1 to skip during fast local iteration;
CI and the per-round pytest run keep it on.
"""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

import bench
from pandas_to_postgres_spark.plans import REGISTRY

SF_BENCH = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MAX_TASKS = 4
MIN_CPU_S = 3.0
#: query -> reason; AQE window-coalesce survivors with a SCALE.md entry
ALLOWLIST: dict[str, str] = {}


@pytest.mark.skipif(
    bool(os.environ.get("SPARK_GRAFT_SKIP_WIDTH_GATE")),
    reason="explicitly skipped via SPARK_GRAFT_SKIP_WIDTH_GATE",
)
def test_headline_queries_have_no_narrow_hot_stages(spark):
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        pytest.skip("Spark UI disabled; stage metrics unavailable")
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0][
        "id"
    ]

    def stages() -> list[dict]:
        return json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
            )
        )

    pool = spark.sparkContext.defaultParallelism
    max_tasks = min(MAX_TASKS, pool - 1)
    findings = []
    for name in bench.HEADLINE:
        if name in ALLOWLIST:
            continue
        fn = REGISTRY[name].fn
        fn(spark, SF_BENCH).count()  # un-profiled warm-up (Janino/JIT)
        before = max((s["stageId"] for s in stages()), default=-1)
        fn(spark, SF_BENCH).count()  # the profiled run
        for s in stages():
            if s["stageId"] <= before:
                continue
            cpu = s.get("executorRunTime", 0) / 1000.0
            if s["numCompleteTasks"] <= max_tasks and cpu > MIN_CPU_S:
                findings.append(
                    {
                        "query": name,
                        "stage": s["stageId"],
                        "tasks": s["numCompleteTasks"],
                        "pool": pool,
                        "cpu_s": round(cpu, 1),
                    }
                )
    assert not findings, (
        f"CPU-heavy stages with <= {max_tasks} tasks on a {pool}-core "
        "pool (the round-6 checkpoint-width / AQE-coalesce trap) — pin "
        "the width with repartition(defaultParallelism) BELOW the "
        "localCheckpoint or "
        f"above the fan-out (SCALE.md):\n{json.dumps(findings, indent=2)}"
    )
