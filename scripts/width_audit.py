"""Registry-wide narrow-stage audit (the round-6 checkpoint-width trap).

Runs every registered query at the given sf tier and flags completed
stages that ran with <= ``min(MAX_TASKS, defaultParallelism - 1)`` tasks
while burning more than ``MIN_CPU_S`` seconds of executor CPU — the
signature of a CPU-heavy stage serialized onto 1-2 cores by AQE's
byte-based coalescing or by a localCheckpoint that froze a coalesced
width (see SCALE.md "Round-6 performance fix"). A stage with at least
one task per core slot of the pool is full width, so on a small pool the
bound drops below ``MAX_TASKS``. Wall times are also reported for
anything slower than ``SLOW_WALL_S``.

Stage metrics come from the live Spark UI REST API, so this needs no
event-log configuration. Run it WARM-aware: the first execution of a
query includes Janino compilation inside executorRunTime, so treat a
flag here as a lead and re-measure the query warm before changing code
(scripts/scale8x.py or a two-iteration loop).

Usage::

    python scripts/width_audit.py [sf_dir]     # default /root/testdata/sf0.1
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_to_postgres_spark.plans import REGISTRY  # noqa: E402
from pandas_to_postgres_spark.session import get_spark  # noqa: E402

MAX_TASKS = 4
MIN_CPU_S = 3.0
SLOW_WALL_S = 8.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("width-audit")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    pool = spark.sparkContext.defaultParallelism
    max_tasks = min(MAX_TASKS, pool - 1)

    def stages() -> list[dict]:
        app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]
        return json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
            )
        )

    prev = -1
    findings: list[tuple] = []
    for name, spec in REGISTRY.items():
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001 - audit must keep going
            findings.append((name, -1.0, f"ERR {str(e)[:80]}"))
            continue
        wall = time.perf_counter() - t0
        narrow = []
        try:
            ss = stages()
            cur = max((s["stageId"] for s in ss), default=prev)
            for s in ss:
                if s["stageId"] <= prev:
                    continue
                cpu = s.get("executorRunTime", 0) / 1000.0
                if s["numCompleteTasks"] <= max_tasks and cpu > MIN_CPU_S:
                    narrow.append(
                        (s["stageId"], s["numCompleteTasks"], round(cpu, 1))
                    )
            prev = cur
        except Exception:  # noqa: BLE001 - UI hiccups must not kill the sweep
            pass
        if narrow or wall > SLOW_WALL_S:
            findings.append((name, round(wall, 1), narrow))

    print(
        f"==== findings (wall > {SLOW_WALL_S}s or stage with <= "
        f"{max_tasks} tasks on a {pool}-core pool and > {MIN_CPU_S}s CPU) ===="
    )
    for row in findings:
        print(row)
    if not findings:
        print("(none)")


if __name__ == "__main__":
    main()
