"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.9) — per-user running aggregates with explicit state.

This is the escape hatch for streaming semantics the built-in windowed
aggregations can't express (custom session logic, decaying counters,
pattern detection). State is a per-key dict persisted by the state store;
the watermark/timeout policy bounds its lifetime.

100 TB notes: state is partitioned by the grouping key across the cluster;
an unbounded key domain needs a timeout (here GroupStateTimeout) or the
state store grows forever — the local test uses NoTimeout because the
key domain (user_id) is finite.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pandas_to_postgres_spark.streaming.events import (
    _event_drain,
    _event_stream,
    _memory_drain,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
)


def _update_user_totals(
    key: Tuple[int],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Accumulate (count, value-sum) per user across micro-batches and emit
    the updated running totals."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful operator over the events stream to completion and
    return the final per-user totals (one row per user per micro-batch that
    touched the user; with a single AvailableNow batch, exactly one row per
    user)."""
    # state stores sized to the batch (one per 64k rows, each a Python
    # worker here), not the session's shuffle.partitions; no widening
    # ahead of the grouped exchange
    with _event_drain(spark, sf_dir, target_rows=0) as drain:
        updated = drain.stream().groupBy("user_id").applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        out = _memory_drain(updated, "update")
    # keep only the last emission per user (idempotent under multi-batch runs)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------- transformWithState (Spark 4 arbitrary-state API, §2.9)
#
# ENV-GATED (like the HDF5 runtime paths): transformWithStateInPandas'
# Python worker requires google.protobuf, which this container does not
# ship and package installation is prohibited — the query registration is
# therefore omitted (a registered-but-crashing query would poison the
# driver's correctness run). The operator below is complete and becomes
# runnable the moment protobuf is importable; tests/test_operators.py
# skips it with the same condition.

TWS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


def user_type_counts_processor():
    """Build the StatefulProcessor lazily (class definition touches the
    streaming.stateful_processor module, imported only when used)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTypeCounts(StatefulProcessor):
        """Per-user MAP state (event_type -> running count) — the state
        shape the old applyInPandasWithState could only fake with an
        encoded blob; transformWithState gives it a first-class MapState
        with per-entry point updates (no read-modify-write of the whole
        user's state on every batch)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            batch = {}
            for pdf in rows:
                for et, c in pdf.groupby("event_type").size().items():
                    batch[et] = batch.get(et, 0) + int(c)
            for et, c in batch.items():
                prev = (
                    self._counts.getValue((et,))[0]
                    if self._counts.containsKey((et,))
                    else 0
                )
                self._counts.updateValue((et,), (prev + c,))
            out = [
                (key[0], et_key[0], n_val[0])
                for et_key, n_val in self._counts.iterator()
            ]
            yield pd.DataFrame(out, columns=["user_id", "event_type", "n"])

        def close(self) -> None:
            pass

    return UserTypeCounts()


def stateful_user_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) running counts via ``transformWithStateInPandas``
    drained to completion — the final MapState contents equal the batch
    group-by (the oracle).

    Scale: state is hash-partitioned by user across the cluster; MapState
    updates touch only the event types present in the batch. ``timeMode``
    'ProcessingTime' + ``registerTimer`` would bound idle-key state at
    100 TB; the drain here is single-batch so no timer fires."""
    stream = _event_stream(spark, sf_dir, target_rows=0)
    updated = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=user_type_counts_processor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    out = _memory_drain(updated, "update")
    # last emission per (user, type) wins — idempotent under multi-batch runs
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("n").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
