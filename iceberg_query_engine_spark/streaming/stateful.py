"""Custom stateful streaming operator via applyInPandasWithState.

The general escape hatch for stateful stream logic Spark's built-in
windows can't express (reference has no streaming at all — SURVEY.md
§2.9). Demonstrated with a per-user running event counter + value
accumulator whose final state must equal the batch groupBy — making
the custom state machine oracle-checkable.

Scale notes: state is partitioned by group key in the state store;
each micro-batch touches only the groups present in that batch. With
a real source you'd add a timeout (GroupStateTimeout) to expire idle
keys; the bounded replay here keeps NoTimeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .jobs import _run_to_completion, read_event_stream

OUT_SCHEMA = "user_id LONG, n_events LONG, total_value DOUBLE"
STATE_SCHEMA = "n LONG, tv DOUBLE"


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (user_id,) = key
    n, tv = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        tv += float(pdf["value"].sum())
    state.update((n, tv))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [tv]})


def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user custom state machine over the event stream; returns the
    final per-user state (last update per user)."""
    events = read_event_stream(spark, sf_dir)
    counted = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "mem_stream_stateful"
    _run_to_completion(counted, name, mode="update")
    # update mode emits one row per user per micro-batch; the final
    # state per user is the row with the highest event count (counts
    # are monotone; total_value is NOT — a negative event value would
    # make max(total_value) pick an intermediate state, so take the
    # value paired with the final count via max_by).
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").cast("bigint").alias("n_events"),
            F.round(F.max_by("total_value", "n_events"), 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


STREAM_STATEFUL_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  round(SUM(value), 4) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same per-user state machine on Spark 4's transformWithState API
    (StatefulProcessor + ValueState) — the successor to
    applyInPandasWithState: composable typed state variables, timers,
    and TTL live on the handle; this twin pins the engine's coverage of
    both stateful surfaces against one oracle.

    Environment gate: the transformWithState Python driver worker
    speaks protobuf to the JVM state server; this container has no
    protobuf wheel (re-verified round 9 (2026-08-16): `import google.protobuf`
    still fails), so the op raises NotImplementedError here (same
    policy as the stubbed image codec — the code path is real, the
    missing piece is a library, and the applyInPandasWithState twin
    covers the semantics against the oracle)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package for its "
            "Python<->state-server channel; not installed in this container. "
            "stream_stateful_counts (applyInPandasWithState) is the "
            "oracle-checked stateful twin."
        ) from exc
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("tv", T.DoubleType()),
                ]
            )
            self._state = handle.getValueState("totals", schema)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, tv = self._state.get()
            else:
                n, tv = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                tv += float(pdf["value"].sum())
            self._state.update((n, tv))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [tv]}
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store (the default
    # HDFS-backed provider doesn't implement the new state API)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events = read_event_stream(spark, sf_dir)
    counted = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserTotals(),
            outputStructType=OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    name = "mem_stream_tws"
    _run_to_completion(counted, name, mode="update")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").cast("bigint").alias("n_events"),
            F.round(F.max_by("total_value", "n_events"), 4).alias("total_value"),
        )
        .orderBy("user_id")
    )
