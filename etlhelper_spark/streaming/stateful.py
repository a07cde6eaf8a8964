"""Custom stateful streaming operators (applyInPandasWithState).

The reference has no streaming surface; this is the extension point
for arbitrary per-key state machines over unbounded streams — running
aggregates, cross-batch dedup, CDC-style accumulation — that the
built-in windowed aggregations can't express.

State lives in the state store (checkpointed, rocksdb-compatible),
keyed by the groupBy key; each micro-batch delivers that key's new
rows as Arrow batches to the update function. At scale the shuffle is
on the key only, and state size is bounded by keys × state row width
(plus timeouts for eviction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.util import drain


def running_user_totals(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Per-user running totals maintained as custom stream state.

    readStream(events) → groupBy(user_id) → applyInPandasWithState
    (state = (total_value, n_events), updated per micro-batch, emitted
    in update mode) → memory sink drained with availableNow. The
    final per-user emission equals the batch groupBy aggregate — the
    invariant the test/oracle checks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .windows import read_events_stream

    def update(key, pdfs, state):
        if state.exists:
            total, count = state.get
        else:
            total, count = 0.0, 0
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            count += len(pdf)
        state.update((total, count))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_value": [total],
                "n_events": [count],
            }
        )

    stream = read_events_stream(spark, sf_dir)
    updates = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, total_value double, n_events long",
        stateStructType="total_value double, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(
        updates.writeStream.format("memory")
        .queryName("running_user_totals")
        .outputMode("update"),
        checkpoint_dir,
    )
    emitted = spark.table("running_user_totals")
    # update mode emits once per key per batch; the final state per
    # user is the emission with the highest n_events
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.round("total_value", 2).alias("total_value"),
            "n_events",
        )
    )


def transform_with_state_available() -> bool:
    """True when the PySpark 4.x transformWithStateInPandas runtime
    dependency (google.protobuf, used by its state-server protocol) is
    importable. The API itself ships with pyspark; the protobuf wire
    layer is an extra."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_totals_tws(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Per-user running totals on the PySpark 4.x StatefulProcessor API
    (transformWithStateInPandas) — the successor to
    applyInPandasWithState with typed state handles (ValueState /
    ListState / MapState), timers, and TTL.

    Same contract as running_user_totals: final per-user emission
    equals the batch aggregate. Requires the RocksDB state store
    provider (bundled with Spark) and google.protobuf in the Python
    env; raises ImportError with guidance when the latter is missing
    (this container has no protobuf — the applyInPandasWithState
    implementation above is the tested fallback).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    from .windows import read_events_stream

    if not transform_with_state_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf; "
            "pip install protobuf, or use running_user_totals "
            "(applyInPandasWithState) which has no extra deps"
        )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "total_value double, n_events long"
            )

        def handleInputRows(self, key, rows, timer_values):
            total, n = (
                self._state.get() if self._state.exists() else (0.0, 0)
            )
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self._state.update((total, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_value": [total],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    stream = read_events_stream(spark, sf_dir)
    updates = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType="user_id long, total_value double, n_events long",
        outputMode="Update",
        timeMode="None",
    )
    drain(
        updates.writeStream.format("memory")
        .queryName("running_user_totals_tws")
        .outputMode("update"),
        checkpoint_dir,
    )
    emitted = spark.table("running_user_totals_tws")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.round("total_value", 2).alias("total_value"),
            "n_events",
        )
    )
