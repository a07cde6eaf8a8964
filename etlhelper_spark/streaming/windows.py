"""Event-stream operators over the ``events`` table.

Each transformation is written once against a DataFrame and works in
BOTH batch and Structured Streaming mode (the streaming variants add
a watermark for late data and state cleanup). The batch form is what
the correctness oracle checks; ``streaming_hourly_counts`` +
``read_events_stream`` exercise the genuine readStream path with an
availableNow trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + value sum.

    Uses F.window so the identical expression runs under Structured
    Streaming; window starts align to epoch hours (matches SQL
    date_trunc('hour', ts))."""
    return (
        events.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_value_avg(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Sliding-window average event value per event_type."""
    return (
        events.groupBy(
            F.window("ts", window, slide).alias("w"), F.col("event_type")
        )
        # DECIMAL-intermediary round: Spark rounds doubles via shortest
        # decimal repr, other engines via binary value; the decimal cast
        # makes the rounding input identical (see plans.queries._sround)
        .agg(
            F.round(
                (F.sum("value") / F.count("*")).cast("decimal(30,10)"), 4
            )
            .cast("double")
            .alias("avg_value")
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "avg_value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a new session starts when a user's gap
    since their previous event exceeds *gap_minutes*.

    lag + conditional cumsum over a per-user window — one shuffle on
    user_id. (Streaming equivalent: F.session_window with watermark.)
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_sec = gap_minutes * 60
    with_gap = events.withColumn(
        "prev_ts", F.lag("ts").over(w)
    ).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                > gap_sec
            ),
            1,
        ).otherwise(0),
    )
    with_id = with_gap.withColumn(
        "session_seq", F.sum("new_session").over(w)
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def streaming_dedup_events(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Cross-batch streaming deduplication on event_id:
    dropDuplicatesWithinWatermark keeps state only for the watermark
    horizon, so the dedup set is bounded on an unbounded stream (the
    streaming form of exact dedup). Drained with availableNow."""
    stream = read_events_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    query = (
        deduped.writeStream.format("memory")
        .queryName("deduped_events")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table("deduped_events")


def scd2_history(
    df: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """SCD2-style validity intervals from a change stream: each row
    becomes a version valid from its timestamp until the key's next
    change (NULL = current). One shuffle on the key; the lead() frame
    does the interval stitching (the v1 emulation of MERGE-based CDC,
    per the common Spark pattern — no Delta required)."""
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    return df.select(
        F.col(key_col),
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
    stream_dir: str | None = None,
) -> DataFrame:
    """Structured Streaming source over the events parquet.

    TIMESTAMP(NANOS) columns arrive as BIGINT under nanosAsLong; the
    same footer-driven conversion used by the batch reader restores
    TimestampType before the watermark is applied.

    Pass a stable ``stream_dir`` when the query will RESTART from a
    checkpoint: source offsets record the path, so a fresh tempdir per
    call would break resume (Wrong basePath)."""
    import os
    import tempfile

    from pyarrow.fs import FileType

    from ..functions.util import parquet_fs, read_parquet_state
    from ..sources import nanos_timestamp_columns

    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fs, local_path = parquet_fs(path)
    if fs.get_file_info(local_path).type == FileType.File:
        # FileStreamSource requires a directory; expose the single
        # file through a symlink dir (read-only testdata untouched)
        if stream_dir is None:
            stream_dir = tempfile.mkdtemp(prefix="ehs_stream_")
        link = os.path.join(stream_dir, "events.parquet")
        link_fs, link_path = parquet_fs(link)
        if link_fs.get_file_info(link_path).type == FileType.NotFound:
            os.makedirs(stream_dir, exist_ok=True)
            os.symlink(local_path, link)
    elif stream_dir is None:
        stream_dir = path
    # the feed schema resolves from one footer driver-side; the bare
    # read-then-.schema probe pays an inference job per stream setup
    stream = (
        spark.readStream.schema(read_parquet_state(spark, path).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_dir)
    )
    for col in nanos_timestamp_columns(path):
        if col in stream.columns:
            stream = stream.withColumn(
                col, F.expr(f"timestamp_micros(CAST({col} DIV 1000 AS BIGINT))")
            )
    # Parquet timestamps without isAdjustedToUTC arrive as TIMESTAMP_NTZ,
    # which withWatermark rejects; the session timezone is pinned to UTC
    # (session.py) so the NTZ->LTZ cast preserves wall-clock values and
    # keeps windows identical to the batch/DuckDB NTZ semantics.
    from pyspark.sql.types import TimestampNTZType

    for field in stream.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            stream = stream.withColumn(
                field.name, F.col(field.name).cast("timestamp")
            )
    return stream


def streaming_hourly_counts(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """End-to-end streaming pipeline: readStream -> watermark ->
    tumbling window agg -> memory sink, drained with availableNow.

    Returns the final materialized result as a (batch) DataFrame.
    The watermark bounds state: windows older than max(event time) -
    watermark are finalized and evicted — that property is what lets
    the identical query run forever on an unbounded stream.
    """
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("hourly_counts_stream")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table("hourly_counts_stream")


def stream_stream_view_purchase_join(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    max_gap_minutes: int = 60,
) -> DataFrame:
    """Stream-STREAM inner join: each purchase joined to the same
    user's views in the preceding ``max_gap_minutes`` — attribution,
    as two unbounded streams.

    Both sides carry watermarks and the join condition bounds
    purchase.ts - view.ts, so Spark can evict view state once it falls
    behind the watermark horizon — bounded state on unbounded input
    (without the time bound the view side would buffer forever).
    Drained with availableNow into a memory sink; the result equals
    the batch self-join oracle (the invariant the gate checks).
    """
    events = read_events_stream(spark, sf_dir)
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", f"{max_gap_minutes * 2} minutes")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", f"{max_gap_minutes * 2} minutes")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        ),
        "inner",
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    out = spark.table("ss_join")
    return (
        out.groupBy("p_user")
        .agg(
            F.count("*").alias("n_attributed_views"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.round(F.sum("purchase_value"), 2).alias("attr_value"),
        )
        .withColumnRenamed("p_user", "user_id")
    )


def stream_static_enrichment(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Stream-STATIC join: the events stream enriched with the static
    customer dimension (user_id → customer attributes), aggregated to
    per-segment event counts.

    The static side needs no watermark and no state store — Spark
    plans it as a broadcast hash join against each micro-batch, which
    is THE pattern for dimension enrichment of a 100 TB/day event
    firehose (re-read per batch, so slowly-changing dims pick up
    updates between batches; contrast stream-stream joins which buffer
    both sides in state).  Drained with availableNow into a memory
    sink; equals the batch join oracle."""
    from pyspark.sql import functions as F

    from ..sources import read_parquet_table

    customers = (
        read_parquet_table(spark, f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment")
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = (
        stream.join(
            F.broadcast(customers),
            stream.user_id == customers.c_custkey,
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    sink_name = f"enrich_{abs(hash(checkpoint_dir)) % 10**8}"
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_name)


def streaming_session_totals(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    gap: str = "10 minutes",
) -> DataFrame:
    """Streaming `session_window` aggregation: readStream → watermark →
    per-(session, user) agg → per-user rollup, drained availableNow.

    Sessions are the canonical *data-dependent* window — the window
    close time depends on the events themselves, so state for a
    session stays open exactly until the watermark passes its gap.
    Complete output mode materializes every user's totals at drain
    time; the result must equal the batch gaps-and-islands oracle
    (the same streaming/batch unification contract as q35)."""
    stream = read_events_stream(spark, sf_dir)
    per_session = (
        stream.withWatermark("ts", gap)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count("*").alias("ev"),
            F.sum("value").alias("val"),
        )
    )
    # ONE stateful operator in the stream (chaining a second stateful
    # agg behind a session window trips Spark's global-watermark
    # correctness check); the per-user rollup is stateless and runs in
    # batch over the drained sessions — on a live pipeline it would be
    # the foreachBatch/downstream aggregation.
    query = (
        per_session.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.table("sessions_stream")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("ev").alias("n_events"),
            F.round(F.sum("val"), 2).alias("total_value"),
        )
    )
