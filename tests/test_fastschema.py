"""footer_spark_schema / read_parquet_state: the zero-job state read
(r13). The helper must return EXACTLY the schema Spark's own parquet
inference would produce (including nullability) for every layout the
state stores use, schedule no job doing it, and fall back to the
inferring read whenever the footer cannot decide the Spark type, so
converting a call site can never change results. A file Spark wrote
is decided by its footer's row metadata, whatever its types; a file
another writer made falls back on types whose inference follows
session conf (nanosecond timestamps, binary).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from etlhelper_spark.functions.util import (
    footer_spark_schema,
    read_parquet_state,
)


def _state_frame(spark):
    """One column of every type the versioned state stores write."""
    return spark.range(3).select(
        F.col("id").alias("l"),
        F.col("id").cast("int").alias("i"),
        F.col("id").cast("double").alias("d"),
        (F.col("id") % 2 == 0).alias("b"),
        F.col("id").cast("string").alias("s"),
        F.array(F.col("id").cast("double"), F.lit(2.5)).alias("arr"),
        F.col("id").cast("decimal(38,10)").alias("dec"),
        F.struct(
            F.col("id").alias("ord"), F.col("id").cast("string").alias("v")
        ).alias("st"),
    )


def _n_jobs(spark) -> int:
    return spark._jsc.sc().statusStore().jobsList(None).size()


def test_flat_dir_schema_parity_and_zero_jobs(spark, tmp_path):
    p = str(tmp_path / "flat")
    _state_frame(spark).write.parquet(p)
    bare = spark.read.parquet(p)
    before = _n_jobs(spark)
    fast = read_parquet_state(spark, p)
    assert _n_jobs(spark) == before  # no inference job scheduled
    assert fast.schema == bare.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, bare.collect())
    )


def test_partitioned_dir_appends_discovered_columns(spark, tmp_path):
    p = str(tmp_path / "part")
    _state_frame(spark).withColumn("batch", F.lit(3)).write.partitionBy(
        "batch"
    ).parquet(p)
    bare = spark.read.parquet(p)
    fast = read_parquet_state(spark, p)
    assert fast.schema == bare.schema  # incl. appended partition col
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, bare.collect())
    )


def test_multi_leaf_paths(spark, tmp_path):
    a = str(tmp_path / "m" / "batch=0")
    b = str(tmp_path / "m" / "batch=1")
    _state_frame(spark).write.parquet(a)
    _state_frame(spark).write.parquet(b)
    bare = spark.read.parquet(a, b)
    fast = read_parquet_state(spark, a, b)
    assert fast.schema == bare.schema
    assert fast.count() == bare.count() == 6


def test_timestamp_store_falls_back(spark, tmp_path):
    """A nanosecond-timestamp file another writer made carries no Spark
    row metadata, and its Spark type depends on nanosAsLong: the read
    keeps Spark's own inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ts.parquet")
    pq.write_table(
        pa.table({"t": pa.array([10**18], pa.timestamp("ns")), "x": [1]}), p
    )
    assert footer_spark_schema(p) is None  # inference owns nanos
    assert footer_spark_schema(p, spark=spark) is None
    assert read_parquet_state(spark, p).schema == spark.read.parquet(
        p
    ).schema


def test_single_file_path_resolves(spark, tmp_path):
    """A path naming one parquet FILE (the base-table layout) resolves
    from that file's own footer — FileSelector only walks directories,
    so the file form needs its own branch."""
    import glob

    d = str(tmp_path / "one")
    _state_frame(spark).coalesce(1).write.parquet(d)
    f = glob.glob(os.path.join(d, "*.parquet"))[0]
    bare = spark.read.parquet(f)
    fast = read_parquet_state(spark, f)
    assert footer_spark_schema(f) is not None
    assert fast.schema == bare.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, bare.collect())
    )


def test_micros_timestamps_resolve_with_session(spark, tmp_path):
    """A file another writer made: with the session supplied,
    micro-precision timestamps resolve exactly — tz-aware maps to
    TimestampType, tz-naive follows the session's inferTimestampNTZ
    conf — both pinned against Spark's own inference. Without a
    session, timestamps still fall back."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "tsus.parquet")
    when = datetime.datetime(2020, 1, 1)
    pq.write_table(
        pa.table(
            {
                "t": pa.array([when], pa.timestamp("us", tz="UTC")),
                "tn": pa.array([when], pa.timestamp("us")),
                "x": [1],
            }
        ),
        p,
    )
    assert footer_spark_schema(p) is None  # no session -> fall back
    assert footer_spark_schema(p, spark=spark) is not None
    # compare at the READ level: the file source forces nullability on
    # a user-passed schema exactly as inference does
    bare = spark.read.parquet(p)
    fast = read_parquet_state(spark, p)
    assert fast.schema == bare.schema
    assert sorted(map(str, fast.collect())) == sorted(
        map(str, bare.collect())
    )


@pytest.mark.parametrize("binary_as_string", ["false", "true"])
def test_spark_written_footer_schema_equals_inference(
    spark, tmp_path, binary_as_string
):
    """A directory Spark wrote resolves from its footer's row metadata
    to exactly the schema Spark's inference gives, for the types the
    arrow conversion cannot decide (binary, timestamps) and the nested
    and annotated ones, under either binaryAsString setting."""
    table = f"footer_matrix_{binary_as_string}"
    src, p = str(tmp_path / "src"), str(tmp_path / "out")
    spark.sql(
        f"CREATE TABLE {table} (b BINARY, ts TIMESTAMP, tn TIMESTAMP_NTZ, "
        "d DECIMAL(20, 4), dt DATE, a ARRAY<STRUCT<x: INT, y: STRING>>, "
        f"m MAP<STRING, BIGINT>, v VARCHAR(5)) USING parquet LOCATION '{src}'"
    )
    try:
        spark.sql(
            f"INSERT INTO {table} VALUES (X'01', "
            "timestamp'2024-01-01 01:02:03', "
            "timestamp_ntz'2024-01-01 01:02:03', 1.5, date'2024-01-02', "
            "array(named_struct('x', 1, 'y', 'a')), map('k', 2L), 'abc')"
        )
        spark.table(table).write.parquet(p)
    finally:
        spark.sql(f"DROP TABLE {table}")
    key = "spark.sql.parquet.binaryAsString"
    spark.conf.set(key, binary_as_string)
    try:
        bare = spark.read.parquet(p)
        assert footer_spark_schema(p, spark=spark) == bare.schema
        assert footer_spark_schema(p) == bare.schema
        assert bare.schema["v"].metadata  # the VARCHAR(5) annotation
        before = _n_jobs(spark)
        fast = read_parquet_state(spark, p)
        assert _n_jobs(spark) == before
        assert fast.schema == bare.schema
        assert sorted(map(str, fast.collect())) == sorted(
            map(str, bare.collect())
        )
    finally:
        spark.conf.unset(key)


def test_base_table_reader_schema_and_rows_identical(spark):
    """read_parquet_table (every query body's _t) pre-resolves the
    schema driver-side; schema AND rows must be identical to the bare
    inferring read for every testdata table."""
    from etlhelper_spark.sources.parquet import read_parquet_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in (
        "region", "nation", "supplier", "orders", "events", "embeddings",
    ):
        p = f"/root/testdata/sf0.001/{t}.parquet"
        fast = read_parquet_table(spark, p)
        bare = spark.read.parquet(p)
        assert fast.schema == bare.schema, t
        assert sorted(map(str, fast.collect())) == sorted(
            map(str, bare.collect())
        ), t


def test_empty_dir_falls_back_to_inferring_error(spark, tmp_path):
    p = str(tmp_path / "empty")
    os.makedirs(p)
    assert footer_spark_schema(p) is None
    try:
        read_parquet_state(spark, p)
        raised = False
    except Exception:
        raised = True  # same UNABLE_TO_INFER_SCHEMA the bare read gives
    assert raised


def test_sidecar_dirs_invisible(spark, tmp_path):
    # _pivots must not contribute the schema (Spark's visibility rule)
    p = str(tmp_path / "idx")
    _state_frame(spark).write.parquet(p)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(p, "_pivots"))
    pq.write_table(
        pa.table({"other": [1]}),
        os.path.join(p, "_pivots", "part-0.parquet"),
    )
    # compare through the read (file sources normalize nullability)
    assert (
        read_parquet_state(spark, p).schema
        == spark.read.parquet(p).schema
    )
    names = [f.name for f in footer_spark_schema(p).fields]
    assert "other" not in names


def test_rewritten_base_table_is_not_served_a_stale_schema(spark, tmp_path):
    """The footer schema memo and the nanos-column memo are keyed on
    the table's newest data file (name, mtime, size), not on its path:
    replacing ``t.parquet`` with a wider file must surface the new
    columns on the next query instead of silently dropping them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etlhelper_spark import connect_files, fetchall
    from etlhelper_spark.sources import nanos_timestamp_columns

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [3]}), path)
    conn = connect_files(str(tmp_path), spark=spark)
    assert fetchall("SELECT * FROM t", conn) == [{"a": 3}]
    assert nanos_timestamp_columns(str(path)) == ()

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    assert fetchall("SELECT * FROM t", conn) == [{"a": 3, "b": "x"}]

    pq.write_table(
        pa.table({"a": [3], "ts": pa.array([10**18], pa.timestamp("ns"))}),
        path,
    )
    assert nanos_timestamp_columns(str(path)) == ("ts",)
    (row,) = fetchall("SELECT * FROM t", conn)
    assert row["ts"].year == 2001  # a timestamp again, not raw nanos


def test_sessionless_footer_probe_leaves_reads_zero_job(spark, tmp_path):
    """nanos_timestamp_columns takes no session. Probing a table with
    it first, from a thread with no active Spark session, must not
    decide the Spark schema of the table's later reads: a
    micro-timestamp table still reads with its footer schema, no
    inference job."""
    import datetime
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etlhelper_spark.sources import (
        nanos_timestamp_columns,
        read_parquet_table,
    )

    p = str(tmp_path / "ev.parquet")
    ts = pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts, "v": [1]}), p)
    probed = []
    t = threading.Thread(target=lambda: probed.append(nanos_timestamp_columns(p)))
    t.start()
    t.join(timeout=60)
    assert probed == [()]
    before = _n_jobs(spark)
    df = read_parquet_table(spark, p)
    assert _n_jobs(spark) == before
    assert df.schema == spark.read.parquet(p).schema
