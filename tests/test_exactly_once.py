"""Exactly-once foreachBatch sink: batch-id idempotency + checkpoint
restart semantics (reference parity: commit_chunks restartability,
etlhelper/etl.py:330-336, upgraded with replay protection)."""

import glob
import os

from pyspark.sql import functions as F

from etlhelper_spark.streaming.exactly_once import (
    exactly_once_parquet_sink,
    idempotent_batch_writer,
)


def _make_source(spark, tmp_path, n_files=4):
    src = str(tmp_path / "src")
    spark.range(400).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(n_files).write.mode("overwrite").parquet(src)
    return _open_stream(spark, src)


def _open_stream(spark, src):
    schema = spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def test_drain_then_restart_writes_nothing_new(spark, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = _make_source(spark, tmp_path)
    exactly_once_parquet_sink(stream, out, ckpt)

    batches = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    markers = sorted(glob.glob(os.path.join(out, "_committed_*")))
    assert len(batches) >= 2  # maxFilesPerTrigger=1 -> multiple batches
    assert len(markers) == len(batches)
    total = spark.read.parquet(os.path.join(out, "batch_id=*")).count()
    assert total == 400

    # restart with the SAME checkpoint: source offsets are committed,
    # so nothing is re-read and nothing new is written
    stream2 = _open_stream(spark, str(tmp_path / "src"))
    exactly_once_parquet_sink(stream2, out, ckpt)
    assert sorted(glob.glob(os.path.join(out, "batch_id=*"))) == batches
    assert spark.read.parquet(os.path.join(out, "batch_id=*")).count() == 400


def test_replayed_batch_is_noop(spark, tmp_path):
    out = str(tmp_path / "out")
    os.makedirs(out)
    writer = idempotent_batch_writer(out)
    df = spark.range(10).withColumn("v", F.lit(1))

    writer(df, 0)
    first = sorted(glob.glob(os.path.join(out, "batch_id=0", "*.parquet")))
    # at-least-once replay of the same batch id: marker short-circuits
    writer(spark.range(99).withColumn("v", F.lit(2)), 0)
    assert sorted(glob.glob(os.path.join(out, "batch_id=0", "*.parquet"))) == first
    assert spark.read.parquet(os.path.join(out, "batch_id=0")).count() == 10


def test_uncommitted_batch_is_overwritten(spark, tmp_path):
    out = str(tmp_path / "out")
    os.makedirs(out)
    writer = idempotent_batch_writer(out)
    # half-written batch: data present but NO marker (crash before commit)
    spark.range(3).withColumn("v", F.lit(0)).write.parquet(
        os.path.join(out, "batch_id=1")
    )
    writer(spark.range(20).withColumn("v", F.lit(1)), 1)
    assert spark.read.parquet(os.path.join(out, "batch_id=1")).count() == 20
    assert os.path.exists(os.path.join(out, "_committed_1"))


def test_missing_table_matcher_rejects_missing_column_messages():
    """Round-3 ADVICE: Postgres phrases a missing COLUMN as
    'column "c" of relation "t" does not exist' — the embedded
    relation clause must NOT classify as a missing TABLE, or the
    cleanup DELETE's failure would be swallowed and a replayed
    half-written batch appended on top of its own leftovers."""
    from etlhelper_spark.streaming.exactly_once import _is_missing_table

    # must RAISE (column/schema errors)
    for msg in (
        'column "__batch_id" of relation "events_sink" does not exist',
        'column "value" of relation "t" does not exist',
        'column "__batch_id" does not exist',
    ):
        assert not _is_missing_table(Exception(msg))

    # must still SKIP (genuinely missing tables, across dialects)
    for msg in (
        'relation "events_sink" does not exist',
        "Table/View 'LEDGER' does not exist.",
        "ORA-00942: table or view does not exist",
        "Invalid object name 'dbo.ledger'",
        "[TABLE_OR_VIEW_NOT_FOUND] The table or view `t` cannot be found",
        'table "t" does not exist',
    ):
        assert _is_missing_table(Exception(msg))


def test_file_uri_out_dir_commits_markers_in_out_dir(spark, tmp_path, monkeypatch):
    """A ``file://`` out_dir: the batches AND their commit markers land
    in out_dir (not in a ``./file:/...`` tree under the working
    directory), and a replayed batch is skipped."""
    monkeypatch.chdir(tmp_path)
    out = tmp_path / "out"
    uri = "file://" + str(out)
    stream = _make_source(spark, tmp_path)
    exactly_once_parquet_sink(stream, uri, str(tmp_path / "ckpt"))
    batches = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    markers = sorted(glob.glob(os.path.join(out, "_committed_*")))
    assert batches and len(markers) == len(batches)
    assert not os.path.exists(tmp_path / "file:")
    assert spark.read.parquet(os.path.join(out, "batch_id=*")).count() == 400

    writer = idempotent_batch_writer(uri)
    writer(spark.range(99).withColumn("v", F.lit(2)), 0)
    assert spark.read.parquet(os.path.join(out, "batch_id=*")).count() == 400
