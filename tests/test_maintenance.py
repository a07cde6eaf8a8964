"""Table-maintenance operators: compaction, Z-order clustering.

Reference parity: copy_table_rows' replace-the-target contract
(etlhelper/etl.py) applied to table LAYOUT; verified here with real
parquet footers, not just row counts.
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etlhelper_spark.operators import (
    clustered_rewrite,
    compact_parquet_table,
    morton_code,
)
from etlhelper_spark.functions.util import parquet_data_files


def _data_files(path):
    return sorted(i.path for i in parquet_data_files(path)[1])


@pytest.fixture()
def small_files_table(spark, tmp_path):
    path = str(tmp_path / "li")
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df.repartition(16).write.parquet(path)
    return path, df.count()


def test_compact_reduces_file_count(spark, small_files_table):
    path, n_rows = small_files_table
    assert len(_data_files(path)) == 16
    stats = compact_parquet_table(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1
    assert stats["rows"] == n_rows
    assert spark.read.parquet(path).count() == n_rows


def test_compact_sort_within_tightens_stats(spark, small_files_table):
    path, _ = small_files_table
    compact_parquet_table(
        spark, path, target_file_bytes=4096, sort_within_by=["l_orderkey"]
    )
    files = _data_files(path)
    assert len(files) > 1
    # sortWithinPartitions tightens ROW-GROUP stats; observable here
    # as every file being internally ordered
    for f in files[:3]:
        col = pq.read_table(f, columns=["l_orderkey"])["l_orderkey"].to_pylist()
        assert col == sorted(col)


def test_morton_code_interleaves_bits(spark):
    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3), (1, 2)], "x int, y int"
    )
    out = {
        (r.x, r.y): r.code
        for r in df.withColumn(
            "code",
            morton_code([F.col("x"), F.col("y")], [(0, 3), (0, 3)], bits=2),
        ).collect()
    }

    def expect(x, y):
        code = 0
        for b in range(2):
            code |= ((x >> b) & 1) << (2 * b)
            code |= ((y >> b) & 1) << (2 * b + 1)
        return code

    for (x, y), code in out.items():
        assert code == expect(x, y), (x, y)


def test_clustered_rewrite_bounds_both_dimensions(spark, tmp_path):
    # x-sorted layout leaves y unclustered; after Z-order every file
    # covers a bounded rectangle, so BOTH per-file spans shrink.
    path = str(tmp_path / "zt")
    df = (
        spark.range(40000)
        .select(
            (F.col("id") % 200).cast("int").alias("x"),
            ((F.col("id") * 7919) % 200).cast("int").alias("y"),
            F.col("id").alias("payload"),
        )
    )
    df.orderBy("x").coalesce(1).write.parquet(path)
    size = sum(os.path.getsize(f) for f in _data_files(path))
    stats = clustered_rewrite(
        spark, path, ["x", "y"], target_file_bytes=size // 4, bits=8
    )
    assert stats["rows"] == 40000
    files = _data_files(path)
    assert len(files) >= 3
    spans = []
    for f in files:
        t = pq.read_table(f, columns=["x", "y"])
        xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
        spans.append((max(xs) - min(xs), max(ys) - min(ys)))
    # files straddling a morton-quadrant boundary can span one full
    # dim, so assert on the AVERAGE: both dims clearly below the 199
    # full span (the x-sorted input had avg y-span ≈ 199)
    avg_x = sum(s[0] for s in spans) / len(spans)
    avg_y = sum(s[1] for s in spans) / len(spans)
    assert avg_x <= 160 and avg_y <= 160, spans


def test_compact_swap_preserves_data_on_failure(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)

    import etlhelper_spark.operators.maintenance as m

    def boom(df, target, op):
        raise OSError("simulated rename failure")

    monkeypatch.setattr(m, "replace_table", boom)
    with pytest.raises(OSError):
        compact_parquet_table(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == 100


def test_compact_counts_only_spark_visible_files(spark, tmp_path):
    """A leftover ``_temporary`` part file is invisible to Spark, so it
    must not count toward files_before or the bytes that size the
    rewrite."""
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.parquet(path)
    (visible,) = _data_files(path)
    size = os.path.getsize(visible)
    stray = os.path.join(path, "_temporary", "0")
    os.makedirs(stray)
    shutil.copy(visible, os.path.join(stray, os.path.basename(visible)))
    stats = compact_parquet_table(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 1
    assert stats["bytes"] == size
    assert stats["rows"] == 100 == spark.read.parquet(path).count()


def test_compact_over_file_uri(spark, small_files_table):
    """Compaction over a ``file://`` table: the swap moves through
    pyarrow.fs and leaves no staging or backup directory behind."""
    path, n_rows = small_files_table
    stats = compact_parquet_table(
        spark, "file://" + path, target_file_bytes=1 << 30
    )
    assert (stats["files_before"], stats["files_after"]) == (16, 1)
    assert stats["rows"] == n_rows == spark.read.parquet(path).count()
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
