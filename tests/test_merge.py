"""merge_dataframes / merge_into_parquet: MERGE branch semantics.

Reference parity: the reference only reaches upsert via custom-SQL
executemany (etlhelper/etl.py); here MERGE is a first-class set-based
operator, so each WHEN branch gets a direct unit test.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from etlhelper_spark.operators.merge import merge_dataframes, merge_into_parquet


@pytest.fixture()
def target_source(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, bal double",
    )
    source = spark.createDataFrame(
        [(2, 200.0), (3, 5.0), (4, 400.0)],
        "id long, new_bal double",
    )
    return target, source


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_update_insert_delete(spark, target_source):
    target, source = target_source
    out = merge_dataframes(
        target,
        source,
        ["id"],
        when_matched_update={"bal": "s.new_bal"},
        when_matched_delete="s.new_bal < 10",
        when_not_matched_insert={
            "id": "s.id",
            "name": "'inserted'",
            "bal": "s.new_bal",
        },
    )
    assert out.columns == target.columns  # schema preserved, in order
    assert _rows(out) == [
        (1, "a", 10.0),          # unmatched target kept
        (2, "b", 200.0),         # matched → updated
        (4, "inserted", 400.0),  # unmatched source → inserted
    ]                            # id=3 matched delete predicate → gone


def test_insert_same_named_columns(spark):
    target = spark.createDataFrame([(1, "a")], "id long, name string")
    source = spark.createDataFrame([(1, "A"), (9, "Z")], "id long, name string")
    out = merge_dataframes(
        target, source, ["id"], when_matched_update={"name": "s.name"}
    )
    # default insert=True maps same-named source columns
    assert _rows(out) == [(1, "A"), (9, "Z")]


def test_insert_disabled(spark, target_source):
    target, source = target_source
    out = merge_dataframes(
        target, source, ["id"],
        when_matched_update={"bal": "s.new_bal"},
        when_not_matched_insert=False,
    )
    assert _rows(out) == [(1, "a", 10.0), (2, "b", 200.0), (3, "c", 5.0)]


def test_update_can_mix_target_and_source(spark, target_source):
    target, source = target_source
    out = merge_dataframes(
        target, source, ["id"],
        when_matched_update={"bal": "t.bal + s.new_bal"},
        when_not_matched_insert=False,
    )
    assert _rows(out) == [(1, "a", 10.0), (2, "b", 220.0), (3, "c", 35.0)]


def test_output_cast_to_target_types(spark):
    target = spark.createDataFrame([(1, 10)], "id long, v int")
    source = spark.createDataFrame([(1, 99.9)], "id long, nv double")
    out = merge_dataframes(
        target, source, ["id"], when_matched_update={"v": "s.nv"}
    )
    assert dict(out.dtypes) == dict(target.dtypes)
    assert _rows(out) == [(1, 99)]


def test_missing_key_raises(spark, target_source):
    target, source = target_source
    with pytest.raises(ValueError, match="missing"):
        merge_dataframes(target, source, ["nope"])
    with pytest.raises(ValueError, match="at least one"):
        merge_dataframes(target, source, [])


def test_merge_into_parquet_swaps_atomically(spark, target_source):
    target, source = target_source
    d = tempfile.mkdtemp(prefix="ehs_merge_test_")
    path = os.path.join(d, "tbl")
    try:
        target.write.parquet(path)
        n = merge_into_parquet(
            spark, path, source, ["id"],
            when_matched_update={"bal": "s.new_bal"},
            when_matched_delete="s.new_bal < 10",
            when_not_matched_insert={"id": "s.id", "bal": "s.new_bal"},
        )
        assert n == 3  # 3 target - 1 delete + 1 insert
        after = spark.read.parquet(path)
        assert _rows(after.select("id", "bal")) == [
            (1, 10.0), (2, 200.0), (4, 400.0)
        ]
        # no leftover staging/backup dirs beside the table
        assert os.listdir(d) == ["tbl"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_null_delete_predicate_keeps_row(spark):
    """SQL MERGE treats 'WHEN MATCHED AND cond THEN DELETE' with a NULL
    cond as NOT satisfied: the row must fall through to the update
    branch, not vanish."""
    target = spark.createDataFrame([(1, 100.0), (2, 200.0)], ["id", "bal"])
    # new_bal NULL for id=1 -> delete predicate evaluates NULL
    source = spark.createDataFrame([(1, None), (2, 20.0)], "id INT, new_bal DOUBLE")
    out = merge_dataframes(
        target, source, ["id"],
        when_matched_update={"bal": "coalesce(s.new_bal, t.bal)"},
        when_matched_delete="s.new_bal < 50",
        when_not_matched_insert=False,
    )
    assert _rows(out) == [(1, 100.0)]  # id=2 deleted; id=1 KEPT + updated


def _watch_renames(monkeypatch, fail_into=None):
    """Record every move of the table swap (the pyarrow.fs ``move`` of
    operators/maintenance.py); raise OSError on the one into
    *fail_into* (the staging -> target step of the swap)."""
    import etlhelper_spark.operators.maintenance as m

    renames = []
    real_fs = m.parquet_fs

    class _SpyFS:
        def __init__(self, fs):
            self.fs, self.type_name = fs, fs.type_name

        def move(self, src, dst):
            renames.append((str(src), str(dst)))
            if fail_into is not None and str(dst) == fail_into and len(renames) == 2:
                raise OSError("simulated swap failure")
            self.fs.move(src, dst)

    def parquet_fs(path):
        fs, p = real_fs(path)
        return _SpyFS(fs), p

    monkeypatch.setattr(m, "parquet_fs", parquet_fs)
    return renames


def test_merge_stages_beside_the_target(spark, target_source, tmp_path, monkeypatch):
    """Staging is a sibling of the table, so the swap's rename never
    crosses filesystems (a temp dir on another mount fails with EXDEV)."""
    target, source = target_source
    path = str(tmp_path / "tbl")
    target.write.parquet(path)
    renames = _watch_renames(monkeypatch)
    assert merge_into_parquet(spark, path, source, ["id"]) == 4
    (_, backup), (staging, into) = renames[:2]
    assert into == path
    assert os.path.dirname(staging) == os.path.dirname(path)
    assert os.path.basename(staging).startswith("tbl.__merge_")
    assert os.path.basename(backup).startswith("tbl.__pre_merge_")
    assert os.listdir(tmp_path) == ["tbl"]


def test_merge_failed_swap_leaves_target_intact(
    spark, target_source, tmp_path, monkeypatch
):
    target, source = target_source
    path = str(tmp_path / "tbl")
    target.write.parquet(path)
    _watch_renames(monkeypatch, fail_into=path)
    with pytest.raises(OSError, match="simulated"):
        merge_into_parquet(spark, path, source, ["id"])
    monkeypatch.undo()
    assert _rows(spark.read.parquet(path)) == _rows(target)
    # rolled back, and the staging directory is gone
    assert os.listdir(tmp_path) == ["tbl"]


def test_merge_into_parquet_over_file_uri(spark, target_source, tmp_path):
    """The swap moves through pyarrow.fs, so a ``file://`` table merges
    like a bare path (``os.rename`` on the URI string raised
    FileNotFoundError after the staging write)."""
    target, source = target_source
    path = tmp_path / "tbl"
    target.write.parquet(str(path))
    n = merge_into_parquet(
        spark, path.as_uri(), source, ["id"],
        when_matched_update={"bal": "s.new_bal"},
        when_matched_delete="s.new_bal < 10",
        when_not_matched_insert={"id": "s.id", "bal": "s.new_bal"},
    )
    assert n == 3
    assert _rows(spark.read.parquet(str(path)).select("id", "bal")) == [
        (1, 10.0), (2, 200.0), (4, 400.0)
    ]
    assert os.listdir(tmp_path) == ["tbl"]


def test_swap_refuses_object_stores_before_writing(spark):
    from etlhelper_spark.exceptions import ETLHelperAtomicSwapError
    from etlhelper_spark.operators.maintenance import replace_table

    df = spark.range(3)
    with pytest.raises(ETLHelperAtomicSwapError, match="atomic"):
        replace_table(df, "mock:///bucket/tbl", "merge")
