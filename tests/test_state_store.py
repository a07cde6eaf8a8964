"""The versioned-state store's contracts (etlhelper_spark/state/store.py)
pinned through the public operators: replay guard on URI state dirs,
complete-only reads of the ivm rollups, and crash points at each
layout's commit marker — readers see exactly the prior version, and a
re-run heals the store to the uninterrupted run's state."""

from __future__ import annotations

import os
import pathlib

import pytest


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _crash(*_a, **_k):
    raise RuntimeError("crash before the commit marker")


def test_replay_guard_allows_intact_replay_over_file_uri(spark, tmp_path):
    """At-least-once replay of the newest batch on a file:// store:
    v1 and v2 complete, batch 2 redelivered."""
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )

    root = "file://" + str(tmp_path / "st")
    b2 = spark.createDataFrame([(2, 3)], ["id_a", "id_b"])
    duplicate_clusters_incremental(
        spark.createDataFrame([(1, 2)], ["id_a", "id_b"]), root, 1
    )
    first = _rows(duplicate_clusters_incremental(b2, root, 2))
    assert _rows(duplicate_clusters_incremental(b2, root, 2)) == first
    with pytest.raises(ValueError, match="horizon"):
        duplicate_clusters_incremental(b2, root, 0)


def test_rollup_reads_skip_a_torn_newest_version(spark, tmp_path):
    from etlhelper_spark.operators.ivm import read_rollup_state

    st = tmp_path / "rollup"
    for v, rows in enumerate([[("a", 1, 10)], [("a", 2, 30)], [("a", 9, 99)]]):
        spark.createDataFrame(rows, "k string, n long, s long").write.parquet(
            str(st / f"v{v}")
        )
    (st / "v2" / "_SUCCESS").unlink()  # v2's write crashed mid-flight
    assert _rows(read_rollup_state(spark, str(st))) == [("a", 2, 30)]


def test_sketch_rollup_merges_the_newest_complete_version(spark, tmp_path):
    from pyspark.sql import functions as F

    from etlhelper_spark.operators.ivm import sketch_rollup_incremental

    def batch(lo, hi):
        return spark.range(lo, hi).select(F.lit("g").alias("k"), "id")

    def estimate(df):
        return df.select(F.hll_sketch_estimate("sketch")).first()[0]

    clean, st = str(tmp_path / "clean"), str(tmp_path / "st")
    for root in (clean, st):
        sketch_rollup_incremental(batch(0, 100), root, 0, ["k"], "id")
    sketch_rollup_incremental(batch(100, 1000), st, 1, ["k"], "id")
    pathlib.Path(st, "v1", "_SUCCESS").unlink()  # torn
    want = sketch_rollup_incremental(batch(1000, 1100), clean, 2, ["k"], "id")
    got = sketch_rollup_incremental(batch(1000, 1100), st, 2, ["k"], "id")
    assert estimate(got) == estimate(want) < 1000


def test_empty_rollup_store_raises_named_error(spark, tmp_path):
    from etlhelper_spark.operators.ivm import read_rollup_state

    with pytest.raises(ValueError, match="no complete rollup version"):
        read_rollup_state(spark, str(tmp_path / "empty"))


def test_append_fold_crash_before_marker(spark, tmp_path, monkeypatch):
    from etlhelper_spark.state import store
    from etlhelper_spark.operators.dedup_state import (
        compact_dedup_state,
        dedup_exact_incremental,
    )

    def ingest(root):
        for i, rows in enumerate(
            [[(10, "alpha"), (11, "beta")], [(1, "ALPHA"), (2, "gamma")]]
        ):
            dedup_exact_incremental(
                spark.createDataFrame(rows, ["doc_id", "text"]), root, i
            ).collect()

    clean, st = str(tmp_path / "clean"), str(tmp_path / "st")
    ingest(clean)
    compact_dedup_state(spark, clean, "exact")
    ingest(st)
    sub = os.path.join(st, "exact")
    before = _rows(store.read_prior(spark, sub, 2**62))
    with monkeypatch.context() as m:
        m.setattr(store, "_mark", _crash)
        with pytest.raises(RuntimeError):
            compact_dedup_state(spark, st, "exact")
    assert os.path.isdir(os.path.join(sub, "base_v1"))  # data written
    assert store.current_base(sub) is None
    assert _rows(store.read_prior(spark, sub, 2**62)) == before
    assert compact_dedup_state(spark, st, "exact") == 2
    assert _rows(store.read_live(spark, sub)[0]) == _rows(
        store.read_live(spark, os.path.join(clean, "exact"))[0]
    )
    assert os.listdir(sub) == ["base_v1"]


def test_erase_epoch_crash_before_marker(spark, tmp_path, monkeypatch):
    from etlhelper_spark.state import store
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )
    from etlhelper_spark.operators.erasure import forget_from_clusters_state

    def ingest(root):
        for i, rows in enumerate([[(1, 2)], [(2, 3), (4, 5)]]):
            duplicate_clusters_incremental(
                spark.createDataFrame(rows, ["id_a", "id_b"]), root, i
            )

    clean, st = str(tmp_path / "clean"), str(tmp_path / "st")
    ingest(clean)
    forget_from_clusters_state(spark, clean, [1])
    ingest(st)
    sub = os.path.join(st, "clusters")
    before = _rows(store.read_latest(spark, sub))
    with monkeypatch.context() as m:
        m.setattr(store, "_mark", _crash)
        with pytest.raises(RuntimeError):
            forget_from_clusters_state(spark, st, [1])
    assert os.path.isdir(os.path.join(sub, "v1.e1"))  # data written
    assert _rows(store.read_latest(spark, sub)) == before
    assert forget_from_clusters_state(spark, st, [1]) == 1
    assert _rows(store.read_latest(spark, sub)) == _rows(
        store.read_latest(spark, os.path.join(clean, "clusters"))
    )
    assert os.listdir(sub) == ["v1.e1"]


def test_ivfpq_fold_crash_before_marker(spark, tmp_path, monkeypatch):
    from etlhelper_spark.state import store
    from pyspark.sql import functions as F

    from etlhelper_spark.functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        ivfpq_ingest_watermark,
        read_ivfpq_rows,
    )
    # deterministic synthetic 8-d vectors
    vecs = spark.range(240).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (j + 1.0)) for j in range(8)]).alias(
            "embedding"
        ),
    )

    def build(root):
        build_ivfpq_index(
            vecs.where(F.pmod("vec_id", F.lit(2)) == 0), root,
            nlist=4, m_sub=4, k_codes=8, iterations=2,
        )
        append_ivfpq_index(
            vecs.where(F.pmod("vec_id", F.lit(2)) == 1), root, batch_id=1
        )

    def effective(root):
        return {
            (r["vec_id"], r["list_id"], tuple(r["codes"]))
            for r in read_ivfpq_rows(spark, root).collect()
        }

    clean, st = str(tmp_path / "clean"), str(tmp_path / "st")
    build(clean)
    compact_ivfpq_ingest(spark, clean, watermark=1)
    build(st)
    before = effective(st)
    with monkeypatch.context() as m:
        m.setattr(store, "_mark", _crash)
        with pytest.raises(RuntimeError):
            compact_ivfpq_ingest(spark, st, watermark=1)
    assert os.path.isdir(os.path.join(st, "_ibase_v1"))  # data written
    assert ivfpq_ingest_watermark(st) is None
    assert effective(st) == before
    assert compact_ivfpq_ingest(spark, st, watermark=1) > 0
    assert ivfpq_ingest_watermark(st) == 1
    assert effective(st) == effective(clean) == before
    assert sorted(os.listdir(st)) == sorted(os.listdir(clean))
