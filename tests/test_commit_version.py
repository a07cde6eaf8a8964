"""Every rewrite store commits through state/store.py::commit_version:
the replay guard runs before each version is written, and the version
reads back with the schema Spark wrote into its footers, so no
inference job is scheduled.

The guard test is parametrized over the rewrite stores of
operators/erasure.py::STATE_STORE_REGISTRY. Each store's operator is
fed batch ids 1, 2, 5 and then 4: batch 4 would rewrite history below
v5, so it must raise before anything of it reaches disk. A replay of
batch 2 (its own intact version) must still succeed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etlhelper_spark.operators.erasure import STATE_STORE_REGISTRY


def _ints(spark, b):
    return spark.range(b * 10, b * 10 + 6).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("double").alias("x"),
        (F.col("id") % 3).cast("string").alias("c"),
        (F.col("id") % 4 + 1).cast("double").alias("w"),
    )


def _cdc(spark, st, b):
    from etlhelper_spark.operators.cdc import snapshot_apply_incremental

    changes = _ints(spark, b).select(
        (F.col("doc_id") % 4).alias("k"),
        F.col("doc_id").alias("seq"),
        F.lit("U").alias("op"),
    )
    snapshot_apply_incremental(changes, st, b, ["k"], ["seq"])


def _bloom(spark, st, b):
    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental_bloom,
    )

    docs = _ints(spark, b).select("doc_id", F.col("c").alias("text"))
    dedup_exact_incremental_bloom(docs, st, b, m_bits=1 << 10).collect()


def _clusters(spark, st, b):
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )

    pairs = spark.createDataFrame([(b, b + 100)], ["id_a", "id_b"])
    duplicate_clusters_incremental(pairs, st, b)


def _cats(spark, st, b):
    from etlhelper_spark.operators.drift_state import (
        category_counts_incremental,
    )

    category_counts_incremental(_ints(spark, b), st, b, "c")


def _emb(spark, st, b):
    from etlhelper_spark.operators.drift_state import (
        embedding_moments_incremental,
    )

    vecs = _ints(spark, b).select(F.array("x", "w").alias("embedding"))
    embedding_moments_incremental(vecs, st, b)


def _hist(spark, st, b):
    from etlhelper_spark.operators.drift_state import histogram_incremental

    histogram_incremental(_ints(spark, b), st, b, "x", 0.0, 3.0, bins=3)


def _freq(spark, st, b):
    from etlhelper_spark.operators.frequency_state import (
        heavy_hitters_incremental,
    )

    heavy_hitters_incremental(_ints(spark, b), st, b, "c", capacity=8)


def _index(spark, st, b):
    from etlhelper_spark.operators.index_state import (
        inverted_index_incremental,
    )

    docs = _ints(spark, b).select(
        "doc_id", F.concat_ws(" ", F.lit("tok"), "c").alias("text")
    )
    inverted_index_incremental(docs, st, b)


def _hll(spark, st, b):
    from etlhelper_spark.operators.ivm import sketch_rollup_incremental

    sketch_rollup_incremental(_ints(spark, b), st, b, ["c"], "doc_id")


def _pack(spark, st, b):
    from etlhelper_spark.operators.packing_state import pack_incremental

    docs = _ints(spark, b).select("doc_id", F.lit(3).alias("n"))
    pack_incremental(docs, st, b, 10, tokens_col="n", n_shards=2)


def _kll(spark, st, b):
    from etlhelper_spark.operators.quantile_state import (
        quantile_sketch_incremental,
    )

    quantile_sketch_incremental(_ints(spark, b), st, b, "x")


def _sample(spark, st, b):
    from etlhelper_spark.operators.sample_state import (
        weighted_sample_incremental,
    )

    weighted_sample_incremental(_ints(spark, b), st, b, "w", 3, "doc_id")


def _golden(spark, st, b):
    from etlhelper_spark.operators.survivorship_state import (
        golden_incremental,
    )

    recs = _ints(spark, b).select(
        (F.col("doc_id") % 2).alias("cluster"),
        F.col("doc_id").alias("id"),
        F.col("c").alias("f"),
        F.col("doc_id").alias("ver"),
    )
    golden_incremental(recs, st, b, "cluster", "id", ["f"], "ver")


# every rewrite (v<k>) store of the registry -> the operator that
# commits it, fed one batch
APPLIES = {
    ("cdc", "snapshot"): _cdc,
    ("dedup_state", "exact_bloom"): _bloom,
    ("dedup_state", "clusters"): _clusters,
    ("drift_state", "cats"): _cats,
    ("drift_state", "emb"): _emb,
    ("drift_state", "hist"): _hist,
    ("frequency_state", "freq"): _freq,
    ("index_state", "stats"): _index,
    ("ivm", "<versioned>"): _hll,
    # the cursor is written after the assignments' guarded commit.
    # Waiver: an erased batch's redelivery is accepted below the newest
    # version by design: it writes no assignments, so never reaches
    # commit_version, and folds only the cursor (pinned by
    # tests/test_packing_state.py::test_erase_is_sticky_across_replay)
    ("packing_state", "assign"): _pack,
    ("packing_state", "cursor"): _pack,
    ("quantile_state", "kll"): _kll,
    ("sample_state", "wsample"): _sample,
    ("survivorship_state", "golden"): _golden,
}

# registry stores that are not rewrite stores, so have no replay guard
NOT_REWRITE = {
    ("bpe_state", "merges"): "one frozen table, overwritten per build",
    ("bpe_state", "vocab"): "one frozen table, overwritten per build",
    ("dedup_state", "exact"): "append store: batch=<id> dirs",
    ("dedup_state", "bands"): "append store: batch=<id> dirs",
    ("dedup_state", "embedding_lsh"): "append store: batch=<id> dirs",
    ("dedup_state", "spans"): "append store: batch=<id> dirs",
    ("index_state", "postings"): "append store: batch=<id> dirs",
    ("ivm", "_source"): "the streaming rollup's own input feed",
    ("linkage_state", "phonetic"): "append store: batch=<id> dirs",
    ("linkage_state", "variants"): "append store: batch=<id> dirs",
    ("packing_state", "meta"): "frozen packing parameters, written once",
}

def test_every_registry_store_is_classified():
    registry = {
        (mod, store)
        for mod, stores in STATE_STORE_REGISTRY.items()
        for store in stores
    }
    assert set(APPLIES) | set(NOT_REWRITE) == registry
    assert not set(APPLIES) & set(NOT_REWRITE)


def _batch_dirs(root: str, batch: int) -> list[str]:
    """Every version or append dir of *batch* under *root*."""
    names = {f"v{batch}", f"batch={batch}"}
    return [
        os.path.join(d, n)
        for d, subdirs, _files in os.walk(root)
        for n in subdirs
        if n in names or n.startswith(f"v{batch}.e")
    ]


@pytest.mark.parametrize(
    "store", sorted(APPLIES), ids=lambda s: ".".join(s)
)
def test_out_of_order_batch_raises_and_replay_succeeds(
    spark, tmp_path, store
):
    apply_batch = APPLIES[store]
    st = str(tmp_path / "st")
    for b in (1, 2, 5):
        apply_batch(spark, st, b)
    with pytest.raises(ValueError, match="at or below an existing version"):
        apply_batch(spark, st, 4)
    assert _batch_dirs(st, 4) == []
    apply_batch(spark, st, 2)  # at-least-once replay of an intact version


# -- zero-job read-backs ----------------------------------------------


def _cdc_binary_ts(spark, st, b):
    from etlhelper_spark.operators.cdc import snapshot_apply_incremental

    changes = spark.createDataFrame(
        [(1, b, "U", bytearray(b"\x01"))],
        "k long, seq long, op string, payload binary",
    ).withColumn("ts", F.timestamp_seconds(F.col("seq")))
    snapshot_apply_incremental(changes, st, b, ["k"], ["seq"])


@pytest.mark.parametrize(
    "module, apply_batch, subdir",
    [
        ("etlhelper_spark.operators.quantile_state", _kll, "kll"),
        ("etlhelper_spark.state.store", _hll, ""),
        ("etlhelper_spark.operators.cdc", _cdc_binary_ts, "snapshot"),
    ],
    ids=["kll", "hll", "cdc"],
)
def test_binary_and_timestamp_read_backs_schedule_no_job(
    spark, tmp_path, monkeypatch, module, apply_batch, subdir
):
    """The KLL and HLL sketches are binary columns and the CDC snapshot
    carries binary and timestamp ones. Every job the operator schedules
    after its commit_version returns is counted through a job group of
    its own (as the call_jobs fixture counts an ETL call's): the
    read-back of the committed version schedules none, and neither
    does the next batch's read of it as its prior."""
    import importlib
    import uuid

    from etlhelper_spark.state import store

    sc = spark.sparkContext
    group = f"read-back-{uuid.uuid4().hex}"
    commit = store.commit_version

    def commit_then_count(*args):
        out = commit(*args)
        sc.setJobGroup(group, "read-back")
        return out

    monkeypatch.setattr(
        importlib.import_module(module), "commit_version", commit_then_count
    )
    st = str(tmp_path / "st")
    try:
        apply_batch(spark, st, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    group = f"prior-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "prior")
    try:
        prior = store.read_latest(spark, os.path.join(st, subdir), 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert "binary" in {f.dataType.simpleString() for f in prior.schema}
    assert prior.schema == spark.read.parquet(
        store.version_path(os.path.join(st, subdir), 1)
    ).schema
