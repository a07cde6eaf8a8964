"""Right-to-be-forgotten across every derived artifact
(operators/erasure.py): per-store erasure contracts, partition-local
index rewrites, and the forget_everywhere orchestrator."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )


def _vecs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


# ------------------------------------------------------------ band state
def test_forget_bands_removes_only_target_rows(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import minhash_incremental
    from etlhelper_spark.operators.erasure import forget_from_bands_state

    d = _docs(spark)
    st = str(tmp_path / "st")
    minhash_incremental(d.where("doc_id < 30"), st, 1)
    minhash_incremental(d.where("doc_id >= 30"), st, 2)
    all_rows = spark.read.parquet(
        *glob.glob(os.path.join(st, "bands", "batch=*"))
    )
    n_before = all_rows.count()
    n_target = all_rows.where(F.col("id").isin([3, 31])).count()
    assert n_target > 0
    erased = forget_from_bands_state(spark, st, [3, 31])
    assert erased == n_target
    base = glob.glob(os.path.join(st, "bands", "base_v*"))
    assert len(base) == 1
    after = spark.read.parquet(base[0])
    assert after.count() == n_before - n_target
    assert after.where(F.col("id").isin([3, 31])).count() == 0
    # erased docs re-admit as NEW: a fresh batch carrying doc 3's
    # exact text collides with nothing erased (its old bands are gone)
    t3 = d.where("doc_id = 3").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    pairs = minhash_incremental(t3, st, 3)
    assert pairs.where(
        (F.col("id_a") == 3) | (F.col("id_b") == 3)
    ).count() == 0


# ---------------------------------------------------- embedding_lsh state
def test_forget_embedding_lsh_reanchors_and_drops(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import (
        embedding_lsh_incremental,
    )
    from etlhelper_spark.operators.erasure import (
        forget_from_embedding_lsh_state,
    )

    v = _vecs(spark).where("vec_id < 20")
    # plant identical-vector groups: 100/101 share vec 1's embedding,
    # 200 shares vec 2's
    base1 = v.where("vec_id = 1").select("embedding")
    dup = (
        v.where("vec_id = 1")
        .select(F.lit(100).alias("vec_id"), "embedding")
        .union(v.where("vec_id = 1").select(F.lit(101), "embedding"))
        .union(v.where("vec_id = 2").select(F.lit(200), "embedding"))
    )
    st = str(tmp_path / "st")
    embedding_lsh_incremental(v.union(dup), st, 1, dim=64)
    rows = {
        r["rep_id"]: r["members"]
        for r in spark.read.parquet(
            os.path.join(st, "embedding_lsh", "batch=1")
        ).collect()
    }
    assert rows[1] == [1, 100, 101]
    # forget the group anchor (1) and ALL of group 2's members (2, 200)
    erased = forget_from_embedding_lsh_state(spark, st, [1, 2, 200])
    assert erased == 3
    base = glob.glob(os.path.join(st, "embedding_lsh", "base_v*"))[0]
    after = {
        r["rep_id"]: r["members"]
        for r in spark.read.parquet(base).collect()
    }
    assert after[100] == [100, 101]  # re-anchored on lowest survivor
    assert 1 not in after and 2 not in after and 200 not in after


# ------------------------------------------------------------- span state
def test_forget_spans_respects_retained_sharing(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import span_dedup_incremental
    from etlhelper_spark.operators.erasure import forget_from_span_state

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    private = "one two three four five six seven eight"
    d1 = mk([(1, shared + " " + private)])
    d2 = mk([(2, shared)])
    st = str(tmp_path / "st")
    span_dedup_incremental(d1.union(d2), st, 1, n=8)
    n_before = spark.read.parquet(
        os.path.join(st, "spans", "batch=1")
    ).count()
    # forget doc 1 but keep digests shared with retained doc 2
    erased = forget_from_span_state(
        spark, st, d1, retained_docs=d2, n=8
    )
    base = glob.glob(os.path.join(st, "spans", "base_v*"))[0]
    n_after = spark.read.parquet(base).count()
    assert erased > 0 and n_after == n_before - erased
    # doc 2's own window (the shared prefix window) must survive
    from etlhelper_spark.operators.erasure import _span_grams

    shared_g = {
        r["g"] for r in _span_grams(d2, "doc_id", "text", 8).collect()
    }
    kept_g = {r["g"] for r in spark.read.parquet(base).collect()}
    assert shared_g <= kept_g


# --------------------------------------------------------- inverted index
def test_forget_index_state_recomputes_stats(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_index_state
    from etlhelper_spark.operators.index_state import (
        inverted_index_incremental,
    )

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    st = str(tmp_path / "st")
    inverted_index_incremental(
        mk([(1, "apple banana apple"), (2, "banana cherry")]), st, 1
    )
    inverted_index_incremental(mk([(3, "apple durian")]), st, 2)
    erased = forget_from_index_state(spark, st, [1])
    assert erased == 2  # doc 1 contributed postings for apple, banana
    stats_dirs = sorted(glob.glob(os.path.join(st, "stats", "v*")))
    latest = spark.read.parquet(stats_dirs[-1])
    got = {r["token"]: (r["n"], r["cf"]) for r in latest.collect()}
    assert got == {
        "apple": (1, 1),  # only doc 3 now
        "banana": (1, 1),  # only doc 2
        "cherry": (1, 1),
        "durian": (1, 1),
    }
    posts = spark.read.parquet(
        glob.glob(os.path.join(st, "postings", "base_v*"))[0]
    )
    assert posts.where("doc_id = 1").count() == 0


# ---------------------------------------------------------- ANN index
def test_forget_ann_index_is_partition_local(spark, tmp_path):
    from etlhelper_spark.functions.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )
    from etlhelper_spark.operators.erasure import forget_from_ann_index

    v = _vecs(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(v, idx, nlist=8)
    target = 17
    hit_list = (
        spark.read.parquet(idx)
        .where(F.col("vec_id") == target)
        .select("list_id")
        .first()["list_id"]
    )
    untouched = [
        p
        for p in glob.glob(os.path.join(idx, "list_id=*"))
        if p != os.path.join(idx, f"list_id={hit_list}")
    ]
    sig_before = {
        p: sorted(os.listdir(p)) for p in untouched
    }
    erased = forget_from_ann_index(spark, idx, [target])
    assert erased == 1
    # unaffected partitions: file sets untouched (partition-LOCAL)
    assert {p: sorted(os.listdir(p)) for p in untouched} == sig_before
    assert (
        spark.read.parquet(idx).where(F.col("vec_id") == target).count()
        == 0
    )
    # probes no longer surface the forgotten vector
    q = v.where("vec_id < 2")
    out = query_ivf_index(spark, idx, q, k=10, nprobe=8)
    assert out.where(F.col("neighbor_id") == target).count() == 0


def test_forget_ann_index_drops_emptied_partition(spark, tmp_path):
    from etlhelper_spark.functions.ann_index import build_ivf_index
    from etlhelper_spark.operators.erasure import forget_from_ann_index

    v = _vecs(spark)
    idx = str(tmp_path / "idx")
    build_ivf_index(v, idx, nlist=8)
    # erase an ENTIRE list: its partition dir must vanish (dynamic
    # overwrite alone cannot delete a partition it writes no rows to)
    a_list = (
        spark.read.parquet(idx).groupBy("list_id").count().first()
    )
    members = [
        r["vec_id"]
        for r in spark.read.parquet(idx)
        .where(F.col("list_id") == a_list["list_id"])
        .collect()
    ]
    erased = forget_from_ann_index(spark, idx, members)
    assert erased == len(members)
    assert not os.path.exists(
        os.path.join(idx, f"list_id={a_list['list_id']}")
    )
    assert spark.read.parquet(idx).where(
        F.col("vec_id").isin(members)
    ).count() == 0


# ---------------------------------------------------------- IVFPQ index
def test_forget_ivfpq_cells_and_base(spark, tmp_path):
    from etlhelper_spark.functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        query_ivfpq_index,
        read_ivfpq_rows,
    )
    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index

    v = _vecs(spark)
    idx = str(tmp_path / "idx")
    build_ivfpq_index(
        v.where(F.pmod("vec_id", F.lit(3)) == 0),
        idx,
        nlist=8,
        m_sub=4,
        k_codes=8,
        iterations=2,
    )
    append_ivfpq_index(
        v.where(F.pmod("vec_id", F.lit(3)) == 1), idx, batch_id=1
    )
    compact_ivfpq_ingest(spark, idx, watermark=0)  # fold build into base
    append_ivfpq_index(
        v.where(F.pmod("vec_id", F.lit(3)) == 2), idx, batch_id=2
    )
    # forget one id from the BASE (vec 9, %3==0) and one from the live
    # CELLS (vec 2, %3==2)
    before = read_ivfpq_rows(spark, idx).count()
    erased = forget_from_ivfpq_index(spark, idx, [9, 2])
    assert erased == 2
    rows = read_ivfpq_rows(spark, idx)
    assert rows.count() == before - 2
    assert rows.where(F.col("vec_id").isin([9, 2])).count() == 0
    out = query_ivfpq_index(
        spark, idx, v.where("vec_id < 2"), k=10, nprobe=8
    )
    assert out.where(F.col("neighbor_id").isin([9, 2])).count() == 0


# -------------------------------------------------------- orchestrator
def test_forget_everywhere_orchestrates_and_skips_missing(spark, tmp_path):
    from etlhelper_spark.functions.ann_index import build_ivf_index
    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental,
        minhash_incremental,
    )
    from etlhelper_spark.operators.erasure import forget_everywhere

    d = _docs(spark)
    st = str(tmp_path / "st")
    dedup_exact_incremental(d.where("doc_id < 30"), st, 1)
    minhash_incremental(d.where("doc_id < 30"), st, 1)
    idx = str(tmp_path / "idx")
    build_ivf_index(_vecs(spark), idx, nlist=8)
    out = forget_everywhere(
        spark,
        [3, 7],
        dedup_state_dir=st,
        ivf_index_paths=[idx],
    )
    # exact + bands erased; embedding_lsh/spans/index skipped (absent)
    assert set(out) == {"exact", "bands", "ivf_index_0"}
    assert out["bands"] > 0 and out["ivf_index_0"] == 2
    assert spark.read.parquet(idx).where(
        F.col("vec_id").isin([3, 7])
    ).count() == 0


# ------------------------------------------------------ golden state
_GOLDEN_ARGS = ("ck", "rid", ["phone", "bal"], "v", "src",
                {"s0": 1, "s1": 2})


def _golden_recs(spark):
    """10 clusters x 3 records; version v = j so rid ck*10+2 wins
    every field of cluster ck."""
    rows = []
    for ck in range(10):
        for j in range(3):
            rid = ck * 10 + j
            rows.append(
                (ck, rid, f"s{j % 2}", j, f"P-{rid}", float(rid))
            )
    return spark.createDataFrame(
        rows, "ck long, rid long, src string, v long, phone string, "
              "bal double"
    )


def _fold_golden(recs, st):
    from etlhelper_spark.operators.survivorship_state import (
        golden_incremental,
    )

    for b in range(2):
        golden_incremental(
            recs.where(F.col("rid") % 2 == b), st, b, *_GOLDEN_ARGS
        )


def test_forget_golden_equals_never_ingested(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_golden_state
    from etlhelper_spark.operators.survivorship import golden_records
    from etlhelper_spark.operators.survivorship_state import (
        read_golden_state,
    )

    recs = _golden_recs(spark)
    st = str(tmp_path / "st")
    _fold_golden(recs, st)
    # rid 2 and 12 WON both fields of clusters 0/1; rid 21 lost every
    # field of cluster 2 (losers only affect n_records)
    doomed = [2, 12, 21]
    retained = recs.where(~F.col("rid").isin(doomed))
    n = forget_from_golden_state(
        spark,
        st,
        doomed,
        retained,
        *_GOLDEN_ARGS,
        forgotten_records=recs.where(F.col("rid").isin(doomed)),
    )
    assert n == 4  # 2 winner ids x 2 fields
    got = sorted(map(tuple, read_golden_state(spark, st).collect()))
    want = sorted(
        map(tuple, golden_records(retained, *_GOLDEN_ARGS).collect())
    )
    assert got == want
    by_ck = {r[0]: r for r in got}
    # clusters 0/1 re-survived on the j=1 record; cluster 2's count
    # dropped even though its values were never the doomed record's
    assert by_ck[0][2] == "P-1" and by_ck[1][2] == "P-11"
    assert by_ck[2][1] == 2
    # exactly ONE version dir remains: older versions held the
    # forgotten values and must be physically gone
    assert len(glob.glob(os.path.join(st, "golden", "v*"))) == 1


def test_forget_golden_rejects_doomed_in_retained(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_golden_state

    recs = _golden_recs(spark)
    st = str(tmp_path / "st")
    _fold_golden(recs, st)
    with pytest.raises(ValueError, match="still contains"):
        forget_from_golden_state(spark, st, [2], recs, *_GOLDEN_ARGS)


def test_forget_golden_heals_crash_windows(spark, tmp_path):
    """A stale temp dir (crash before rename) and superseded versions
    (crash between rename and purge) are cleaned on entry; the erased
    state still equals never-ingested."""
    from etlhelper_spark.operators.erasure import forget_from_golden_state
    from etlhelper_spark.operators.survivorship import golden_records
    from etlhelper_spark.operators.survivorship_state import (
        read_golden_state,
    )

    recs = _golden_recs(spark)
    st = str(tmp_path / "st")
    _fold_golden(recs, st)
    stale = os.path.join(st, "golden", ".v99.tmp")
    os.makedirs(stale)
    retained = recs.where(~F.col("rid").isin([32]))
    forget_from_golden_state(spark, st, [32], retained, *_GOLDEN_ARGS)
    assert not os.path.exists(stale)
    vs = glob.glob(os.path.join(st, "golden", "v*"))
    assert len(vs) == 1
    got = sorted(map(tuple, read_golden_state(spark, st).collect()))
    want = sorted(
        map(tuple, golden_records(retained, *_GOLDEN_ARGS).collect())
    )
    assert got == want


def test_forget_everywhere_covers_golden(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_everywhere
    from etlhelper_spark.operators.survivorship_state import (
        read_golden_state,
    )

    recs = _golden_recs(spark)
    st = str(tmp_path / "gst")
    _fold_golden(recs, st)
    # a golden store EXISTS but no retained feed: loud failure, never
    # a silent skip
    with pytest.raises(ValueError, match="compliance"):
        forget_everywhere(spark, [2], golden_state_dir=st)
    spec = dict(
        cluster_col="ck",
        id_col="rid",
        field_cols=["phone", "bal"],
        version_col="v",
        source_col="src",
        source_priority={"s0": 1, "s1": 2},
    )
    out = forget_everywhere(
        spark,
        [2],
        golden_state_dir=st,
        golden_retained=recs.where(F.col("rid") != 2),
        golden_spec=spec,
    )
    assert out["golden"] == 2
    state = read_golden_state(spark, st)
    assert state.where(
        (F.col("phone__src_id") == 2) | (F.col("bal__src_id") == 2)
    ).count() == 0


# --------------------------------------------- sample / frequency state


def _fold_sample(spark, st):
    """Three-batch reservoir over the small doc corpus (q199's shape):
    weight = n_chars proxy via doc_id so rows are deterministic."""
    from etlhelper_spark.operators.sample_state import (
        weighted_sample_incremental,
    )

    d = _docs(spark).withColumn("w", F.col("doc_id") % 7 + 1)
    out = None
    for b in range(3):
        out = weighted_sample_incremental(
            d.where(F.pmod("doc_id", F.lit(3)) == b),
            st, b, "w", 10, "doc_id",
        )
    return d, out


def test_forget_sample_drops_winners_and_purges_history(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_sample_state

    st = str(tmp_path / "st")
    _d, sample = _fold_sample(spark, st)
    winners = [r["doc_id"] for r in sample.select("doc_id").collect()]
    doomed = winners[:3] + [999999]  # 3 live winners + one absent id
    assert len(glob.glob(os.path.join(st, "wsample", "v*"))) == 3
    n = forget_from_sample_state(spark, st, doomed, "doc_id")
    assert n == 3  # only rows present in the LIVE sample count
    vs = glob.glob(os.path.join(st, "wsample", "v*"))
    # every older version was a full PII-bearing copy: physically gone
    assert len(vs) == 1
    left = spark.read.parquet(vs[0])
    assert left.count() == 7  # n - k: losers were never retained
    assert (
        left.where(F.col("doc_id").isin(doomed)).count() == 0
    )
    # surviving winners are untouched (same rows minus the doomed)
    assert sorted(
        r["doc_id"] for r in left.select("doc_id").collect()
    ) == sorted(w for w in winners if w not in doomed)


def test_forget_sample_rerace_equals_never_ingested(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_sample_state
    from etlhelper_spark.operators.sample_state import (
        weighted_sample_incremental,
    )

    st = str(tmp_path / "st")
    d, sample = _fold_sample(spark, st)
    winners = [r["doc_id"] for r in sample.select("doc_id").collect()]
    doomed = winners[:2]
    retained = d.where(~F.col("doc_id").isin(doomed))
    n = forget_from_sample_state(
        spark, st, doomed, "doc_id",
        retained=retained, weight_col="w", n=10,
    )
    assert n == 2
    vs = glob.glob(os.path.join(st, "wsample", "v*"))
    assert len(vs) == 1
    got = sorted(
        map(tuple, spark.read.parquet(vs[0]).drop("__es_key").collect())
    )
    # oracle: the one-shot race over the never-ingested corpus
    fresh = str(tmp_path / "fresh")
    want_df = weighted_sample_incremental(
        retained, fresh, 0, "w", 10, "doc_id"
    )
    want = sorted(map(tuple, want_df.collect()))
    assert got == want
    assert len(got) == 10  # re-raced back to a FULL sample


def test_forget_sample_rejects_doomed_in_retained(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_sample_state

    st = str(tmp_path / "st")
    d, sample = _fold_sample(spark, st)
    doomed = [sample.select("doc_id").first()["doc_id"]]
    with pytest.raises(ValueError, match="still contains"):
        forget_from_sample_state(
            spark, st, doomed, "doc_id",
            retained=d, weight_col="w", n=10,
        )
    with pytest.raises(ValueError, match="requires weight_col"):
        forget_from_sample_state(
            spark, st, doomed, "doc_id",
            retained=d.limit(0),
        )


def test_forget_sample_heals_crash_windows(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_from_sample_state

    st = str(tmp_path / "st")
    _d, sample = _fold_sample(spark, st)
    stale = os.path.join(st, "wsample", ".v99.tmp")
    os.makedirs(stale)
    doomed = [sample.select("doc_id").first()["doc_id"]]
    forget_from_sample_state(spark, st, doomed, "doc_id")
    assert not os.path.exists(stale)
    assert len(glob.glob(os.path.join(st, "wsample", "v*"))) == 1


def _fold_freq(spark, st):
    from etlhelper_spark.operators.frequency_state import (
        heavy_hitters_incremental,
    )

    toks = (
        _docs(spark)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    state = None
    for b in range(3):
        state = heavy_hitters_incremental(
            toks.where(F.pmod("doc_id", F.lit(3)) == b).select("token"),
            st, b, "token", capacity=4096,
        )
    return state


def test_forget_frequency_drops_values_keeps_total(spark, tmp_path):
    from etlhelper_spark.operators.erasure import (
        forget_from_frequency_state,
    )

    st = str(tmp_path / "st")
    state = _fold_freq(spark, st)
    rows = state.where(F.col("item").isNotNull()).orderBy(
        F.col("cnt").desc(), F.col("item")
    )
    doomed = [r["item"] for r in rows.limit(2).collect()]
    total = state.where(F.col("item").isNull()).first()["cnt"]
    n = forget_from_frequency_state(spark, st, doomed + ["<absent>"])
    assert n == 2
    vs = glob.glob(os.path.join(st, "freq", "v*"))
    assert len(vs) == 1  # older versions also held the values: purged
    left = spark.read.parquet(vs[0])
    assert left.where(F.col("item").isin(doomed)).count() == 0
    # the running total is a count of past events, not content: kept
    # unchanged so the sketch's certified bounds stay conservative
    assert left.where(F.col("item").isNull()).first()["cnt"] == total


def test_forget_frequency_accepts_dataframe_values(spark, tmp_path):
    from etlhelper_spark.operators.erasure import (
        forget_from_frequency_state,
    )

    st = str(tmp_path / "st")
    state = _fold_freq(spark, st)
    doomed_df = state.where(F.col("item").isNotNull()).select(
        "item"
    ).limit(3)
    n = forget_from_frequency_state(spark, st, doomed_df)
    assert n == 3


def test_forget_everywhere_covers_sample_and_frequency(spark, tmp_path):
    from etlhelper_spark.operators.erasure import forget_everywhere

    sst = str(tmp_path / "sst")
    fst = str(tmp_path / "fst")
    _d, sample = _fold_sample(spark, sst)
    state = _fold_freq(spark, fst)
    doomed_id = sample.select("doc_id").first()["doc_id"]
    doomed_val = (
        state.where(F.col("item").isNotNull()).first()["item"]
    )
    # stores EXIST but the reach-them arguments are missing: loud
    # failure, never a silent skip (the golden precedent)
    with pytest.raises(ValueError, match="compliance"):
        forget_everywhere(spark, [doomed_id], sample_state_dir=sst)
    with pytest.raises(ValueError, match="compliance"):
        forget_everywhere(spark, [doomed_id], frequency_state_dir=fst)
    out = forget_everywhere(
        spark,
        [doomed_id],
        sample_state_dir=sst,
        sample_hash_col="doc_id",
        frequency_state_dir=fst,
        frequency_values=[doomed_val],
    )
    assert out["weighted_sample"] == 1
    assert out["heavy_hitters"] == 1


# ------------------------------------------------- cdc / clusters state


def test_forget_cdc_state_drops_rows_and_tombstones(spark, tmp_path):
    from etlhelper_spark.operators.cdc import snapshot_apply_incremental
    from etlhelper_spark.operators.erasure import forget_from_cdc_state
    from etlhelper_spark.functions.util import literal_frame

    st = str(tmp_path / "st")
    b1 = literal_frame(
        spark,
        [(1, "alice", 1, "U"), (2, "bob", 1, "U"), (3, "carol", 1, "U")],
        "k long, name string, seq long, op string",
    )
    b2 = literal_frame(
        spark,
        [(1, "alice2", 2, "U"), (3, "carol", 2, "D")],
        "k long, name string, seq long, op string",
    )
    for i, b in enumerate([b1, b2]):
        snapshot_apply_incremental(b, st, i, ["k"], ["seq"])
    # key 1 (live) and key 3 (tombstone) are forgotten; both row kinds
    # carry full source columns and must go
    n = forget_from_cdc_state(spark, st, [1, 3], "k")
    assert n == 2
    vs = glob.glob(os.path.join(st, "snapshot", "v*"))
    assert len(vs) == 1  # every older full-copy version purged
    left = spark.read.parquet(vs[0])
    assert [r["k"] for r in left.collect()] == [2]


def test_forget_clusters_state_relabels_doomed_anchor(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )
    from etlhelper_spark.operators.erasure import (
        forget_from_clusters_state,
    )
    from etlhelper_spark.functions.util import literal_frame

    st = str(tmp_path / "st")
    pairs = literal_frame(
        spark,
        [(1, 5), (5, 9), (20, 30)],
        "id_a long, id_b long",
    )
    duplicate_clusters_incremental(pairs, st, 0)
    # node 1 anchors cluster {1,5,9} (label = min = 1): erasing it must
    # remove its row AND stop 1 appearing as the survivors' label
    n = forget_from_clusters_state(spark, st, [1])
    assert n == 1
    vs = glob.glob(os.path.join(st, "clusters", "v*"))
    assert len(vs) == 1
    left = {
        r["node_id"]: r["cluster_id"]
        for r in spark.read.parquet(vs[0]).collect()
    }
    assert left == {5: 5, 9: 5, 20: 20, 30: 20}


def test_forget_everywhere_covers_cdc_and_clusters(spark, tmp_path):
    from etlhelper_spark.operators.cdc import snapshot_apply_incremental
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )
    from etlhelper_spark.operators.erasure import forget_everywhere
    from etlhelper_spark.functions.util import literal_frame

    cst = str(tmp_path / "cst")
    dst = str(tmp_path / "dst")
    snapshot_apply_incremental(
        literal_frame(
            spark,
            [(1, "x", 1, "U"), (2, "y", 1, "U")],
            "k long, v string, seq long, op string",
        ),
        cst, 0, ["k"], ["seq"],
    )
    duplicate_clusters_incremental(
        literal_frame(spark, [(2, 7)], "id_a long, id_b long"), dst, 0
    )
    with pytest.raises(ValueError, match="compliance"):
        forget_everywhere(spark, [2], cdc_state_dir=cst)
    out = forget_everywhere(
        spark,
        [2],
        cdc_state_dir=cst,
        cdc_key_col="k",
        dedup_state_dir=dst,  # clusters substore found under dedup dir
    )
    assert out["cdc_snapshot"] == 1
    assert out["duplicate_clusters"] == 1


def test_post_erase_next_engine_batch_id_proceeds(spark, tmp_path):
    """Erase epochs live OUTSIDE the batch-id space (ADVICE r11): an
    erasure at live v2 writes v2.e1 — NOT v3 — so a checkpointed
    stream's engine-assigned next id 3 folds onto the erased state
    instead of wedging against the guard forever (engine batch ids
    cannot be renumbered). A REPLAY of batch 2 itself stays rejected:
    erasure is sticky, the rewrite would resurrect forgotten rows."""
    import os

    from etlhelper_spark.operators.erasure import forget_from_sample_state
    from etlhelper_spark.operators.sample_state import (
        weighted_sample_incremental,
    )

    st = str(tmp_path / "st")
    d, sample = _fold_sample(spark, st)  # batches 0,1,2 -> live v2
    doomed = [sample.select("doc_id").first()["doc_id"]]
    forget_from_sample_state(spark, st, doomed, "doc_id")
    assert os.path.isdir(os.path.join(st, "wsample", "v2.e1"))
    assert not os.path.isdir(os.path.join(st, "wsample", "v3"))
    # the engine's natural next id folds onto the ERASED state
    out = weighted_sample_incremental(
        d.where(~F.col("doc_id").isin(doomed)), st, 3, "w", 10, "doc_id"
    )
    assert out.count() == 10
    assert out.where(F.col("doc_id").isin(doomed)).count() == 0
    # replaying the erased batch id itself is refused (sticky erasure)
    with pytest.raises(ValueError, match="erasure"):
        weighted_sample_incremental(
            d.limit(5), st, 2, "w", 10, "doc_id"
        )


def test_replay_below_purged_horizon_raises(spark, tmp_path):
    """A replay of a batch whose version was purged by erasure would
    physically rewrite (possibly forgotten) rows — rejected loudly;
    a replay of an INTACT batch version stays allowed."""
    from etlhelper_spark.operators.erasure import (
        forget_from_frequency_state,
    )
    from etlhelper_spark.operators.frequency_state import (
        heavy_hitters_incremental,
    )

    st = str(tmp_path / "st")
    state = _fold_freq(spark, st)
    toks = (
        _docs(spark)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    # pre-erase: replaying batch 1 (its v1 exists) is still legal
    heavy_hitters_incremental(
        toks.where(F.pmod("doc_id", F.lit(3)) == 1).select("token"),
        st, 1, "token", capacity=4096,
    )
    doomed = [
        state.where(F.col("item").isNotNull()).first()["item"]
    ]
    forget_from_frequency_state(spark, st, doomed)
    with pytest.raises(ValueError, match="erasure"):
        heavy_hitters_incremental(
            toks.where(F.pmod("doc_id", F.lit(3)) == 1).select("token"),
            st, 1, "token", capacity=4096,
        )


def test_forget_cdc_state_string_keys_from_list(spark, tmp_path):
    """The doom set is typed from the key column's own schema, so a
    bounded deletion request over string keys works as a plain list."""
    from etlhelper_spark.operators.cdc import snapshot_apply_incremental
    from etlhelper_spark.operators.erasure import forget_from_cdc_state
    from etlhelper_spark.functions.util import literal_frame

    st = str(tmp_path / "st")
    snapshot_apply_incremental(
        literal_frame(
            spark,
            [("alice@x.com", 1, 1, "U"), ("bob@x.com", 2, 1, "U")],
            "email string, v long, seq long, op string",
        ),
        st, 0, ["email"], ["seq"],
    )
    n = forget_from_cdc_state(spark, st, ["alice@x.com"], "email")
    assert n == 1
    left = spark.read.parquet(
        glob.glob(os.path.join(st, "snapshot", "v*"))[0]
    )
    assert [r["email"] for r in left.collect()] == ["bob@x.com"]


def test_torn_version_write_heals_instead_of_wedging(spark, tmp_path):
    """A crashed apply's partial write (version dir without Spark's
    _SUCCESS marker — ADVICE r11) must neither block the batch
    sequence nor be handed to readers: the guard treats it as absent
    (the batch's own overwrite heals it) and _latest_version skips it."""
    import os

    from etlhelper_spark.operators.sample_state import (
        weighted_sample_incremental,
    )

    st = str(tmp_path / "st")
    d, _sample = _fold_sample(spark, st)  # batches 0,1,2 -> live v2
    # simulate a torn write of batch 7: dir exists, no _SUCCESS
    torn = os.path.join(st, "wsample", "v7")
    os.makedirs(torn)
    # a fresh batch at or below the torn id proceeds (torn is not a
    # version) and reads v2, not the torn dir
    out = weighted_sample_incremental(d, st, 7, "w", 10, "doc_id")
    assert out.count() == 10
    assert os.path.exists(os.path.join(st, "wsample", "v7", "_SUCCESS"))
