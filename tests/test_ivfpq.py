"""IVFPQ composed index (functions/ivfpq.py): partition-pruned ADC
probe, frozen-artifact append content-identity, exact re-rank
semantics, and the compression claim (no float payload in the index).
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etlhelper_spark.functions.ivfpq import (
    append_ivfpq_index,
    build_ivfpq_index,
    query_ivfpq_index,
    read_ivfpq_rows,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vecs(spark):
    from etlhelper_spark.sources import read_parquet_table

    return read_parquet_table(spark, f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def index_dir(spark, vecs):
    d = tempfile.mkdtemp(prefix="ehs_ivfpq_")
    n, nlist, k_eff = build_ivfpq_index(
        vecs, d, nlist=8, m_sub=4, k_codes=8, iterations=2
    )
    assert n == vecs.count() and nlist == 8 and k_eff <= 8
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_index_stores_codes_only(spark, index_dir):
    """The compression claim: the index rows carry (vec_id, codes,
    list_id) and nothing else — the float payload must not exist in
    the index (a stored float column would read back as a covering
    attribute)."""
    idx = read_ivfpq_rows(spark, index_dir)
    assert sorted(idx.columns) == ["codes", "list_id", "vec_id"]
    row = idx.first()
    assert len(row["codes"]) == 4
    assert all(isinstance(c, int) for c in row["codes"])


def test_probe_scan_prunes_partitions(spark, vecs, index_dir):
    q = vecs.where(F.col("vec_id") < 2)
    out = query_ivfpq_index(spark, index_dir, q, k=3, nprobe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any("list_id" in ln and "IN" in ln.upper() for ln in scan_lines)


def test_adc_probe_equals_composed_halves(spark, vecs, index_dir):
    """The composed probe must equal running the two halves by hand:
    restrict the corpus to the query's probed lists (via the stored
    pivots), then pq_adc_topk over those rows' codes with the stored
    codebooks — same ids, same ADC scores."""
    from etlhelper_spark.functions.pq import (
        load_pq_codebooks,
        pq_adc_topk,
    )
    from etlhelper_spark.functions.similarity import (
        collect_pivot_rows,
        nearest_pivots,
    )

    q = vecs.where(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_sim"]
        for r in query_ivfpq_index(
            spark, index_dir, q, k=4, nprobe=3
        ).collect()
    }
    books = load_pq_codebooks(spark, index_dir)
    pivots = spark.read.parquet(f"{index_dir}/_pivots")
    pivot_rows = collect_pivot_rows(pivots, "list_id", "pivot")
    idx = read_ivfpq_rows(spark, index_dir)
    want = {}
    for qrow in q.collect():
        probes = [
            r["list_id"]
            for r in q.where(F.col("vec_id") == qrow["vec_id"])
            .select(
                F.explode(
                    nearest_pivots(F.col("embedding"), pivot_rows, 3)["pid"]
                ).alias("list_id")
            )
            .collect()
        ]
        cand = idx.where(F.col("list_id").isin(probes)).where(
            F.col("vec_id") != qrow["vec_id"]
        )
        enc = cand.select(F.col("vec_id").alias("id"), "codes")
        one_q = q.where(F.col("vec_id") == qrow["vec_id"])
        for r in pq_adc_topk(enc, books, one_q, k=4).collect():
            want[(r["query_id"], r["neighbor_id"])] = r["adc_sim"]
    assert got == want


def test_append_is_content_identical_to_union_encode(spark, vecs):
    """Frozen-artifact append: build on batch 1, append batch 2 — the
    codes table must be row-identical to encoding the union against
    the SAME frozen pivots + codebooks (both halves' append contracts
    compose)."""
    from etlhelper_spark.functions.ivfpq import _encode_cols
    from etlhelper_spark.functions.pq import load_pq_codebooks
    from etlhelper_spark.functions.similarity import collect_pivot_rows

    b0 = vecs.where(F.col("vec_id") % 2 == 0)
    b1 = vecs.where(F.col("vec_id") % 2 == 1)
    d = tempfile.mkdtemp(prefix="ehs_ivfpq_app_")
    try:
        build_ivfpq_index(b0, d, nlist=4, m_sub=4, k_codes=4)
        n1 = append_ivfpq_index(b1, d, batch_id=1)
        assert n1 == b1.count()
        got = sorted(
            (r["vec_id"], r["list_id"], tuple(r["codes"]))
            for r in read_ivfpq_rows(spark, d).collect()
        )
        pivots = spark.read.parquet(f"{d}/_pivots")
        pivot_rows = collect_pivot_rows(pivots, "list_id", "pivot")
        books = load_pq_codebooks(spark, d)
        want = sorted(
            (r["vec_id"], r["list_id"], tuple(r["codes"]))
            for r in vecs.select(
                F.col("vec_id"),
                *_encode_cols(books, pivot_rows, "embedding"),
            ).collect()
        )
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_refine_reranks_shortlist_with_exact_cosine(spark, vecs, index_dir):
    """With refine: the result must be exactly the ADC shortlist
    re-ranked by exact cosine — ids a subset of the shortlist, order
    by true similarity, ties by neighbor id."""
    import math

    q = vecs.where(F.col("vec_id") < 2)
    shortlist = query_ivfpq_index(
        spark, index_dir, q, k=12, nprobe=3
    )
    refined = query_ivfpq_index(
        spark, index_dir, q, k=3, nprobe=3, refine=vecs, refine_factor=4
    )
    sl = {
        (r["query_id"], r["neighbor_id"]) for r in shortlist.collect()
    }
    emb = {r["vec_id"]: r["embedding"] for r in vecs.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    rows = refined.collect()
    assert all((r["query_id"], r["neighbor_id"]) in sl for r in rows)
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        # exact re-rank: the returned sim is true cosine, descending
        for r in rs:
            assert r["sim"] == pytest.approx(
                cos(emb[qid], emb[r["neighbor_id"]]), abs=5e-5
            )
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_arrow_encode_matches_literal_encode(spark, vecs):
    """The Arrow-batched assignment must produce the same codes and
    list assignment as the literal-fold path on the same frozen
    artifacts (tie-break parity: argmax-first == (sim desc, code asc)
    modulo one ulp — pinned deterministically on this corpus)."""
    from etlhelper_spark.functions.ivfpq import _encode_cols
    from etlhelper_spark.functions.pq import pq_train
    from etlhelper_spark.functions.similarity import collect_pivot_rows

    books = pq_train(vecs, m_sub=4, k_codes=8, iterations=2)
    pivots = vecs.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("list_id"),
        F.col("embedding").alias("pivot"),
    )
    pivot_rows = collect_pivot_rows(pivots, "list_id", "pivot")
    lit = sorted(
        (r["vec_id"], r["list_id"], tuple(r["codes"]))
        for r in vecs.select(
            "vec_id", *_encode_cols(books, pivot_rows, "embedding")
        ).collect()
    )
    arr = sorted(
        (r["vec_id"], r["list_id"], tuple(r["codes"]))
        for r in vecs.select(
            "vec_id",
            *_encode_cols(books, pivot_rows, "embedding", arrow=True),
        ).collect()
    )
    assert arr == lit


def test_arrow_train_matches_literal_train(spark, vecs):
    """Arrow-batched Lloyd assignment must learn the same codebooks as
    the literal path (same 6dp rounding, same tie-breaks)."""
    from etlhelper_spark.functions.pq import pq_train

    lit = pq_train(vecs, m_sub=4, k_codes=8, iterations=2)
    arr = pq_train(vecs, m_sub=4, k_codes=8, iterations=2, arrow=True)
    assert arr == lit


def test_ingest_replay_is_idempotent(spark, vecs):
    """An append redelivered with the same batch id must overwrite
    exactly its own (list_id, ingest_batch) cells — the final table is
    identical to the single-delivery run, and other batches' rows are
    untouched."""
    import tempfile

    d = tempfile.mkdtemp(prefix="ehs_ivfpq_ver_")
    try:
        b0 = vecs.where(F.col("vec_id") % 3 == 0)
        b1 = vecs.where(F.col("vec_id") % 3 == 1)
        build_ivfpq_index(b0, d, nlist=4, m_sub=4, k_codes=4)
        n = append_ivfpq_index(b1, d, batch_id=1)
        assert n == b1.count()
        once = sorted(
            (r["vec_id"], r["list_id"], r["ingest_batch"], tuple(r["codes"]))
            for r in spark.read.parquet(d).collect()
        )
        # redeliver the SAME batch id: dynamic overwrite, no duplicates
        append_ivfpq_index(b1, d, batch_id=1)
        replay = sorted(
            (r["vec_id"], r["list_id"], r["ingest_batch"], tuple(r["codes"]))
            for r in spark.read.parquet(d).collect()
        )
        assert replay == once
        # batch lineage is intact
        batches = {r["ingest_batch"] for r in spark.read.parquet(d).collect()}
        assert batches == {0, 1}
        # an append without a batch id is refused
        with pytest.raises(TypeError, match="batch_id"):
            append_ivfpq_index(b1, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------- watermarked compaction
@pytest.fixture()
def versioned_index(spark, vecs, tmp_path):
    """Index built on %3==0, with %3==1 appended as batch 1 and %3==2
    as batch 2."""
    d = str(tmp_path / "vidx")
    build_ivfpq_index(
        vecs.where(F.pmod("vec_id", F.lit(3)) == 0),
        d,
        nlist=8,
        m_sub=4,
        k_codes=8,
        iterations=2,
    )
    append_ivfpq_index(
        vecs.where(F.pmod("vec_id", F.lit(3)) == 1), d, batch_id=1
    )
    append_ivfpq_index(
        vecs.where(F.pmod("vec_id", F.lit(3)) == 2), d, batch_id=2
    )
    return d


def _effective(spark, path):
    from etlhelper_spark.functions.ivfpq import read_ivfpq_rows

    return {
        (r["vec_id"], r["list_id"], tuple(r["codes"]))
        for r in read_ivfpq_rows(spark, path).collect()
    }


def test_compact_preserves_content_and_drops_replays(
    spark, vecs, versioned_index
):
    """Folding batches <= W changes NOTHING a reader sees, and a
    replayed folded batch is DROPPED (appended count 0, content
    unchanged) — the post-compaction half of the exactly-once
    contract."""
    import glob as g
    import os

    from etlhelper_spark.functions.ivfpq import (
        compact_ivfpq_ingest,
        ivfpq_ingest_watermark,
    )

    before = _effective(spark, versioned_index)
    folded = compact_ivfpq_ingest(spark, versioned_index, watermark=1)
    assert folded > 0
    assert ivfpq_ingest_watermark(versioned_index) == 1
    assert _effective(spark, versioned_index) == before
    # no live cells at ingest_batch <= 1 remain
    live = g.glob(
        os.path.join(versioned_index, "list_id=*", "ingest_batch=*")
    )
    assert all(
        int(os.path.basename(p).split("=")[1]) > 1 for p in live
    )
    # replay of folded batch 1: dropped, content unchanged
    n = append_ivfpq_index(
        vecs.where(F.pmod("vec_id", F.lit(3)) == 1),
        versioned_index,
        batch_id=1,
    )
    assert n == 0
    assert _effective(spark, versioned_index) == before
    # batch 2 is ABOVE the watermark: replay still overwrites its own
    # cells idempotently (the pre-compaction contract, unchanged)
    n2 = append_ivfpq_index(
        vecs.where(F.pmod("vec_id", F.lit(3)) == 2),
        versioned_index,
        batch_id=2,
    )
    assert n2 > 0
    assert _effective(spark, versioned_index) == before


def test_compact_probe_equality_and_second_fold(spark, vecs, versioned_index):
    """Probe results are identical before/after compaction, and a
    SECOND fold (monotone watermark) composes: base_v2 absorbs base_v1
    plus the (1, 2] cells."""
    from etlhelper_spark.functions.ivfpq import (
        compact_ivfpq_ingest,
        ivfpq_ingest_watermark,
    )

    q = vecs.where(F.col("vec_id") < 3)
    before = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in query_ivfpq_index(
            spark, versioned_index, q, k=4, nprobe=3
        ).collect()
    }
    compact_ivfpq_ingest(spark, versioned_index, watermark=1)
    mid = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in query_ivfpq_index(
            spark, versioned_index, q, k=4, nprobe=3
        ).collect()
    }
    assert mid == before
    compact_ivfpq_ingest(spark, versioned_index, watermark=2)
    assert ivfpq_ingest_watermark(versioned_index) == 2
    after = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in query_ivfpq_index(
            spark, versioned_index, q, k=4, nprobe=3
        ).collect()
    }
    assert after == before
    with pytest.raises(ValueError, match="monotone"):
        compact_ivfpq_ingest(spark, versioned_index, watermark=1)


def test_compact_crash_windows(spark, vecs, versioned_index):
    """Both crash windows leave a correct reader view: (a) a base dir
    without its marker is invisible; (b) marker present but folded
    cells not yet deleted — the watermark filter excludes them (no
    double-read)."""
    import os
    import shutil as sh

    from etlhelper_spark.functions.ivfpq import (
        compact_ivfpq_ingest,
        ivfpq_ingest_watermark,
    )

    before = _effective(spark, versioned_index)
    # (a) simulate crash BEFORE marker: partial base dir, no marker
    partial = os.path.join(versioned_index, "_ibase_v1")
    os.makedirs(partial, exist_ok=True)
    assert ivfpq_ingest_watermark(versioned_index) is None
    assert _effective(spark, versioned_index) == before
    sh.rmtree(partial)
    # (b) real compaction, then RESTORE folded cells to simulate a
    # crash after the marker but before cleanup
    snap = tempfile.mkdtemp(prefix="ehs_snap_")
    sh.copytree(versioned_index, snap, dirs_exist_ok=True)
    compact_ivfpq_ingest(spark, versioned_index, watermark=2)
    for p in os.listdir(snap):
        if p.startswith("list_id="):
            sh.copytree(
                os.path.join(snap, p),
                os.path.join(versioned_index, p),
                dirs_exist_ok=True,
            )
    assert _effective(spark, versioned_index) == before
    sh.rmtree(snap, ignore_errors=True)


# --------------------------------------------------- residual encoding
def test_nearest_pivot_l2_respects_magnitude(spark):
    """The L2 kernel assigns by distance, not direction — the property
    residual quantization depends on (cosine would send both rows to
    the larger same-direction centroid)."""
    from etlhelper_spark.functions.similarity import (
        nearest_pivot,
        nearest_pivot_l2,
    )

    df = spark.createDataFrame(
        [(1, [0.1, 0.1]), (2, [5.0, 5.0])], "id long, v array<double>"
    )
    pivots = [(0, [0.2, 0.2]), (1, [6.0, 6.0])]
    rows = {
        r["id"]: (r["cos"], r["l2"])
        for r in df.select(
            "id",
            nearest_pivot(F.col("v"), pivots)["pid"].alias("cos"),
            nearest_pivot_l2(F.col("v"), pivots)["pid"].alias("l2"),
        ).collect()
    }
    assert rows[1][1] == 0 and rows[2][1] == 1  # L2: by magnitude
    assert rows[1][0] == rows[2][0]  # cosine: direction only


def test_l2_batched_matches_literal(spark, vecs):
    from etlhelper_spark.functions.similarity import (
        nearest_pivot_l2,
        nearest_pivot_l2_batched,
    )

    pivots = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]][:16])
        for r in vecs.where("vec_id < 6").collect()
    ]
    sub = vecs.select("vec_id", F.slice("embedding", 1, 16).alias("v"))
    lit = {
        r["vec_id"]: r["p"]
        for r in sub.select(
            "vec_id", nearest_pivot_l2(F.col("v"), pivots)["pid"].alias("p")
        ).collect()
    }
    bat = {
        r["vec_id"]: r["p"]
        for r in sub.select(
            "vec_id",
            nearest_pivot_l2_batched(pivots)(F.col("v"))["pid"].alias("p"),
        ).collect()
    }
    assert lit == bat


def test_residual_codebook_not_collapsed(spark, vecs, tmp_path):
    """Zero-seed regression: the nlist lowest-id vectors ARE the
    pivots, so their residuals are zero — without excluding them from
    training seeds, every seed is the zero vector and the codebook
    collapses to one entry (r8 root-cause)."""
    from etlhelper_spark.functions.ivfpq import build_ivfpq_index
    from etlhelper_spark.functions.pq import load_pq_codebooks

    d = str(tmp_path / "ridx")
    build_ivfpq_index(
        vecs, d, nlist=8, m_sub=4, k_codes=8, iterations=2, residual=True
    )
    books = load_pq_codebooks(spark, d)
    for j in books:
        assert len(books[j]) >= 4  # multiple surviving codes
    # and the codes column actually uses more than one code
    idx = read_ivfpq_rows(spark, d)
    n_codes = idx.select(
        F.count_distinct(F.col("codes")[0]).alias("n")
    ).first()["n"]
    assert n_codes >= 2


def test_residual_append_equals_frozen_union_encode(spark, vecs, tmp_path):
    """The frozen-artifact contract survives residual mode: appending
    batch 2 equals encoding the union against the same frozen
    pivots + codebooks."""
    import os
    import shutil as sh

    from etlhelper_spark.functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
    )

    d = str(tmp_path / "a")
    d2 = str(tmp_path / "b")
    b0 = vecs.where(F.pmod("vec_id", F.lit(3)) < 2)
    b1 = vecs.where(F.pmod("vec_id", F.lit(3)) >= 2)
    build_ivfpq_index(
        b0, d, nlist=8, m_sub=4, k_codes=8, iterations=2, residual=True
    )
    append_ivfpq_index(b1, d, batch_id=1)
    got = {
        (r["vec_id"], r["list_id"], tuple(r["codes"]))
        for r in read_ivfpq_rows(spark, d).collect()
    }
    os.makedirs(d2, exist_ok=True)
    for sub in ("_pivots", "_codebooks", "_meta"):
        sh.copytree(os.path.join(d, sub), os.path.join(d2, sub))
    append_ivfpq_index(vecs, d2, batch_id=1)
    want = {
        (r["vec_id"], r["list_id"], tuple(r["codes"]))
        for r in read_ivfpq_rows(spark, d2).collect()
    }
    assert got == want


def test_residual_adc_matches_numpy_reconstruction(spark, vecs, tmp_path):
    """The residual ADC column computes exactly
    cos(q, pivot + c[codes]) — pinned against a numpy restatement
    (within the 4dp rounding the ADC contract imposes)."""
    import os

    import numpy as np

    from etlhelper_spark.functions.ivfpq import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from etlhelper_spark.functions.pq import load_pq_codebooks

    d = str(tmp_path / "ridx")
    build_ivfpq_index(
        vecs, d, nlist=8, m_sub=4, k_codes=8, iterations=2, residual=True
    )
    books = load_pq_codebooks(spark, d)
    sd = len(books[0][0][1])
    piv = {
        r["list_id"]: np.array(r["pivot"], dtype=np.float64)
        for r in spark.read.parquet(os.path.join(d, "_pivots")).collect()
    }
    codes = {
        r["vec_id"]: (r["list_id"], list(r["codes"]))
        for r in read_ivfpq_rows(spark, d).collect()
    }
    cmap = {j: dict(books[j]) for j in books}
    V = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in vecs.collect()
    }
    q = vecs.where("vec_id < 3")
    out = query_ivfpq_index(spark, d, q, k=10, nprobe=8).collect()
    assert out
    for r in out:
        L, cs = codes[r["neighbor_id"]]
        xhat = piv[L].copy()
        for j in sorted(books):
            xhat[j * sd : (j + 1) * sd] += np.array(cmap[j][cs[j]])
        a = V[r["query_id"]]
        expect = float(
            a @ xhat / (np.linalg.norm(a) * np.linalg.norm(xhat))
        )
        assert abs(r["adc_sim"] - expect) < 1e-3


# ---------------------------------------------------------- rebalance
def test_rebalance_requires_compacted_base(spark, vecs, versioned_index):
    from etlhelper_spark.functions.ivfpq import rebalance_ivfpq_index

    with pytest.raises(ValueError, match="compact"):
        rebalance_ivfpq_index(
            spark, versioned_index, row_store=vecs, max_list_size=1
        )


def test_rebalance_residual_membership_and_reencode(spark, vecs, tmp_path):
    """Residual-mode rebalance: membership exactly preserved, sizes
    within cap, moved rows RE-ENCODED against their new pivot (frozen
    codebooks), and post-rebalance appends still compose."""
    from etlhelper_spark.functions.ivfpq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_ingest,
        read_ivfpq_rows,
        rebalance_ivfpq_index,
    )

    d = str(tmp_path / "ridx")
    b0 = vecs.where(F.pmod("vec_id", F.lit(3)) < 2)
    b1 = vecs.where(F.pmod("vec_id", F.lit(3)) >= 2)
    build_ivfpq_index(
        b0,
        d,
        nlist=4,
        m_sub=4,
        k_codes=8,
        iterations=2,
        residual=True,
    )
    append_ivfpq_index(b1, d, batch_id=1)
    compact_ivfpq_ingest(spark, d, watermark=1)
    n = read_ivfpq_rows(spark, d).count()
    before_ids = {
        r["vec_id"] for r in read_ivfpq_rows(spark, d).collect()
    }
    cap = -(-n // 8)
    split = rebalance_ivfpq_index(spark, d, row_store=vecs, max_list_size=cap)
    assert split > 0
    after = read_ivfpq_rows(spark, d)
    assert {r["vec_id"] for r in after.collect()} == before_ids
    sizes = [
        int(r["n"])
        for r in after.groupBy("list_id").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes) <= cap and sum(sizes) == n
    # moved rows' codes re-encode against their ASSIGNED pivot (the
    # split keeps members within the old list's sub-pivots, so the
    # global nearest-pivot may differ — q193's contract is membership,
    # not re-assignment)
    _assert_codes_are_residual_l2_argmin(spark, vecs, d)


def _assert_codes_are_residual_l2_argmin(spark, vecs, d):
    """Every stored row's codes == the L2-argmin of (vec -
    pivot[list_id]) per subspace under the engine's (dist asc, code
    asc) tie-break, recomputed row by row in numpy."""
    import os

    import numpy as np

    from etlhelper_spark.functions.pq import load_pq_codebooks

    books = load_pq_codebooks(spark, d)
    sd = len(books[0][0][1])
    piv = {
        r["list_id"]: np.array(r["pivot"], dtype=np.float64)
        for r in spark.read.parquet(os.path.join(d, "_pivots")).collect()
    }
    V = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in vecs.collect()
    }
    for r in read_ivfpq_rows(spark, d).collect():
        res = V[r["vec_id"]] - piv[r["list_id"]]
        for j in sorted(books):
            sub = res[j * sd : (j + 1) * sd]
            dists = [
                (float(((sub - np.array(c)) ** 2).sum()), code)
                for code, c in books[j]
            ]
            assert min(dists)[1] == r["codes"][j]


def test_rebalance_reencodes_on_the_frozen_arrow_path(
    spark, vecs, tmp_path, monkeypatch
):
    """A residual index built with ``arrow=True`` re-encodes its moved
    rows through the batched L2 kernel, as build and append do (the
    ``_meta`` arrow decision is part of the frozen contract), and the
    codes are still the numpy L2-argmin against the new pivots."""
    from etlhelper_spark.functions import similarity
    from etlhelper_spark.functions.ivfpq import (
        compact_ivfpq_ingest,
        rebalance_ivfpq_index,
    )

    d = str(tmp_path / "aidx")
    build_ivfpq_index(
        vecs, d, nlist=4, m_sub=4, k_codes=8, residual=True, arrow=True
    )
    compact_ivfpq_ingest(spark, d, watermark=0)
    kernel_calls = []
    batched = similarity.nearest_pivot_l2_batched

    def spy(pivot_rows):
        kernel_calls.append(len(pivot_rows))
        return batched(pivot_rows)

    monkeypatch.setattr(similarity, "nearest_pivot_l2_batched", spy)
    n = read_ivfpq_rows(spark, d).count()
    split = rebalance_ivfpq_index(
        spark, d, row_store=vecs, max_list_size=-(-n // 8)
    )
    assert split > 0
    # one kernel per subspace per pass that moved rows
    assert kernel_calls and len(kernel_calls) % 4 == 0
    monkeypatch.undo()
    _assert_codes_are_residual_l2_argmin(spark, vecs, d)


def test_ivf_and_ivfpq_rebalance_split_identically(spark, vecs, tmp_path):
    """The two rebalances share one splitter: over the same vectors,
    an IVF index and a raw-mode IVFPQ index with the same nlist start
    from the same lists, so the same cap splits the same lists into
    the same new pivots with the same members in each new list."""
    import os

    from etlhelper_spark.functions.ann_index import (
        build_ivf_index,
        rebalance_ivf_index,
    )
    from etlhelper_spark.functions.ivfpq import (
        compact_ivfpq_ingest,
        rebalance_ivfpq_index,
    )
    from etlhelper_spark.functions.util import load_pivot_rows

    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    n, _ = build_ivf_index(vecs, ivf, nlist=4)
    build_ivfpq_index(vecs, pq, nlist=4, m_sub=4, k_codes=8)
    compact_ivfpq_ingest(spark, pq, watermark=0)

    def lists(frame):
        out = {}
        for r in frame.select("list_id", "vec_id").collect():
            out.setdefault(int(r["list_id"]), set()).add(int(r["vec_id"]))
        return out

    assert lists(spark.read.parquet(ivf)) == lists(read_ivfpq_rows(spark, pq))
    cap = -(-n // 6)
    split = rebalance_ivf_index(spark, ivf, max_list_size=cap, max_rounds=4)
    assert split > 0
    assert split == rebalance_ivfpq_index(
        spark, pq, row_store=vecs, max_list_size=cap, max_rounds=4
    )
    assert load_pivot_rows(os.path.join(ivf, "_pivots")) == load_pivot_rows(
        os.path.join(pq, "_pivots")
    )
    members = lists(spark.read.parquet(ivf))
    assert members == lists(read_ivfpq_rows(spark, pq))
    assert max(len(m) for m in members.values()) <= cap


def test_dynamic_overwrite_never_touches_the_session_conf(
    spark, vecs, tmp_path, monkeypatch
):
    """An IVFPQ append and an IVFPQ erase take dynamic partition
    overwrite as a per-write option: neither sets the session-wide
    ``partitionOverwriteMode`` (a set-and-restore there races with
    other threads on the session), and both still overwrite only the
    partitions they write."""
    from pyspark.sql.conf import RuntimeConfig

    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index

    d = str(tmp_path / "idx")
    b0 = vecs.where(F.col("vec_id") % 2 == 0)
    b1 = vecs.where(F.col("vec_id") % 2 == 1)
    build_ivfpq_index(b0, d, nlist=4, m_sub=4, k_codes=8)
    keys = []
    conf_set = RuntimeConfig.set

    def spy(self, key, value):
        keys.append(key)
        return conf_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    assert append_ivfpq_index(b1, d, batch_id=1) == b1.count()
    assert forget_from_ivfpq_index(spark, d, [0, 1]) == 2
    assert "spark.sql.sources.partitionOverwriteMode" not in keys
    ids = {r["vec_id"] for r in read_ivfpq_rows(spark, d).collect()}
    assert ids == {r["vec_id"] for r in vecs.collect()} - {0, 1}


def test_compacted_probe_still_prunes_partitions(spark, vecs, versioned_index):
    """After the fold, the probe's literal IN-filter must prune the
    COMPACTED BASE's list directories exactly as it pruned cells."""
    from etlhelper_spark.functions.ivfpq import (
        compact_ivfpq_ingest,
        query_ivfpq_index,
    )

    compact_ivfpq_ingest(spark, versioned_index, watermark=2)
    q = vecs.where(F.col("vec_id") < 2)
    out = query_ivfpq_index(spark, versioned_index, q, k=3, nprobe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert scan_lines
    assert any(
        "list_id" in ln and "IN" in ln.upper() for ln in scan_lines
    )


def test_index_without_meta_sidecar_raises(spark, vecs, tmp_path):
    """build_ivfpq_index always writes the ``_meta`` sidecar, so a
    built index without one is corrupt: operators raise instead of
    inferring the layout. A path with no index erases nothing."""
    import os

    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index

    d = str(tmp_path / "idx")
    build_ivfpq_index(vecs, d, nlist=4, m_sub=4, k_codes=8, iterations=2)
    shutil.rmtree(os.path.join(d, "_meta"))
    with pytest.raises(ValueError, match="_meta"):
        append_ivfpq_index(vecs.limit(5), d, batch_id=1)
    with pytest.raises(ValueError, match="_meta"):
        forget_from_ivfpq_index(spark, d, [1])
    assert forget_from_ivfpq_index(spark, str(tmp_path / "none"), [1]) == 0


def test_effective_list_sizes_match_read_rows(spark, vecs, versioned_index):
    """The footer-read per-list sizes rebalance decides hot lists from
    equal read_ivfpq_rows' per-list counts on the hardest view: a
    compacted base, live cells above the watermark, and leftover
    folded cells at or below it (a crash between the ``_COMPACTED``
    marker and sweep_cells)."""
    import os
    import shutil as sh

    from etlhelper_spark.functions.ivfpq import (
        _effective_list_sizes,
        compact_ivfpq_ingest,
    )

    snap = tempfile.mkdtemp(prefix="ehs_snap_")
    try:
        sh.copytree(versioned_index, snap, dirs_exist_ok=True)
        compact_ivfpq_ingest(spark, versioned_index, watermark=1)
        for p in os.listdir(snap):
            if p.startswith("list_id="):
                sh.copytree(
                    os.path.join(snap, p),
                    os.path.join(versioned_index, p),
                    dirs_exist_ok=True,
                )
    finally:
        sh.rmtree(snap, ignore_errors=True)
    batches = {
        int(c.split("=")[1])
        for p in os.listdir(versioned_index)
        if p.startswith("list_id=")
        for c in os.listdir(os.path.join(versioned_index, p))
    }
    assert batches == {0, 1, 2}  # folded leftovers next to live cells
    want = {
        int(r["list_id"]): int(r["count"])
        for r in read_ivfpq_rows(spark, versioned_index)
        .groupBy("list_id")
        .count()
        .collect()
    }
    assert _effective_list_sizes(versioned_index) == want
    assert sum(want.values()) == vecs.count()


def test_plain_layout_meta_is_refused_before_any_write(
    spark, vecs, versioned_index
):
    """A ``_meta`` sidecar with ``versioned_ingest=False`` marks a
    plain-layout index from an earlier version: append, compaction and
    erasure each raise the rebuild error, and none writes first."""
    import os

    import pyarrow as pa

    from etlhelper_spark.functions.ivfpq import compact_ivfpq_ingest
    from etlhelper_spark.functions.util import (
        read_sidecar_table,
        write_sidecar_table,
    )
    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index

    meta_dir = os.path.join(versioned_index, "_meta")
    tbl = read_sidecar_table(meta_dir)
    write_sidecar_table(
        meta_dir,
        tbl.append_column(
            "versioned_ingest", pa.array([False], pa.bool_())
        ),
    )

    def tree():
        return sorted(
            (os.path.relpath(os.path.join(r, f), versioned_index),
             os.stat(os.path.join(r, f)).st_mtime_ns)
            for r, _ds, fs in os.walk(versioned_index)
            for f in fs
        )

    before = tree()
    calls = [
        lambda: append_ivfpq_index(vecs.limit(5), versioned_index,
                                   batch_id=3),
        lambda: compact_ivfpq_ingest(spark, versioned_index, watermark=2),
        lambda: forget_from_ivfpq_index(spark, versioned_index, [0, 1]),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="plain-layout.*rebuild it"):
            call()
        assert tree() == before


def test_meta_without_attr_cols_is_refused_before_any_write(
    spark, vecs, versioned_index
):
    """A ``_meta`` sidecar without ``attr_cols`` comes from an earlier
    version that kept the covering attributes only in the data files'
    schema: append, compaction and erasure each raise the rebuild
    error, and none writes first."""
    import os

    from etlhelper_spark.functions.ivfpq import compact_ivfpq_ingest
    from etlhelper_spark.functions.util import (
        read_sidecar_table,
        write_sidecar_table,
    )
    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index

    meta_dir = os.path.join(versioned_index, "_meta")
    meta = read_sidecar_table(meta_dir)
    write_sidecar_table(meta_dir, meta.drop_columns(["attr_cols"]))

    def tree():
        return sorted(
            (os.path.relpath(os.path.join(r, f), versioned_index),
             os.stat(os.path.join(r, f)).st_mtime_ns)
            for r, _ds, fs in os.walk(versioned_index)
            for f in fs
        )

    before = tree()
    calls = [
        lambda: append_ivfpq_index(vecs.limit(5), versioned_index,
                                   batch_id=3),
        lambda: compact_ivfpq_ingest(spark, versioned_index, watermark=2),
        lambda: forget_from_ivfpq_index(spark, versioned_index, [0, 1]),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="without attr_cols.*rebuild it"):
            call()
        assert tree() == before
