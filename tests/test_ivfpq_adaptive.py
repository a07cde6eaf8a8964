"""Covering-attribute IVFPQ + adaptive probe widening
(functions/ivfpq.py::query_ivfpq_index_adaptive — VERDICT r8 #3):
attrs survive build/append/compact, attr_filter applies in-plan, the
widening loop is exact-count driven, and full coverage equals the
fixed full-width filtered probe."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etlhelper_spark.functions.ivfpq import (
    append_ivfpq_index,
    build_ivfpq_index,
    compact_ivfpq_ingest,
    query_ivfpq_index,
    query_ivfpq_index_adaptive,
    read_ivfpq_rows,
    rebalance_ivfpq_index,
)

SF = "/root/testdata/sf0.001"
NLIST = 8


@pytest.fixture(scope="module")
def vecs(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            "embedding",
            F.pmod("vec_id", F.lit(10)).alias("cat"),
        )
        .cache()
    )


@pytest.fixture(scope="module")
def covering_index(spark, vecs):
    """Versioned covering index exercising the full lifecycle the
    verdict asked for: build (batch 0) -> append (batch 1) ->
    compact -> probe."""
    d = tempfile.mkdtemp(prefix="ehs_ivfpq_cov_")
    build_ivfpq_index(
        vecs.where(F.col("vec_id") % 3 != 2),
        d,
        nlist=NLIST,
        m_sub=4,
        k_codes=8,
        attr_cols=["cat"],
    )
    appended = append_ivfpq_index(
        vecs.where(F.col("vec_id") % 3 == 2), d, batch_id=1
    )
    assert appended == vecs.where(F.col("vec_id") % 3 == 2).count()
    folded = compact_ivfpq_ingest(spark, d, 1)
    assert folded > 0
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_attrs_survive_lifecycle(spark, vecs, covering_index):
    rows = read_ivfpq_rows(spark, covering_index)
    assert set(rows.columns) == {"vec_id", "list_id", "codes", "cat"}
    assert rows.count() == vecs.count()
    # the stored attribute values are the corpus's own, row-for-row
    mismatch = (
        rows.select("vec_id", "cat")
        .join(vecs.select("vec_id", F.col("cat").alias("c2")), "vec_id")
        .where(F.col("cat") != F.col("c2"))
        .count()
    )
    assert mismatch == 0


def test_attr_filter_applies_in_plan(spark, vecs, covering_index):
    q = vecs.where(F.col("vec_id") % 40 == 15).select("vec_id", "embedding")
    out = query_ivfpq_index(
        spark, covering_index, q, k=5, nprobe=NLIST,
        attr_filter=F.col("cat") == 3,
    )
    neigh = [r["neighbor_id"] for r in out.collect()]
    assert neigh and all(n % 10 == 3 for n in neigh)


def test_adaptive_widens_only_deficient_queries(spark, vecs, covering_index):
    q = vecs.where(F.col("vec_id") % 40 == 15).select("vec_id", "embedding")
    # selective filter (1/10 of rows): nprobe0=1 cannot fill a 5x4
    # shortlist from one list on this corpus, so the loop must widen
    out = query_ivfpq_index_adaptive(
        spark, covering_index, q, k=5, nprobe0=1,
        attr_filter=F.col("cat") == 3, oversample=4,
    ).cache()
    per_q = {
        r["query_id"]: (r["nprobe_used"], r["n_iters"])
        for r in out.select(
            "query_id", "nprobe_used", "n_iters"
        ).distinct().collect()
    }
    assert per_q, "no results"
    assert max(i for _, i in per_q.values()) >= 2, "loop never widened"
    # doubling schedule from nprobe0=1: nprobe_used = min(2^(it-1), nlist)
    for np_used, iters in per_q.values():
        assert np_used == min(2 ** (iters - 1), NLIST)
    assert out.where(F.col("rank") > 5).count() == 0
    out.unpersist()


def test_adaptive_full_coverage_equals_fixed_full_probe(
    spark, vecs, covering_index
):
    """A filter so selective the loop must reach nprobe=nlist — where
    the result must equal the fixed full-width filtered probe
    (recall 1.0 by construction)."""
    q = vecs.where(F.col("vec_id") % 40 == 15).select("vec_id", "embedding")
    flt = (F.col("cat") == 3) & (F.col("vec_id") % 3 == 0)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in query_ivfpq_index_adaptive(
            spark, covering_index, q, k=5, nprobe0=1,
            attr_filter=flt, oversample=8,
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in query_ivfpq_index(
            spark, covering_index, q, k=5, nprobe=NLIST, attr_filter=flt
        ).collect()
    }
    assert got == exact


def test_adaptive_delta_rounds_match_full_probe_at_stop_width(
    spark, vecs, covering_index
):
    """Widening rounds are DELTA probes (only the newly added lists
    are scanned; the previous round's shortlist supplies the rest).
    The load-bearing equivalence: every query's adaptive rows must be
    IDENTICAL — neighbor set, ranks, adc_sim values — to a fixed
    full-width probe at the nprobe it stopped at, which is exactly
    what each round computed before the delta restructure."""
    q = vecs.where(F.col("vec_id") % 40 == 15).select("vec_id", "embedding")
    flt = F.col("cat") == 3
    out = query_ivfpq_index_adaptive(
        spark, covering_index, q, k=5, nprobe0=1,
        attr_filter=flt, oversample=4,
    ).cache()
    per_q = {
        r["query_id"]: r["nprobe_used"]
        for r in out.select("query_id", "nprobe_used").distinct().collect()
    }
    # the loop must have widened (delta rounds actually ran), and at
    # least one query must have widened TWICE (a merge whose base is
    # itself a merged round)
    assert max(per_q.values()) >= 4, per_q
    for np_used in sorted(set(per_q.values())):
        ids = [qid for qid, w in per_q.items() if w == np_used]
        fixed = query_ivfpq_index(
            spark, covering_index,
            q.where(F.col("vec_id").isin(ids)),
            k=5, nprobe=np_used, attr_filter=flt,
        )
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["adc_sim"])
            for r in out.where(F.col("query_id").isin(ids))
            .select("query_id", "neighbor_id", "rank", "adc_sim")
            .collect()
        }
        want = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["adc_sim"])
            for r in fixed.collect()
        }
        assert got == want, f"nprobe_used={np_used}"
    out.unpersist()


def test_adaptive_refine_carries_observability(spark, vecs, covering_index):
    q = vecs.where(F.col("vec_id") % 40 == 15).select("vec_id", "embedding")
    out = query_ivfpq_index_adaptive(
        spark, covering_index, q, k=3, nprobe0=2,
        attr_filter=F.col("cat") == 3, oversample=4,
        refine=vecs.select("vec_id", "embedding"),
    )
    assert set(out.columns) == {
        "query_id", "neighbor_id", "rank", "sim", "nprobe_used", "n_iters"
    }
    rows = out.collect()
    assert rows and all(r["rank"] <= 3 for r in rows)
    assert all(r["neighbor_id"] % 10 == 3 for r in rows)


def test_covering_filter_pushes_into_pruned_scan(spark, vecs, covering_index):
    """The covering index's point: the attribute predicate reaches the
    partition-pruned parquet scan (PushedFilters), and the probe's
    literal IN-filter prunes list directories (PartitionFilters) —
    filtered ANN without a row-store join."""
    q = vecs.where(F.col("vec_id") % 40 == 15).select("vec_id", "embedding")
    df = query_ivfpq_index(
        spark, covering_index, q, k=5, nprobe=2,
        attr_filter=F.col("cat") == 3,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [
        seg for seg in plan.split("FileScan") if "PushedFilters" in seg
    ]
    assert scan, plan
    pushed = scan[0].split("PushedFilters:")[1].split("\n")[0]
    assert "cat" in pushed, pushed
    part = scan[0].split("PartitionFilters:")[1].split("\n")[0]
    assert "list_id" in part, part


def test_rebalance_rejects_covering_index(spark, vecs, covering_index):
    with pytest.raises(ValueError, match="covering"):
        rebalance_ivfpq_index(
            spark, covering_index,
            row_store=vecs.select("vec_id", "embedding"),
            max_list_size=10,
        )


def test_plain_index_has_no_attrs_and_adaptive_works_unfiltered(spark, vecs):
    d = tempfile.mkdtemp(prefix="ehs_ivfpq_plain_")
    try:
        build_ivfpq_index(
            vecs.select("vec_id", "embedding"), d,
            nlist=NLIST, m_sub=4, k_codes=8,
        )
        rows = read_ivfpq_rows(spark, d)
        assert set(rows.columns) == {"vec_id", "list_id", "codes"}
        q = vecs.where(F.col("vec_id") % 50 == 7).select(
            "vec_id", "embedding"
        )
        out = query_ivfpq_index_adaptive(
            spark, d, q, k=5, nprobe0=2, oversample=2
        )
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in out.where(F.col("n_iters") == 1).collect()
        }
        # unfiltered, satisfied-at-first-round queries match the fixed
        # probe at the same width exactly
        fixed = query_ivfpq_index(spark, d, q, k=5, nprobe=2)
        fx = {
            (r["query_id"], r["neighbor_id"]) for r in fixed.collect()
        }
        assert got and got <= fx
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fully_erased_covering_index_takes_appends(spark, vecs, tmp_path):
    """A covering index whose compacted base lost every row to erasure
    still takes appends: the attribute columns come from ``_meta``, not
    from a data file that is no longer there. Attr-less rows are still
    refused."""
    from etlhelper_spark.operators.erasure import forget_from_ivfpq_index

    d = str(tmp_path / "idx")
    even = vecs.where(F.col("vec_id") % 2 == 0)
    odd = vecs.where(F.col("vec_id") % 2 == 1)
    build_ivfpq_index(
        even, d, nlist=NLIST, m_sub=4, k_codes=8, attr_cols=["cat"]
    )
    compact_ivfpq_ingest(spark, d, watermark=0)
    ids = [r["vec_id"] for r in even.select("vec_id").collect()]
    assert forget_from_ivfpq_index(spark, d, ids) == len(ids)

    assert append_ivfpq_index(odd, d, batch_id=1) == odd.count()
    want = {(r["vec_id"], r["cat"]) for r in odd.collect()}
    rows = read_ivfpq_rows(spark, d)
    assert {(r["vec_id"], r["cat"]) for r in rows.collect()} == want
    assert compact_ivfpq_ingest(spark, d, watermark=1) > 0
    rows = read_ivfpq_rows(spark, d)
    assert {(r["vec_id"], r["cat"]) for r in rows.collect()} == want
    with pytest.raises(Exception, match="cat"):
        append_ivfpq_index(odd.drop("cat"), d, batch_id=2)
