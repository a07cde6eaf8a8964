"""Persistent IVF index: build-once/probe-many with partition pruning.

The probe path must (a) return exactly what the inline ivf_topk
computes with the same parameters, and (b) show the probed-list
IN-filter as a PartitionFilter on the index scan — the property that
makes the layout read ~nprobe/nlist of the corpus at any scale."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etlhelper_spark.functions.ann_index import build_ivf_index, query_ivf_index
from etlhelper_spark.functions.similarity import ivf_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vecs(spark):
    from etlhelper_spark.sources import read_parquet_table

    return read_parquet_table(spark, f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def index_dir(spark, vecs):
    d = tempfile.mkdtemp(prefix="ehs_ivf_")
    n, nlist = build_ivf_index(vecs, d, nlist=8)
    assert n == vecs.count()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_persisted_probe_equals_inline_ivf(spark, vecs, index_dir):
    q = vecs.where(F.col("vec_id") < 5)
    inline = ivf_topk(q, vecs, k=3, nlist=8, nprobe=3)
    persisted = query_ivf_index(spark, index_dir, q, k=3, nprobe=3)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_probe_scan_prunes_partitions(spark, vecs, index_dir):
    q = vecs.where(F.col("vec_id") < 2)
    out = query_ivf_index(spark, index_dir, q, k=3, nprobe=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry the probed-list filter as a partition
    # filter (pruning directories), not a post-scan data filter
    assert "PartitionFilters" in plan
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any("list_id" in ln and "IN" in ln.upper() for ln in scan_lines)


def test_assignment_plans_are_shuffle_free(spark, vecs):
    """Corpus-side nearest-pivot/centroid assignment must be a pure
    codegen projection: no Exchange, no Window, no join expansion.
    (The old broadcast-join + row_number form shuffled an
    nlist×-expanded corpus per build / Lloyd iteration.)"""
    from etlhelper_spark.functions.clustering import kmeans_assignments
    from etlhelper_spark.functions.similarity import (
        collect_pivot_rows,
        nearest_pivot,
    )

    pivot_rows = collect_pivot_rows(
        vecs.orderBy("vec_id").limit(8), "vec_id", "embedding"
    )
    assigned = vecs.select(
        "vec_id",
        nearest_pivot(F.col("embedding"), pivot_rows)["pid"].alias("list_id"),
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan

    km = kmeans_assignments(vecs, "vec_id", "embedding", k=4, iterations=2)
    plan = km._jdf.queryExecution().executedPlan().toString()
    # the final assignment pass: scan + project only (the recompute
    # aggregates ran eagerly while building the literal centroids)
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_index_roundtrips_all_lists(spark, vecs, index_dir):
    idx = spark.read.parquet(index_dir)
    assert idx.count() == vecs.count()
    assert idx.select("list_id").distinct().count() <= 8
    # every vector assigned exactly once
    assert idx.select("vec_id").distinct().count() == vecs.count()


def test_appended_index_probes_identically_to_full_build(spark, vecs):
    """build(batch1) + append(batch2) must be probe-equivalent
    row-for-row to build(batch1 ∪ batch2): assignment depends only on
    the frozen pivots, and batch1 (the low-id half) contains the nlist
    lowest ids, so both indexes share pivots. Also pins that the
    append lands inside the existing list_id partition dirs (pruning
    still works) and that totals add up."""
    from etlhelper_spark.functions.ann_index import append_ivf_index

    half = vecs.count() // 2
    b1 = vecs.where(F.col("vec_id") < half)
    b2 = vecs.where(F.col("vec_id") >= half)
    inc_dir = tempfile.mkdtemp(prefix="ehs_ivf_inc_")
    full_dir = tempfile.mkdtemp(prefix="ehs_ivf_full_")
    try:
        build_ivf_index(b1, inc_dir, nlist=8)
        n_appended = append_ivf_index(b2, inc_dir)
        assert n_appended == b2.count()
        build_ivf_index(vecs, full_dir, nlist=8)
        inc = spark.read.parquet(inc_dir)
        full = spark.read.parquet(full_dir)
        assert sorted(
            (r["vec_id"], r["list_id"]) for r in inc.collect()
        ) == sorted((r["vec_id"], r["list_id"]) for r in full.collect())
        q = vecs.where(F.col("vec_id") % 40 == 7)
        p_inc = query_ivf_index(spark, inc_dir, q, k=3, nprobe=3)
        p_full = query_ivf_index(spark, full_dir, q, k=3, nprobe=3)
        assert sorted(map(tuple, p_inc.collect())) == sorted(
            map(tuple, p_full.collect())
        )
    finally:
        shutil.rmtree(inc_dir, ignore_errors=True)
        shutil.rmtree(full_dir, ignore_errors=True)


def test_zero_vector_cosine_matches_duckdb(spark):
    """A zero vector yields cosine -1.0 (DuckDB's behavior for
    list_cosine_similarity) instead of an ANSI divide-by-zero error,
    so degenerate rows lose every argmax/top-k on BOTH engines."""
    from pyspark.sql import functions as F

    from etlhelper_spark.functions.similarity import (
        cosine_similarity,
        nearest_pivot,
    )

    df = spark.createDataFrame([([0.5, 0.5],)], "embedding array<double>")
    sim = df.select(
        cosine_similarity(
            F.col("embedding"), F.array(F.lit(0.0), F.lit(0.0))
        ).alias("s")
    ).first()["s"]
    assert sim == -1.0
    pivots = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]
    row = df.select(
        nearest_pivot(F.col("embedding"), pivots).alias("p")
    ).first()
    assert row["p"]["pid"] == 1  # zero pivot loses, real pivot wins


def test_rebalance_splits_hot_lists_and_preserves_membership(spark, vecs):
    """Hot-list splitting: every oversized list shrinks under the cap,
    membership is exactly preserved (no loss, no duplication), cold
    lists are untouched on disk, and probes keep working against the
    rewritten pivot set."""
    import os

    from etlhelper_spark.functions.ann_index import rebalance_ivf_index

    d = tempfile.mkdtemp(prefix="ehs_ivf_rb_")
    try:
        n, _ = build_ivf_index(vecs, d, nlist=4)
        cap = -(-n // 6)
        pre = {
            int(r["list_id"]): int(r["n"])
            for r in spark.read.parquet(d)
            .groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert max(pre.values()) > cap  # the fixture really is hot
        split = rebalance_ivf_index(spark, d, max_list_size=cap)
        assert split >= len([s for s in pre.values() if s > cap])
        post = {
            int(r["list_id"]): int(r["n"])
            for r in spark.read.parquet(d)
            .groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert max(post.values()) <= cap
        assert sum(post.values()) == n
        ids = spark.read.parquet(d).select("vec_id")
        assert ids.distinct().count() == n
        # split lists' dirs are gone; every surviving dir has a pivot
        pivots = {
            int(r["list_id"])
            for r in spark.read.parquet(os.path.join(d, "_pivots")).collect()
        }
        assert pivots == set(post)
        # probe still returns k neighbors per query
        out = query_ivf_index(
            spark, d, vecs.where("vec_id < 5"), k=3, nprobe=3
        )
        per_q = out.groupBy("query_id").count().collect()
        assert len(per_q) == 5 and all(r["count"] == 3 for r in per_q)
        # idempotent once balanced
        assert rebalance_ivf_index(spark, d, max_list_size=cap) == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rebalance_keeps_covering_attributes(spark, vecs, tmp_path):
    """Rows a rebalance moves keep a covering index's attribute
    columns, so filtered search still works after the split."""
    from etlhelper_spark.functions.ann_index import rebalance_ivf_index

    d = str(tmp_path / "cov")
    corpus = vecs.withColumn("cat", (F.col("vec_id") % 5).cast("int"))
    n, _ = build_ivf_index(corpus, d, nlist=4, attr_cols=["cat"])
    assert rebalance_ivf_index(spark, d, max_list_size=-(-n // 6)) > 0
    got = spark.read.parquet(d).select("vec_id", "cat").collect()
    assert sorted(map(tuple, got)) == sorted(
        map(tuple, corpus.select("vec_id", "cat").collect())
    )
    out = query_ivf_index(
        spark, d, vecs.where("vec_id < 5"), k=3, nprobe=8,
        attr_filter="cat = 1",
    ).collect()
    assert out and all(r["neighbor_id"] % 5 == 1 for r in out)


def test_rebalance_leaves_degenerate_identical_lists(spark):
    """A hot list of bit-identical vectors cannot split (one k-means
    cell) — it must stay in place, not loop forever, not lose rows."""
    from etlhelper_spark.functions.ann_index import rebalance_ivf_index

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(100)] + [
        (1000 + i, [float(i % 7 + 1), 1.0, float(i % 3), 2.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    d = tempfile.mkdtemp(prefix="ehs_ivf_degen_")
    try:
        n, _ = build_ivf_index(df, d, nlist=2)
        split = rebalance_ivf_index(spark, d, max_list_size=30)
        post = spark.read.parquet(d)
        assert post.count() == n == 140
        sizes = sorted(
            int(r["n"]) for r in post.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        )
        # the identical-vector list (>= 100 members) survives oversized
        assert sizes[-1] >= 100 and split >= 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_filtered_search_pushes_attr_filter_into_scan(spark, vecs):
    """Covering-index filtered search: the attribute predicate must
    reach the parquet reader of the pruned scan (PushedFilters), and
    results must equal post-filtering an unfiltered probe of the same
    lists."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="ehs_ivf_attr_")
    try:
        corpus = vecs.select(
            "vec_id", "embedding", F.pmod("vec_id", F.lit(3)).alias("cat")
        )
        build_ivf_index(corpus, d, nlist=8, attr_cols=["cat"])
        q = corpus.where(F.col("vec_id") < 3)
        out = query_ivf_index(
            spark, d, q, k=4, nprobe=3, attr_filter=F.col("cat") == 1
        )
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        scan_lines = [
            ln for ln in plan.splitlines() if "PushedFilters" in ln
        ]
        assert any("cat" in ln for ln in scan_lines)
        # equivalence: unfiltered probe of the same lists, then filter
        cats = {
            r["vec_id"]: r["cat"] for r in corpus.collect()
        }
        unfiltered = query_ivf_index(spark, d, q, k=10_000, nprobe=3)
        want = {}
        for r in unfiltered.collect():
            if cats[r["neighbor_id"]] == 1:
                want.setdefault(r["query_id"], []).append(
                    (r["neighbor_id"], r["sim"])
                )
        for qid in want:
            want[qid] = [
                nb
                for nb, _s in sorted(
                    want[qid], key=lambda t: (-t[1], t[0])
                )[:4]
            ]
        got = {}
        for r in sorted(
            rows, key=lambda r: (r["query_id"], r["rank"])
        ):
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert got == want
        # append discovers the covering columns from the stored schema
        extra = corpus.where(F.col("vec_id") >= 90).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            "embedding",
            "cat",
        )
        from etlhelper_spark.functions.ann_index import append_ivf_index

        n = append_ivf_index(extra, d)
        assert n == extra.count()
        idx = spark.read.parquet(d)
        assert "cat" in idx.columns and idx.where(
            F.col("vec_id") >= 100000
        ).count() == n
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------- adaptive nprobe
def test_adaptive_probe_widens_and_matches_exact(spark, tmp_path):
    """Selective filter: queries widen until the shortlist fills (or
    every list is probed, where results equal the exact filtered
    search); permissive filter: nobody widens past round 1."""
    from etlhelper_spark.functions.ann_index import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_adaptive,
    )
    from etlhelper_spark.functions.similarity import brute_force_topk

    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", "embedding", F.pmod("vec_id", F.lit(25)).alias("cat")
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(vecs, idx, nlist=8, attr_cols=["cat"])
    q = vecs.where("vec_id % 10 = 3")
    out = query_ivf_index_adaptive(
        spark, idx, q, k=5, nprobe0=1, attr_filter=F.col("cat") == 3
    )
    rows = out.collect()
    assert max(r["n_iters"] for r in rows) >= 2  # the loop engaged
    # queries that widened to ALL lists must equal exact filtered search
    full = {r["query_id"] for r in rows if r["nprobe_used"] == 8}
    if full:
        bf = brute_force_topk(
            q.where(F.col("vec_id").isin(list(full))),
            vecs.where("cat = 3"),
            k=5,
        )
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in rows
            if r["query_id"] in full
        }
        want = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
        assert want <= got
    # permissive filter: one round for everyone
    out2 = query_ivf_index_adaptive(
        spark, idx, q, k=5, nprobe0=8, attr_filter=F.col("cat").isNotNull()
    )
    assert {r["n_iters"] for r in out2.collect()} == {1}


def test_adaptive_delta_rounds_match_full_probe_at_stop_width(
    spark, tmp_path
):
    """Float-path twin of the ivfpq delta-equivalence test: each
    query's adaptive rows — neighbors, ranks, AND 4dp sims — must
    equal the fixed probe at its stopping width, which is what every
    widening round recomputed in full before the delta restructure."""
    from etlhelper_spark.functions.ann_index import (
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_adaptive,
    )

    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", "embedding", F.pmod("vec_id", F.lit(25)).alias("cat")
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(vecs, idx, nlist=8, attr_cols=["cat"])
    q = vecs.where("vec_id % 10 = 3")
    flt = F.col("cat") == 3
    out = query_ivf_index_adaptive(
        spark, idx, q, k=5, nprobe0=1, attr_filter=flt
    ).cache()
    per_q = {
        r["query_id"]: r["nprobe_used"]
        for r in out.select("query_id", "nprobe_used").distinct().collect()
    }
    assert max(per_q.values()) >= 4, per_q  # chained delta merges ran
    for np_used in sorted(set(per_q.values())):
        ids = [qid for qid, w in per_q.items() if w == np_used]
        fixed = query_ivf_index(
            spark, idx, q.where(F.col("vec_id").isin(ids)),
            k=5, nprobe=np_used, attr_filter=flt,
        )
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["sim"])
            for r in out.where(F.col("query_id").isin(ids))
            .select("query_id", "neighbor_id", "rank", "sim")
            .collect()
        }
        want = {
            (r["query_id"], r["neighbor_id"], r["rank"], r["sim"])
            for r in fixed.collect()
        }
        assert got == want, f"nprobe_used={np_used}"
    out.unpersist()


def test_adaptive_probe_unfillable_query_stops_at_nlist(spark, tmp_path):
    """A filter with fewer than k matches corpus-wide can never fill
    the shortlist — the loop must stop at nprobe=nlist and return what
    exists, not spin."""
    from etlhelper_spark.functions.ann_index import (
        build_ivf_index,
        query_ivf_index_adaptive,
    )

    vecs = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select(
        "vec_id", "embedding", F.pmod("vec_id", F.lit(100)).alias("cat")
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(vecs, idx, nlist=8, attr_cols=["cat"])
    q = vecs.where("vec_id = 3")
    # cat == 3: exactly ceil(100/100) == 1 corpus row (vec 3 itself,
    # excluded as self) at sf0.001's 100 vectors -> 0 candidates
    out = query_ivf_index_adaptive(
        spark, idx, q, k=5, nprobe0=2, attr_filter=F.col("cat") == 3
    )
    rows = out.collect()
    assert rows == [] or all(r["nprobe_used"] == 8 for r in rows)
